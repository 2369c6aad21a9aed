package graft.core

import org.scalatest.funsuite.AnyFunSuite

class OverlaySpec extends AnyFunSuite {
  private def g(w: String) = Wkt.read(w)

  test("difference with contained subtrahend produces shell + hole") {
    val a = g("POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))")
    val b = g("POLYGON ((5 5, 10 5, 10 10, 5 10, 5 5))")
    val d = Overlay.difference(a, b)
    val rel = Math.abs(S2Measure.areaMeters2(d) -
      (S2Measure.areaMeters2(a) - S2Measure.areaMeters2(b))) / S2Measure.areaMeters2(a)
    assert(rel < 1e-12)
    val sd = new GeoShapes(d)
    assert(sd.polygonContains(S2Point.fromLatLngDegrees(15, 15)))
    assert(!sd.polygonContains(S2Point.fromLatLngDegrees(7, 7)))
  }

  test("overlapping squares: intersection/difference/union area algebra") {
    val a = g("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    val b = g("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")
    val aA = S2Measure.areaMeters2(a); val aB = S2Measure.areaMeters2(b)
    val aI = S2Measure.areaMeters2(Overlay.intersection(a, b))
    val aD = S2Measure.areaMeters2(Overlay.difference(a, b))
    val aU = S2Measure.areaMeters2(Overlay.union(a, b))
    assert(Math.abs(aI + aD - aA) / aA < 1e-9)
    assert(Math.abs(aU - (aA + aB - aI)) / aA < 1e-9)
    val si = new GeoShapes(Overlay.intersection(a, b))
    assert(si.polygonContains(S2Point.fromLatLngDegrees(7, 7)))
    assert(!si.polygonContains(S2Point.fromLatLngDegrees(3, 3)))
  }

  test("union of disjoint polygons keeps both") {
    val a = g("POLYGON ((0 0, 5 0, 0 5, 0 0))")
    val b = g("POLYGON ((20 20, 25 20, 20 25, 20 20))")
    val u = Overlay.union(a, b)
    val rel = Math.abs(S2Measure.areaMeters2(u) -
      (S2Measure.areaMeters2(a) + S2Measure.areaMeters2(b))) / S2Measure.areaMeters2(a)
    assert(rel < 1e-12)
  }

  test("union of two overlapping MULTIPOLYGONs is exact (inclusion-exclusion)") {
    val a = g("MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), ((30 30, 40 30, 40 40, 30 40, 30 30)))")
    val b = g("MULTIPOLYGON (((5 5, 15 5, 15 15, 5 15, 5 5)), ((35 35, 45 35, 45 45, 35 45, 35 35)))")
    val aA = S2Measure.areaMeters2(a); val aB = S2Measure.areaMeters2(b)
    val aI = S2Measure.areaMeters2(Overlay.intersection(a, b))
    val aU = S2Measure.areaMeters2(Overlay.union(a, b))
    assert(aI > 0)
    assert(Math.abs(aU - (aA + aB - aI)) / aA < 1e-9,
      s"union area $aU != $aA + $aB - $aI (ring-concat double-counts overlap)")
    val su = new GeoShapes(Overlay.union(a, b))
    assert(su.polygonContains(S2Point.fromLatLngDegrees(7, 7)))   // overlap zone once
    assert(su.polygonContains(S2Point.fromLatLngDegrees(38, 38)))
    assert(su.polygonContains(S2Point.fromLatLngDegrees(14, 14))) // b-only zone
    assert(!su.polygonContains(S2Point.fromLatLngDegrees(20, 20)))
  }

  test("union of hole-bearing polygons is exact") {
    // A: big square with a hole; B: square covering part of A's hole
    val a = g("POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (5 5, 15 5, 15 15, 5 15, 5 5))")
    val b = g("POLYGON ((10 10, 30 10, 30 30, 10 30, 10 10))")
    val aA = S2Measure.areaMeters2(a); val aB = S2Measure.areaMeters2(b)
    val aI = S2Measure.areaMeters2(Overlay.intersection(a, b))
    val u = Overlay.union(a, b)
    val aU = S2Measure.areaMeters2(u)
    assert(aI > 0)
    assert(Math.abs(aU - (aA + aB - aI)) / aA < 1e-9)
    val su = new GeoShapes(u)
    assert(su.polygonContains(S2Point.fromLatLngDegrees(12, 12))) // in A's hole but in B
    assert(!su.polygonContains(S2Point.fromLatLngDegrees(7, 7)))  // hole area outside B
    assert(su.polygonContains(S2Point.fromLatLngDegrees(3, 3)))   // A-only
    assert(su.polygonContains(S2Point.fromLatLngDegrees(25, 25))) // B-only
  }

  test("intersection and difference respect holes in both inputs") {
    val a = g("POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (8 8, 12 8, 12 12, 8 12, 8 8))")
    val b = g("POLYGON ((10 0, 30 0, 30 20, 10 20, 10 0), (14 8, 18 8, 18 12, 14 12, 14 8))")
    val i = new GeoShapes(Overlay.intersection(a, b))
    assert(i.polygonContains(S2Point.fromLatLngDegrees(5, 13)))   // overlap, no holes (lon 13, lat 5)
    assert(!i.polygonContains(S2Point.fromLatLngDegrees(10, 11))) // inside A's hole
    assert(!i.polygonContains(S2Point.fromLatLngDegrees(10, 16))) // inside B's hole
    assert(!i.polygonContains(S2Point.fromLatLngDegrees(10, 5)))  // outside B
    val d = new GeoShapes(Overlay.difference(a, b))
    assert(d.polygonContains(S2Point.fromLatLngDegrees(10, 5)))   // A-only zone
    assert(!d.polygonContains(S2Point.fromLatLngDegrees(5, 13)))  // in B -> removed
    assert(d.polygonContains(S2Point.fromLatLngDegrees(10, 16)))  // in B's hole -> kept
    assert(!d.polygonContains(S2Point.fromLatLngDegrees(10, 11))) // A's own hole
    // area algebra: |A| = |A∩B| + |A\B|
    val aA = S2Measure.areaMeters2(a)
    val rel = Math.abs(S2Measure.areaMeters2(Overlay.intersection(a, b)) +
      S2Measure.areaMeters2(Overlay.difference(a, b)) - aA) / aA
    assert(rel < 1e-9)
  }

  test("area algebra holds over 40 deterministic random rectangle pairs") {
    // fixed-seed pseudo-random lat/lon rectangles (always valid rings);
    // checks the inclusion-exclusion identities and predicate consistency
    val rng = new scala.util.Random(20260812L)
    def rect(): Geography = {
      val lon0 = rng.nextInt(300) - 150
      val lat0 = rng.nextInt(120) - 60
      val w = rng.nextInt(25) + 2
      val h = rng.nextInt(25) + 2
      g(s"POLYGON (($lon0 $lat0, ${lon0 + w} $lat0, ${lon0 + w} ${lat0 + h}, $lon0 ${lat0 + h}, $lon0 $lat0))")
    }
    var checked = 0
    for (_ <- 1 to 40) {
      val a = rect(); val b = rect()
      val aA = S2Measure.areaMeters2(a); val aB = S2Measure.areaMeters2(b)
      val aI = S2Measure.areaMeters2(Overlay.intersection(a, b))
      val aD = S2Measure.areaMeters2(Overlay.difference(a, b))
      val aU = S2Measure.areaMeters2(Overlay.union(a, b))
      assert(Math.abs(aI + aD - aA) / aA < 1e-6, s"|A∩B|+|A\\B| != |A| for $a vs $b")
      assert(Math.abs(aU - (aA + aB - aI)) / (aA + aB) < 1e-6, s"union area off for $a vs $b")
      val sa = new GeoShapes(a); val sb = new GeoShapes(b)
      val inter = Relate.intersects(sa, sb)
      if (aI > 1e-6 * aA) assert(inter, s"positive overlap area but intersects=false: $a vs $b")
      if (Relate.contains(sa, sb)) {
        assert(inter)
        assert(Math.abs(aI - aB) / aB < 1e-6, "contained B must have |A∩B| = |B|")
      }
      checked += 1
    }
    assert(checked === 40)
  }

  test("a degenerate polygon side is the empty region") {
    def raw(w: String) = Wkt.read(w, validate = false)
    def fmt(x: Geography) = Wkt.write(x, 6)
    val aW = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    val a = raw(aW)
    val empty = "GEOMETRYCOLLECTION EMPTY"
    // B -> B \ A
    val cases = Seq(
      // no ring of 3 or more vertices: the disjoint coverings return B as is
      "POLYGON ((0 0, 1 1, 0 0))" -> "POLYGON ((0 0, 1 1, 0 0))",
      // a degenerate shell bounds nothing, so its hole goes with it
      "POLYGON ((0 0, 1 1, 0 0), (2 2, 3 2, 3 3, 2 2))" -> empty,
      // a triangle below the snap radius collapses onto A's corner
      "POLYGON ((10 10, 10.00000000001 10, 10 10.00000000001, 10 10))" -> empty)
    for ((bW, bMinusA) <- cases) {
      val b = raw(bW)
      assert(fmt(Overlay.intersection(a, b)) === empty, bW)
      assert(fmt(Overlay.difference(a, b)) === aW, bW)
      assert(fmt(Overlay.union(a, b)) === aW, bW)
      assert(fmt(Overlay.difference(b, a)) === bMinusA, bW)
    }
  }

  test("an overlay the engine cannot complete throws OverlayException") {
    def ring(lngLat: (Double, Double)*) =
      lngLat.map { case (x, y) => S2Point.fromLatLngDegrees(y, x) }.toVector
    val a = Vector(PolyOverlay.Group(ring((0, 0), (10, 0), (10, 10), (0, 10)), Vector.empty))
    val b = Vector(PolyOverlay.Group(
      ring((5, 5), (15, 5), (15, 15)) :+ S2Point(Double.NaN, 0, 0), Vector.empty))
    val e = intercept[PolyOverlay.OverlayException](PolyOverlay.union(a, b))
    assert(e.getMessage.startsWith("polygon overlay"), e.getMessage)
    // members sharing an edge pass validation, but the engine classifies a
    // side's edges only against the other side: a typed error, not a value
    val adjacent = Wkt.read(
      "MULTIPOLYGON (((6 6, 9 6, 9 10, 6 10, 6 6)), ((5 6, 6 6, 6 10, 5 10, 5 6)))")
    val top = Wkt.read("POLYGON ((6 7, 8 7, 8 11, 6 11, 6 7))")
    intercept[PolyOverlay.OverlayException](Overlay.intersection(adjacent, top))
  }

  test("line clipped by polygon") {
    val line = g("LINESTRING (-5 5, 15 5)")
    val poly = g("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    val i = Overlay.intersection(line, poly)
    assert(i.dimension === 1)
    val len = S2Measure.lengthMeters(i)
    val full = S2Measure.lengthMeters(line)
    assert(len > 0.4 * full && len < 0.6 * full) // roughly the middle half
    val d = Overlay.difference(line, poly)
    assert(Math.abs(S2Measure.lengthMeters(d) + len - full) / full < 1e-9)
  }
}
