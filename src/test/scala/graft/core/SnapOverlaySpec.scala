package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Snap-rounded overlay robustness (VERDICT r7 item 1): shared borders
  * digitized twice land vertices ulp-NEAR the other ring's edges — the
  * input class that corrupts a ring-pair traversal. The planar-graph
  * engine ([[PolyOverlay]]) snap-aligns those incidences exact; this spec
  * fuzzes ±ulp-perturbed shared-border polygon pairs ([[OverlayFuzz]]) and
  * checks the area/containment invariants on every seed. */
class SnapOverlaySpec extends AnyFunSuite {
  private def g(w: String) = Wkt.read(w, validate = false)
  private def areaSr(x: Geography) = S2Measure.areaMeters2(x)

  private def groupsOf(x: Geography): Vector[PolyOverlay.Group] = x match {
    case p: Geography.Polygons =>
      p.ringGroups.map(rs => PolyOverlay.Group(rs.head, rs.tail))
    case _ => fail(s"not a polygon: $x")
  }
  private def areaOf(gs: Vector[PolyOverlay.Group]): Double =
    areaSr(Geography.Polygons(gs.map(x => x.shell +: x.holes)))

  test("PolyOverlay engages (no silent fallback) on clean and degenerate input") {
    val a = groupsOf(g("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    val b = groupsOf(g("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"))
    // vertex ulp-near the other ring's edge interior
    val c = groupsOf(g("POLYGON ((10.0000000000001 5, 20 5, 20 15, 10.0000000000001 15, 10.0000000000001 5))"))
    for ((x, y) <- Seq((a, b), (a, c))) {
      val xA = areaOf(x); val yA = areaOf(y)
      val i = areaOf(PolyOverlay.intersect(x, y))
      val u = areaOf(PolyOverlay.union(x, y))
      val m = areaOf(PolyOverlay.diff(x, y))
      val tol = 1e-9 * (xA + yA)
      assert(Math.abs(i + m - xA) <= tol, s"|A∩B|+|A\\B| != |A|: $i + $m vs $xA")
      assert(Math.abs(u - (xA + yA - i)) <= tol, s"|A∪B| != |A|+|B|-|A∩B|: $u vs ${xA + yA - i}")
    }
    assert(areaOf(PolyOverlay.intersect(a, b)) > 0.2 * areaOf(a))
  }

  test("shared border digitized twice: exact and ±ulp-perturbed unions stay consistent") {
    // A = left rect; B = right rect sharing the x=10 border, B's copy of
    // the border perturbed by delta degrees (0 = exact double-digitized).
    // B also carries a MIDPOINT vertex (10+delta, 5) lying ulp-near the
    // interior of A's right edge — the classic corruption trigger.
    val aW = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    val a = g(aW)
    val sa = new GeoShapes(a)
    val aArea = areaSr(a)
    for (delta <- Seq(0.0, 1e-13, -1e-13, 5e-12, -5e-12, 4.9e-11, -4.9e-11)) {
      val x = 10.0 + delta
      val bW = s"POLYGON (($x 0, 20 0, 20 10, $x 10, $x 5, $x 0))"
      val b = g(bW)
      val sb = new GeoShapes(b)
      val bArea = areaSr(b)
      val u = Overlay.union(a, b)
      val i = Overlay.intersection(a, b)
      val dAB = Overlay.difference(a, b)
      val dBA = Overlay.difference(b, a)
      val (uA, iA, mA, mB) = (areaSr(u), areaSr(i), areaSr(dAB), areaSr(dBA))
      val tol = 1e-6 * (aArea + bArea) // sliver-scale allowance, ~km^2 on 1e12 m^2
      assert(Math.abs(uA - (aArea + bArea - iA)) <= tol,
        s"union area off at delta=$delta: $uA vs ${aArea + bArea - iA}")
      assert(Math.abs(iA + mA - aArea) <= tol, s"|A∩B|+|A\\B| != |A| at delta=$delta")
      assert(Math.abs(iA + mB - bArea) <= tol, s"|A∩B|+|B\\A| != |B| at delta=$delta")
      // containment: interior probes far from the seam
      val su = new GeoShapes(u)
      assert(su.polygonContains(S2Point.fromLatLngDegrees(5, 5)), s"lost A side at delta=$delta")
      assert(su.polygonContains(S2Point.fromLatLngDegrees(5, 15)), s"lost B side at delta=$delta")
      assert(!su.polygonContains(S2Point.fromLatLngDegrees(15, 15)), s"union overshoots at delta=$delta")
      val sd = new GeoShapes(dAB)
      assert(sd.polygonContains(S2Point.fromLatLngDegrees(5, 5)) &&
        !sd.polygonContains(S2Point.fromLatLngDegrees(5, 15)), s"A\\B wrong at delta=$delta")
      // union boundary must not retain the seam: a probe ON the exact
      // border x=10 interior is inside the dissolved union
      assert(su.polygonContains(S2Point.fromLatLngDegrees(5.0321, 10.0)) ||
        su.onAnyLine(S2Point.fromLatLngDegrees(5.0321, 10.0)) ||
        delta != 0.0, s"seam probe outside union at delta=$delta")
      assert(sa.polygonContains(S2Point.fromLatLngDegrees(5, 5)) &&
        sb.polygonContains(S2Point.fromLatLngDegrees(5, 15))) // sanity
    }
  }

  test("fuzz: five degenerate classes hold area invariants (round-8 generators)") {
    // 30 seeds x 9 classes of OverlayFuzz (double-digitized polygons,
    // exact/perturbed T-junctions, angled shared edges, perturbed chains):
    // the classes that drove the adaptive snap radius + off-boundary
    // nesting probe fixes
    for (seed <- 0 until 30; klass <- 0 until 9) {
      val (aW, bW) = OverlayFuzz.genPair(seed, klass)
      OverlayFuzz.checkPair(aW, bW).foreach(msg => fail(s"seed=$seed class=$klass $msg"))
    }
  }

  test("fuzz: mixed-dimension class holds the length partition (round-9 generator)") {
    // line riding on / crossing through / vertexed exactly on a polygon's
    // meridian edge: |L∩A| + |L\A| = |L| whichever side the CLOSED model
    // routes boundary-riding pieces to
    for (seed <- 0 until 200) {
      val (lW, aW) = OverlayFuzz.genMixedPair(seed)
      OverlayFuzz.checkMixedPair(lW, aW).foreach(msg => fail(s"seed=$seed $msg"))
    }
  }

  test("CLOSED-model mixed-dimension goldens: boundary points and lines belong to the polygon") {
    // reference boundary semantics: S2BooleanOperation CLOSED polygon AND
    // polyline models (src/include/global_options.hpp:12-13)
    def g(w: String) = Wkt.read(w, validate = false)
    val A = g("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    def fmt(x: Geography): String = Wkt.write(x, precision = 6)
    assert(fmt(Overlay.intersection(g("POINT (10 5)"), A)) === "POINT (10 5)")
    assert(Overlay.difference(g("POINT (10 5)"), A).isEmpty)
    // line exactly on the meridian boundary edge: inside under CLOSED
    assert(fmt(Overlay.intersection(g("LINESTRING (10 2, 10 8)"), A)) === "LINESTRING (10 2, 10 8)")
    assert(Overlay.difference(g("LINESTRING (10 2, 10 8)"), A).isEmpty)
    // vertex exactly on the boundary: clean split, no duplicate vertices
    assert(fmt(Overlay.intersection(g("LINESTRING (5 5, 10 5, 15 5)"), A)) === "LINESTRING (5 5, 10 5)")
    assert(fmt(Overlay.difference(g("LINESTRING (5 5, 10 5, 15 5)"), A)) === "LINESTRING (10 5, 15 5)")
  }

  test("fuzz: ±1-ulp perturbed shared-border pairs hold area invariants on all seeds") {
    val rnd = new scala.util.Random(20260813L)
    var run = 0
    for (seed <- 0 until 60) {
      // random shared vertical or horizontal border with random extents
      val c = rnd.nextInt(120) - 60 // shared coordinate line
      val lo = rnd.nextInt(40) - 20
      val hi = lo + 4 + rnd.nextInt(20)
      val wA = 3 + rnd.nextInt(15); val wB = 3 + rnd.nextInt(15)
      // perturbations in [-6e-11, 6e-11] deg (~1e-12 rad, the snap band)
      def eps() = (rnd.nextDouble() - 0.5) * 1.2e-10
      val vertical = rnd.nextBoolean()
      // B's border carries an extra midpoint vertex near A's edge interior
      val midc = lo + (hi - lo) / 2.0
      def poly(coords: Seq[(Double, Double)]): String =
        "POLYGON ((" + (coords :+ coords.head).map { case (x, y) => s"$x $y" }.mkString(", ") + "))"
      val (aW, bW) =
        if (vertical)
          (poly(Seq((c - wA, lo.toDouble), (c, lo.toDouble), (c, hi.toDouble), (c - wA, hi.toDouble))),
           poly(Seq((c + eps(), lo.toDouble), (c + wB, lo.toDouble), (c + wB, hi.toDouble),
             (c + eps(), hi.toDouble), (c + eps(), midc))))
        else
          (poly(Seq((lo.toDouble, c - wA), (hi.toDouble, c - wA), (hi.toDouble, c), (lo.toDouble, c))),
           poly(Seq((lo.toDouble, c + eps()), (midc, c + eps()), (hi.toDouble, c + eps()),
             (hi.toDouble, c + wB), (lo.toDouble, c + wB))))
      val a = g(aW); val b = g(bW)
      val aArea = areaSr(a); val bArea = areaSr(b)
      val u = areaSr(Overlay.union(a, b))
      val i = areaSr(Overlay.intersection(a, b))
      val m = areaSr(Overlay.difference(a, b))
      val tol = 1e-6 * (aArea + bArea)
      assert(Math.abs(u - (aArea + bArea - i)) <= tol,
        s"seed=$seed union area defect ${u - (aArea + bArea - i)} for\n$aW\n$bW")
      assert(Math.abs(i + m - aArea) <= tol,
        s"seed=$seed |A∩B|+|A\\B| defect ${i + m - aArea} for\n$aW\n$bW")
      run += 1
    }
    assert(run === 60)
  }
}
