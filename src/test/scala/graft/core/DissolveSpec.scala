package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Canonical union boundaries: the overlay stitches the union from one
  * planar subdivision of both inputs, so overlapping multi-ring /
  * hole-bearing unions emit ONE boundary per connected region, with no
  * seam between overlapping pieces (deterministic WKT), and area and
  * containment exactly preserved. */
class DissolveSpec extends AnyFunSuite {
  private def g(w: String) = Wkt.read(w)
  private def union6(a: String, b: String): String =
    Wkt.write(Overlay.union(g(a), g(b)), 6)

  private val mpA = "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), ((30 30, 40 30, 40 40, 30 40, 30 30)))"
  private val mpB = "MULTIPOLYGON (((5 5, 15 5, 15 15, 5 15, 5 5)), ((35 35, 45 35, 45 45, 35 45, 35 35)))"
  private val hpA = "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (5 5, 15 5, 15 15, 5 15, 5 5))"
  private val hpB = "POLYGON ((10 10, 30 10, 30 30, 10 30, 10 10))"

  test("overlapping MULTIPOLYGON union is two clean rings, no seams") {
    val w = union6(mpA, mpB)
    assert(w ===
      "MULTIPOLYGON (((45 45, 35 45, 35 40.107598, 30 40, 30 30, 40 30, 40 35.102702, 45 35, 45 45)), " +
      "((15 15, 5 15, 5 10.037423, 0 10, 0 0, 10 0, 10 5.019002, 15 5, 15 15)))")
    // 9 vertices per merged ring (8 corners + closing repeat): no seam path
    assert(!w.contains("10 10") && !w.contains("40 40"))
  }

  test("hole-bearing union: outer boundary merges, hole shrinks to the L-remainder") {
    val w = union6(hpA, hpB)
    assert(w ===
      "POLYGON ((30 30, 10 30, 10 20.283559, 0 20, 0 0, 20 0, 20 10.151082, 30 10, 30 30), " +
      "(15 10.113253, 10 10, 10 15.054701, 5 15, 5 5, 15 5, 15 10.113253))")
  }

  test("island fully inside a hole stays its own polygon (parity nesting)") {
    val w = union6(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 3 7, 7 7, 7 3, 3 3))",
      "POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(w ===
      "MULTIPOLYGON (((10 10, 0 10, 0 0, 10 0, 10 10), (7 7, 3 7, 3 3, 7 3, 7 7)), " +
      "((6 6, 4 6, 4 4, 6 4, 6 6)))")
  }

  test("union area follows inclusion-exclusion exactly after the dissolve") {
    for ((a, b) <- Seq((mpA, mpB), (hpA, hpB))) {
      val ua = S2Measure.areaMeters2(Overlay.union(g(a), g(b)))
      val ie = S2Measure.areaMeters2(g(a)) + S2Measure.areaMeters2(g(b)) -
        S2Measure.areaMeters2(Overlay.intersection(g(a), g(b)))
      assert(Math.abs(ua - ie) / ie < 1e-12)
    }
  }

  test("containment semantics survive the dissolve") {
    val u = new GeoShapes(Overlay.union(g(hpA), g(hpB)))
    assert(u.polygonContains(g("POINT (12 12)").asInstanceOf[Geography.Points].points.head)) // filled by B
    assert(!u.polygonContains(g("POINT (7 7)").asInstanceOf[Geography.Points].points.head)) // still hole
    assert(u.polygonContains(g("POINT (25 25)").asInstanceOf[Geography.Points].points.head)) // B-only area
  }

  test("property: random multipolygon unions keep the exact point set and round-trip") {
    val rnd = new scala.util.Random(20260812)
    final case class R(x0: Int, y0: Int, x1: Int, y1: Int)
    def rectWkt(r: R): String =
      s"((${r.x0} ${r.y0}, ${r.x1} ${r.y0}, ${r.x1} ${r.y1}, ${r.x0} ${r.y1}, ${r.x0} ${r.y0}))"
    def randRects(): Seq[R] = (0 until 1 + rnd.nextInt(3)).map { _ =>
      val x0 = rnd.nextInt(40) - 20; val y0 = rnd.nextInt(30) - 15
      R(x0, y0, x0 + 2 + rnd.nextInt(12), y0 + 2 + rnd.nextInt(12))
    }
    // Degenerate-touch filter: rects sharing a boundary coordinate touch
    // along an edge or at a vertex. Touching and ulp-near inputs are
    // SnapOverlaySpec's fuzz; this property drives the
    // PROPER-CROSSING-or-disjoint space, where the union's point set is
    // exact.
    def touches(a: R, b: R): Boolean =
      Seq(a.x0, a.x1).exists(x => x == b.x0 || x == b.x1) ||
        Seq(a.y0, a.y1).exists(y => y == b.y0 || y == b.y1)
    var tried = 0
    var run = 0
    while (run < 40 && tried < 400) {
      tried += 1
      val aR = randRects(); val bR = randRects()
      val aW = s"MULTIPOLYGON (${aR.map(rectWkt).mkString(", ")})"
      val bW = s"MULTIPOLYGON (${bR.map(rectWkt).mkString(", ")})"
      // parse unvalidated: the generator can emit self-overlapping rects,
      // which the selfOk filter below rejects
      val a = Wkt.read(aW, validate = false); val b = Wkt.read(bW, validate = false)
      val sa = new GeoShapes(a); val sb = new GeoShapes(b)
      // skip inputs whose own rings overlap (invalid multipolygons) and
      // cross-side degenerate touches (see above)
      val selfOk = Seq(sa, sb).forall { s =>
        val gs = s.polyGroups
        gs.size <= 1 || gs.combinations(2).forall { pair =>
          !Relate.intersects(new GeoShapes(Geography.Polygons(Vector(pair(0)))),
            new GeoShapes(Geography.Polygons(Vector(pair(1)))))
        }
      }
      val noTouch = !aR.exists(ra => bR.exists(rb => touches(ra, rb)))
      if (selfOk && noTouch) {
        run += 1
        val u = Overlay.union(a, b)
        val su = new GeoShapes(u)
        // 1. WKT round trip parses back (novalidate: closed-model unions
        // of touching inputs can emit pinched rings the validator flags)
        val back = Wkt.read(Wkt.write(u), validate = false)
        assert(!back.isEmpty, s"round trip lost the union of\n$aW\n$bW")
        // 2. point-set oracle: union contains p <=> A contains p or B does.
        // Probes must stay OFF the input edges: closed-model containment of
        // an exactly-on-boundary point is fp-fragile once the overlay
        // splits an edge at a computed intersection (the sub-edge plane is
        // 1 ulp off the original great circle) — the same artifact class as
        // any computed-crossing representation. Irrational-ish start/step
        // keeps probes off the integer-coordinate rect boundaries.
        var gx = -21.4871
        while (gx < 36) {
          var gy = -16.7213
          while (gy < 31) {
            val p = S2Point.fromLatLngDegrees(gy, gx)
            val want = sa.polygonContains(p) || sb.polygonContains(p)
            val got = su.polygonContains(p)
            assert(got == want,
              s"union containment diverges at ($gx $gy): want=$want got=$got for\n$aW\n$bW")
            gy += 3.7003
          }
          gx += 3.7003
        }
        // 3. area inclusion-exclusion
        val ie = S2Measure.areaMeters2(a) + S2Measure.areaMeters2(b) -
          S2Measure.areaMeters2(Overlay.intersection(a, b))
        val ua = S2Measure.areaMeters2(u)
        assert(Math.abs(ua - ie) <= 1e-6 * Math.max(1.0, ie),
          s"area defect ${ua - ie} for\n$aW\n$bW")
      }
    }
    assert(run >= 30, s"only $run valid random cases out of $tried")
  }
}
