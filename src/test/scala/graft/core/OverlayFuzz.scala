package graft.core

/**
 * Overlay robustness fuzz generators and checks: the degenerate-input
 * classes behind the snap-overlay engine's claims, run by SnapOverlaySpec
 * (classes 0-8 at 30 seeds each, the mixed class at 200 seeds).
 *
 * Generates the input classes that break naive clippers (klass 0-8):
 *   0. shared straight border digitized twice, ±ulp perturbed, with a
 *      midpoint vertex ulp-near the neighbor's edge interior
 *   1. the SAME polygon digitized twice (every vertex ±ulp perturbed):
 *      union ≈ A, intersection ≈ A, A\B ≈ 0
 *   2. T-junction: B's corner lands (exactly or ulp-off) on the interior
 *      of A's edge
 *   3. angled shared edge: convex quads sharing a non-axis-aligned edge
 *   4. shared border subdivided into a multi-vertex chain, each vertex
 *      independently perturbed
 *   5. partial collinear overlap: B's edge covers only the middle of
 *      A's edge — T-nodes land mid-edge on both sides
 *   6. B shares a double-digitized border with A's HOLE (donut A)
 *   7. B bridges TWO disjoint A rectangles (multi-group classification)
 *   8. rotated lattice neighbors (nothing axis-aligned)
 * and a mixed-dimension class ([[genMixedPair]]).
 *
 * [[checkPair]] checks the area algebra (|A∪B| = |A|+|B|-|A∩B|,
 * |A∩B|+|A\B| = |A|, |A∩B|+|B\A| = |B|) to a sliver tolerance and
 * reports any violation or thrown error with the reproducing WKT.
 */
object OverlayFuzz {
  private def g(w: String) = Wkt.read(w, validate = false)
  private def area(x: Geography) = S2Measure.areaMeters2(x)

  private def poly(coords: Seq[(Double, Double)]): String =
    "POLYGON ((" + (coords :+ coords.head).map { case (x, y) => s"$x $y" }.mkString(", ") + "))"

  /** Deterministic degenerate-pair generator for `seed`; `klass` 0-8 as in
    * the class list above. */
  def genPair(seed: Int, klass: Int): (String, String) = {
    val rnd = new scala.util.Random(20260813L + seed * 7919L)
    def eps() = (rnd.nextDouble() - 0.5) * 1.2e-10
    klass match {
      case 0 => // shared axis-aligned border + midpoint vertex
        val c = rnd.nextInt(120) - 60
        val lo = rnd.nextInt(40) - 20
        val hi = lo + 4 + rnd.nextInt(20)
        val wA = 3 + rnd.nextInt(15); val wB = 3 + rnd.nextInt(15)
        val midc = lo + (hi - lo) / 2.0
        if (rnd.nextBoolean())
          (poly(Seq((c - wA, lo.toDouble), (c, lo.toDouble), (c, hi.toDouble), (c - wA, hi.toDouble))),
           poly(Seq((c + eps(), lo.toDouble), (c + wB, lo.toDouble), (c + wB, hi.toDouble),
             (c + eps(), hi.toDouble), (c + eps(), midc))))
        else
          (poly(Seq((lo.toDouble, c - wA), (hi.toDouble, c - wA), (hi.toDouble, c), (lo.toDouble, c))),
           poly(Seq((lo.toDouble, c + eps()), (midc, c + eps()), (hi.toDouble, c + eps()),
             (hi.toDouble, c + wB), (lo.toDouble, c + wB))))
      case 1 => // same polygon digitized twice (all vertices perturbed)
        val cx = rnd.nextInt(100) - 50; val cy = rnd.nextInt(80) - 40
        val k = 4 + rnd.nextInt(4)
        val pts = (0 until k).map { i =>
          val ang = 2 * math.Pi * i / k
          val r = 2.0 + rnd.nextInt(8)
          (cx + r * math.cos(ang), cy + r * math.sin(ang))
        }
        (poly(pts), poly(pts.map { case (x, y) => (x + eps(), y + eps()) }))
      case 2 => // T-junction: B's corner on the interior of A's right edge
        val x0 = rnd.nextInt(60) - 30
        val y0 = rnd.nextInt(60) - 30
        val h = 6 + rnd.nextInt(10)
        val ty = y0 + 1 + rnd.nextInt(h - 2) + rnd.nextDouble()
        val exact = rnd.nextBoolean()
        val tx = (x0 + 10) + (if (exact) 0.0 else eps())
        (poly(Seq((x0.toDouble, y0.toDouble), (x0 + 10.0, y0.toDouble),
           (x0 + 10.0, y0.toDouble + h), (x0.toDouble, y0.toDouble + h))),
         poly(Seq((tx, ty), (tx + 6, ty - 2 - rnd.nextInt(3)), (tx + 6, ty + 2 + rnd.nextInt(3)))))
      case 3 => // angled shared edge between two convex quads
        val x1 = rnd.nextInt(40) - 20.0; val y1 = rnd.nextInt(40) - 20.0
        val x2 = x1 + 4 + rnd.nextInt(10); val y2 = y1 + 3 + rnd.nextInt(9)
        (poly(Seq((x1, y1), (x2, y2), (x1 - 3 - rnd.nextInt(6), y2), (x1 - 5 - rnd.nextInt(4), y1))),
         poly(Seq((x1 + eps(), y1 + eps()), (x2 + 5 + rnd.nextInt(5), y1),
           (x2 + 7 + rnd.nextInt(4), y2), (x2 + eps(), y2 + eps()))))
      case 4 => // multi-vertex shared chain, each vertex perturbed
        val c = rnd.nextInt(80) - 40
        val lo = rnd.nextInt(30) - 15
        val span = 6 + rnd.nextInt(12)
        val cuts = Seq(lo + span / 3.0, lo + 2 * span / 3.0)
        val wA = 4 + rnd.nextInt(10); val wB = 4 + rnd.nextInt(10)
        (poly(Seq((c - wA, lo.toDouble), (c.toDouble, lo.toDouble), (c.toDouble, lo + span.toDouble),
           (c - wA, lo + span.toDouble))),
         poly(Seq((c + eps(), lo.toDouble), (c + wB, lo.toDouble), (c + wB, lo + span.toDouble),
           (c + eps(), lo + span.toDouble), (c + eps(), cuts(1)), (c + eps(), cuts(0)))))
      case 5 => // PARTIAL collinear overlap: B's left edge covers only the
        // middle of A's right edge, perturbed — T-nodes land mid-edge on
        // both sides
        val c = rnd.nextInt(80) - 40
        val lo = rnd.nextInt(30) - 15
        val hi = lo + 10 + rnd.nextInt(10)
        val bLo = lo + 2 + rnd.nextDouble() * 2
        val bHi = hi - 2 - rnd.nextDouble() * 2
        val wA = 4 + rnd.nextInt(10); val wB = 4 + rnd.nextInt(10)
        (poly(Seq((c - wA, lo.toDouble), (c.toDouble, lo.toDouble), (c.toDouble, hi.toDouble),
           (c - wA, hi.toDouble))),
         poly(Seq((c + eps(), bLo), (c + wB, bLo), (c + wB, bHi), (c + eps(), bHi))))
      case 7 => // B bridges TWO disjoint A rectangles, sharing a perturbed
        // border with each — exercises multi-group classification
        val y0 = rnd.nextInt(40) - 20
        val h = 5 + rnd.nextInt(8)
        val x1 = rnd.nextInt(40) - 20
        val gap = 6 + rnd.nextInt(6)
        val w1 = 4 + rnd.nextInt(6); val w2 = 4 + rnd.nextInt(6)
        val left = poly(Seq((x1 - w1.toDouble, y0.toDouble), (x1.toDouble, y0.toDouble),
          (x1.toDouble, y0.toDouble + h), (x1 - w1.toDouble, y0.toDouble + h)))
        val right = poly(Seq((x1 + gap.toDouble, y0.toDouble), (x1 + gap + w2.toDouble, y0.toDouble),
          (x1 + gap + w2.toDouble, y0.toDouble + h), (x1 + gap.toDouble, y0.toDouble + h)))
        val b = poly(Seq((x1 + eps(), y0.toDouble), (x1 + gap + eps(), y0.toDouble),
          (x1 + gap + eps(), y0.toDouble + h), (x1 + eps(), y0.toDouble + h),
          (x1 + eps(), y0 + h / 2.0)))
        ("MULTIPOLYGON (" + left.stripPrefix("POLYGON ") + ", " +
          right.stripPrefix("POLYGON ") + ")", b)
      case 8 => // rotated lattice neighbors: both quads rotated by a random
        // angle, sharing a double-digitized non-axis-aligned border
        val ang = rnd.nextDouble() * math.Pi / 2
        val ca = math.cos(ang); val sa = math.sin(ang)
        val cx = rnd.nextInt(40) - 20.0; val cy = rnd.nextInt(30) - 15.0
        val w1 = 4 + rnd.nextInt(8); val w2 = 4 + rnd.nextInt(8)
        val hh = 5 + rnd.nextInt(8)
        def rot(x: Double, y: Double): (Double, Double) =
          (cx + x * ca - y * sa, cy + x * sa + y * ca)
        def rotE(x: Double, y: Double): (Double, Double) = {
          val (px, py) = rot(x, y); (px + eps(), py + eps())
        }
        // shared border is the rotated segment (0,0)-(0,hh)
        (poly(Seq(rot(-w1, 0), rot(0, 0), rot(0, hh), rot(-w1, hh))),
         poly(Seq(rotE(0, 0), rot(w2, 0), rot(w2, hh), rotE(0, hh), rotE(0, hh / 2.0))))
      case _ => // B shares a border with A's HOLE (donut A; B sits in the
        // hole, one side double-digitized against the hole ring)
        val cx = rnd.nextInt(60) - 30
        val cy = rnd.nextInt(40) - 20
        val ro = 10 + rnd.nextInt(6)   // outer half-size
        val ri = 4 + rnd.nextInt(3)    // hole half-size
        val hx = cx - ri               // hole's left border
        val shell = Seq((cx - ro.toDouble, cy - ro.toDouble), (cx + ro.toDouble, cy - ro.toDouble),
          (cx + ro.toDouble, cy + ro.toDouble), (cx - ro.toDouble, cy + ro.toDouble))
        val hole = Seq((hx.toDouble, cy - ri.toDouble), (cx + ri.toDouble, cy - ri.toDouble),
          (cx + ri.toDouble, cy + ri.toDouble), (hx.toDouble, cy + ri.toDouble))
        def ring(coords: Seq[(Double, Double)]): String =
          "(" + (coords :+ coords.head).map { case (x, y) => s"$x $y" }.mkString(", ") + ")"
        // B fills the left half of the hole; its left edge re-digitizes
        // the hole's left border (perturbed), midpoint vertex included
        val aPoly = "POLYGON (" + ring(shell) + ", " + ring(hole.reverse) + ")"
        val b = poly(Seq((hx + eps(), cy - ri.toDouble), (cx.toDouble, cy - ri.toDouble),
          (cx.toDouble, cy + ri.toDouble), (hx + eps(), cy + ri.toDouble), (hx + eps(), cy.toDouble)))
        (aPoly, b)
    }
  }

  /** Mixed-dimension degenerate pair (klass 9): a polyline riding on,
    * crossing through, or vertexed exactly on a polygon's meridian edge
    * (meridian edges are true geodesics, so exact collinearity is
    * representable). Returns (lineWkt, polyWkt); checked by the LENGTH
    * partition |L∩A| + |L\A| = |L| (CLOSED model routes boundary-riding
    * pieces to the intersection side — either way the partition must
    * hold). */
  def genMixedPair(seed: Int): (String, String) = {
    val rnd = new scala.util.Random(20260813L + seed * 104729L)
    def eps() = (rnd.nextDouble() - 0.5) * 1.2e-10
    val x0 = rnd.nextInt(60) - 30
    val y0 = rnd.nextInt(50) - 25
    val w = 5 + rnd.nextInt(10); val h = 6 + rnd.nextInt(10)
    val a = poly(Seq((x0.toDouble, y0.toDouble), (x0 + w.toDouble, y0.toDouble),
      (x0 + w.toDouble, y0 + h.toDouble), (x0.toDouble, y0 + h.toDouble)))
    val xr = x0 + w.toDouble // right meridian edge
    val line = rnd.nextInt(4) match {
      case 0 => // rides the middle of the right edge (exact or ulp off)
        val e = if (rnd.nextBoolean()) 0.0 else eps()
        val m1 = y0 + 1 + rnd.nextDouble() * (h - 2) / 2
        val m2 = y0 + h - 1 - rnd.nextDouble() * (h - 2) / 2
        s"LINESTRING (${xr + e} $m1, ${xr + e} $m2)"
      case 1 => // crosses the edge with a vertex exactly on it
        val yc = y0 + 1 + rnd.nextDouble() * (h - 2)
        s"LINESTRING (${x0 + w / 2.0} $yc, $xr $yc, ${xr + 4 + rnd.nextInt(4)} $yc)"
      case 2 => // enters, rides part of the edge, exits outward
        val m1 = y0 + 1 + rnd.nextDouble() * (h - 3)
        val m2 = m1 + 1 + rnd.nextDouble()
        s"LINESTRING (${x0 + 1.0} $m1, $xr $m1, $xr $m2, ${xr + 3.0} $m2)"
      case _ => // overshoots the whole edge (collinear beyond both corners)
        s"LINESTRING ($xr ${y0 - 2 - rnd.nextInt(3)}, $xr ${y0 + h + 2 + rnd.nextInt(3)})"
    }
    (line, a)
  }

  /** Length-partition check for a (line, polygon) pair. */
  def checkMixedPair(lW: String, aW: String): Option[String] =
    try {
      val l = g(lW); val a = g(aW)
      val lenL = S2Measure.lengthMeters(l)
      val li = S2Measure.lengthMeters(Overlay.intersection(l, a))
      val ld = S2Measure.lengthMeters(Overlay.difference(l, a))
      if (math.abs(li + ld - lenL) > 1e-6 * math.max(lenL, 1.0))
        Some(f"length partition defect=${li + ld - lenL}%.3g (|L|=$lenL%.6g i=$li%.6g d=$ld%.6g)\n  L=$lW\n  A=$aW")
      else None
    } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}\n  L=$lW\n  A=$aW")
    }

  /** Area-algebra invariant check for one WKT pair; Some(message) on a
    * violation or error, None when the invariants hold. */
  def checkPair(aW: String, bW: String): Option[String] =
    try {
      val a = g(aW); val b = g(bW)
      val aA = area(a); val bA = area(b)
      val u = area(Overlay.union(a, b))
      val i = area(Overlay.intersection(a, b))
      val dab = area(Overlay.difference(a, b))
      val dba = area(Overlay.difference(b, a))
      val tol = 1e-6 * (aA + bA)
      def bad(name: String, defect: Double): Option[String] =
        if (math.abs(defect) > tol) Some(f"$name defect=$defect%.3g\n  A=$aW\n  B=$bW") else None
      bad("union", u - (aA + bA - i))
        .orElse(bad("partitionA", i + dab - aA))
        .orElse(bad("partitionB", i + dba - bA))
    } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}\n  A=$aW\n  B=$bW")
    }
}
