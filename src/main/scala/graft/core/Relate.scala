package graft.core

import Geography._

/**
 * Decomposed view of a Geography for predicate evaluation: points, open
 * polylines, and polygons (ring groups with prebuilt S2Loops).
 */
final class GeoShapes(val g: Geography) extends Serializable {
  val (points, lines, polyGroups) = Geography.flatten(g)

  /** One entry per ring group: loops (shell + holes) as S2Loop. */
  lazy val loops: Vector[Vector[S2Loop]] =
    polyGroups.map(_.filter(_.size >= 3).map(r => new S2Loop(r.toArray)))

  def isEmpty: Boolean = points.isEmpty && lines.forall(_.size == 0) && polyGroups.isEmpty

  /** CLOSED-model polygon containment: boundary points are contained
    * (reference boundary model: src/include/global_options.hpp:11-14). */
  def polygonContains(p: S2Point): Boolean = {
    var gi = 0
    while (gi < loops.size) {
      val group = loops(gi)
      if (group.nonEmpty) {
        var crossings = 0
        var onBdy = false
        var li = 0
        while (li < group.size && !onBdy) {
          if (group(li).onBoundary(p)) onBdy = true
          else if (group(li).contains(p)) crossings += 1
          li += 1
        }
        if (onBdy || (crossings % 2) == 1) return true
      }
      gi += 1
    }
    false
  }

  /** Strict interior containment (no boundary). */
  def polygonContainsInterior(p: S2Point): Boolean = {
    var gi = 0
    while (gi < loops.size) {
      val group = loops(gi)
      if (group.nonEmpty) {
        var crossings = 0
        var li = 0
        while (li < group.size) {
          if (group(li).onBoundary(p)) return false
          if (group(li).contains(p)) crossings += 1
          li += 1
        }
        if ((crossings % 2) == 1) return true
      }
      gi += 1
    }
    false
  }

  /** True when p lies within `tol` radians of any polygon ring edge — the
    * CLOSED-model boundary test for clipped line pieces (reference models:
    * src/include/global_options.hpp:12-13). The exact predicates cannot
    * serve here: the midpoint of a boundary-collinear piece renormalizes
    * an ulp off the edge's great circle, so this test is tolerant (tol is
    * far below the overlay snap radius, so nothing non-coincident
    * qualifies). */
  def onRingBoundaryNear(p: S2Point, tol: Double): Boolean = {
    var near = false
    foreachRingEdge { (c, d) =>
      val n = c.cross(d)
      val nn = n.norm
      val hit =
        if (nn == 0) p.angle(c) <= tol
        else if (n.cross(c).dot(p) >= 0 && d.cross(n).dot(p) >= 0)
          math.abs(n.dot(p) / nn) <= tol // sin(dist) ~ dist at this scale
        else math.min(p.angle(c), p.angle(d)) <= tol
      if (hit) near = true
      !hit
    }
    near
  }

  def onAnyLine(p: S2Point): Boolean = {
    var i = 0
    while (i < lines.size) {
      val l = lines(i)
      var j = 0
      while (j + 1 < l.size) {
        if (S2Pred.pointOnEdge(p, l(j), l(j + 1))) return true
        j += 1
      }
      i += 1
    }
    false
  }

  def hasPoint(p: S2Point): Boolean = points.contains(p)

  /** All edges as (a, b) pairs: polyline edges + polygon ring edges. */
  def foreachEdge(f: (S2Point, S2Point) => Boolean): Boolean =
    foreachLineEdge(f) && foreachRingEdge(f)

  /** Polyline edges only. */
  def foreachLineEdge(f: (S2Point, S2Point) => Boolean): Boolean = {
    var i = 0
    while (i < lines.size) {
      val l = lines(i)
      var j = 0
      while (j + 1 < l.size) { if (!f(l(j), l(j + 1))) return false; j += 1 }
      i += 1
    }
    true
  }

  /** Polygon ring edges only. */
  def foreachRingEdge(f: (S2Point, S2Point) => Boolean): Boolean = {
    var i = 0
    while (i < polyGroups.size) {
      val rings = polyGroups(i)
      var r = 0
      while (r < rings.size) {
        val ring = rings(r)
        if (ring.size >= 3) {
          var j = 0
          while (j < ring.size) {
            if (!f(ring(j), ring((j + 1) % ring.size))) return false
            j += 1
          }
        }
        r += 1
      }
      i += 1
    }
    true
  }

  def hasPolygons: Boolean = loops.exists(_.nonEmpty)
  def hasLines: Boolean = lines.exists(_.size >= 2)

  lazy val numEdges: Int = {
    var n = 0
    foreachEdge { (_, _) => n += 1; true }
    n
  }

  /** Count of polyline edges. foreachEdge enumerates line edges first, so
    * ring edges occupy ordinals [numLineEdges, numEdges) in the edge index
    * — the split lets ring-only scans skip line candidates. */
  lazy val numLineEdges: Int = {
    var n = 0
    foreachLineEdge { (_, _) => n += 1; true }
    n
  }

  /** Deserialized index from a prepared blob (GeoCodec.decodeShapes); must
    * be attached before the first edgeIndex access. */
  @transient private var prebuiltEdgeIndex: EdgeIndex = null
  private[core] def attachEdgeIndex(idx: EdgeIndex): Unit = prebuiltEdgeIndex = idx

  /** Prepared cell-bucketed edge index (lazy; see EdgeIndex). */
  @transient lazy val edgeIndex: EdgeIndex =
    if (prebuiltEdgeIndex != null) prebuiltEdgeIndex else EdgeIndex.build(this)

  /** Prepared distance index: cell buckets with bounding caps (ClosestEdge). */
  @transient lazy val distIndex: DistIndex = DistIndex.build(this)
}

/**
 * Binary spatial predicates with CLOSED boundary model (SURVEY.md §2.4;
 * reference: src/s2_binary_index_ops.cpp:52-462 — semantics, not code).
 */
object Relate {

  def intersects(a: GeoShapes, b: GeoShapes): Boolean = {
    if (a.isEmpty || b.isEmpty) return false
    // point vs anything
    var i = 0
    while (i < a.points.size) {
      if (pointIntersects(a.points(i), b)) return true
      i += 1
    }
    i = 0
    while (i < b.points.size) {
      if (pointIntersects(b.points(i), a)) return true
      i += 1
    }
    // vertex-in-polygon (covers containment without edge crossings)
    if (b.hasPolygons) {
      var found = false
      a.foreachEdge { (p, _) => if (b.polygonContains(p)) { found = true; false } else true }
      if (found) return true
    }
    if (a.hasPolygons) {
      var found = false
      b.foreachEdge { (p, _) => if (a.polygonContains(p)) { found = true; false } else true }
      if (found) return true
    }
    // edge-edge crossings (proper or touching — CLOSED model);
    // cell-bucketed index replaces the O(E_a * E_b) scan for big inputs
    if (EdgeIndex.anyCrossing(a, b)) return true
    // exactly-collinear 1-D overlaps are invisible to the perturbed
    // crossing predicates; detect them directly so intersects stays
    // consistent with the interval-cover containment below. Polygon ring
    // edges participate too (CLOSED model: the boundary belongs to the
    // polygon, so a vertex-free shared boundary arc intersects). This scan
    // only runs when no crossing/containment decided the answer already.
    (a.hasLines || a.hasPolygons) && (b.hasLines || b.hasPolygons) &&
      anyCollinearOverlap(a, b)
  }

  /** Any b edge sharing a positive-length collinear sub-arc with an a edge. */
  private def anyCollinearOverlap(a: GeoShapes, b: GeoShapes): Boolean = {
    var found = false
    b.foreachEdge { (p, q) =>
      if (p != q && {
        val (full, intervals) = collinearIntervals(p, q, a)
        full || intervals.exists { case (s, e) => e - s > CoverEps }
      }) { found = true; false } else true
    }
    found
  }

  private def pointIntersects(p: S2Point, other: GeoShapes): Boolean =
    other.hasPoint(p) || other.onAnyLine(p) || (other.hasPolygons && other.polygonContains(p))

  /** a contains b (a ⊇ b), CLOSED model. Polygon content of b must sit in
    * a's polygons; line content of b is covered by the union of a's polygon
    * interiors and a's exactly-collinear edge sub-arcs (exact interval
    * cover — mixed collections compose). */
  def contains(a: GeoShapes, b: GeoShapes): Boolean = {
    if (b.isEmpty) return false // reference: empty args -> false
    if (a.isEmpty) return false
    // every point of b must be in a
    var ok = true
    var i = 0
    while (i < b.points.size && ok) {
      if (!pointIntersects(b.points(i), a)) ok = false
      i += 1
    }
    if (!ok) return false

    if (b.hasPolygons) {
      if (!a.hasPolygons) return false // only polygons contain 2D content
      // all b ring vertices inside a's polygons
      var good = true
      b.foreachRingEdge { (p, _) => if (!a.polygonContains(p)) { good = false; false } else true }
      if (!good) return false
      // no b ring edge may properly cross a's boundary (index-accelerated)
      if (EdgeIndex.anyProperCrossingRings(b, a)) return false
      // holes of a must not bite into b's interior: a hole vertex strictly
      // inside b's polygons disqualifies
      var holeBite = false
      var gi = 0
      while (gi < a.polyGroups.size && !holeBite) {
        val rings = a.polyGroups(gi)
        var r = 1 // holes only
        while (r < rings.size && !holeBite) {
          val ring = rings(r)
          var v = 0
          while (v < ring.size && !holeBite) {
            if (b.polygonContainsInterior(ring(v))) holeBite = true
            v += 1
          }
          r += 1
        }
        gi += 1
      }
      if (holeBite) return false
    }

    if (b.hasLines) {
      if (!a.hasPolygons && !a.hasLines) return false
      var good = true
      b.foreachLineEdge { (p, q) =>
        if (!edgeCoveredByRegion(p, q, a)) { good = false; false } else true
      }
      if (!good) return false
    }
    true
  }

  /** Geometric equality: same closed point set (edge-set, order-insensitive;
    * reference: docs/function-reference.md:1616-1619). */
  def equalsGeog(a: GeoShapes, b: GeoShapes): Boolean = {
    // reference short-circuits every binary predicate to false when either
    // side is empty, including s2_equals (s2_binary_index_ops.cpp:296-303)
    if (a.isEmpty || b.isEmpty) return false
    if (a.g.dimension != b.g.dimension) return false
    if (a.hasPolygons || b.hasPolygons || a.hasLines || b.hasLines)
      contains(a, b) && contains(b, a)
    else a.points.toSet == b.points.toSet
  }

  // -------------------------------------------- collinear interval cover

  /** Slack for merging adjacent parameter intervals (radians; ~6 mm on
    * Earth). Collinearity itself is exact — the slack only absorbs the fp
    * error of the atan2 parameterization at interval junctions. */
  private val CoverEps = 1e-9

  /** Is the closed arc (p, q) fully covered by the union of a's
    * exactly-collinear edge sub-arcs?
    *
    * Each a-edge on the same great circle (S2Pred.collinearExact, no
    * symbolic perturbation) contributes the angular interval where it
    * overlaps [p, q]; b's edge is contained iff the merged intervals cover
    * [0, angle(p, q)]. */
  /** Is the closed arc (p, q) fully covered by a's REGION: the union of
    * a's polygon interiors (closed) and a's exactly-collinear edge
    * sub-arcs? Mixed containers compose — a line edge may run through a
    * polygon, continue along a collinear polyline, and back. */
  private def edgeCoveredByRegion(p: S2Point, q: S2Point, a: GeoShapes): Boolean = {
    if (p == q || p.angle(q) <= 0)
      return a.onAnyLine(p) || vertexOfLines(p, a) ||
        (a.hasPolygons && a.polygonContains(p))
    val total = p.angle(q)
    val (fullyCovered, lineIntervals) = collinearIntervals(p, q, a)
    if (fullyCovered) return true
    val intervals =
      if (a.hasPolygons) lineIntervals ++ polygonIntervals(p, q, total, a)
      else lineIntervals
    if (intervals.isEmpty) return false
    val sorted = intervals.sortBy(_._1)
    var reach = 0.0
    var i = 0
    while (i < sorted.size && reach < total - CoverEps) {
      val (s, e) = sorted(i)
      if (s > reach + CoverEps) return false // gap
      if (e > reach) reach = e
      i += 1
    }
    reach >= total - CoverEps
  }

  /** Sub-intervals of the arc [p, q] lying inside a's polygons: cut the arc
    * at every proper boundary crossing; between consecutive cuts
    * containment is constant, so one interior point decides each span. */
  private def polygonIntervals(p: S2Point, q: S2Point, total: Double,
                               a: GeoShapes): Vector[(Double, Double)] = {
    val n = p.cross(q)
    val nn = n.norm
    if (nn < 1e-30) return Vector.empty
    val nHat = n * (1.0 / nn)
    def theta(x: S2Point): Double = Math.atan2(x.cross(p).dot(nHat) * -1.0, p.dot(x))
    val cuts = scala.collection.mutable.ArrayBuffer[Double](0.0, total)
    def vertexCut(v: S2Point): Unit =
      // a ring vertex exactly on the arc can be a containment entry/exit
      // with NO proper crossing (vertex-incident touch); without a cut
      // there, one span midpoint would misclassify the whole span
      if (v != p && v != q && S2Pred.pointOnEdge(v, p, q)) {
        val t = theta(v)
        if (t > CoverEps && t < total - CoverEps) cuts += t
      }
    def addCut(c: S2Point, d: S2Point): Unit = {
      if (S2Pred.crossingSign(p, q, c, d) > 0) {
        val t = theta(PolyOverlay.intersectionPoint(p, q, c, d))
        if (t > CoverEps && t < total - CoverEps) cuts += t
      }
      vertexCut(c); vertexCut(d)
    }
    if (a.numEdges >= EdgeIndex.MinEdges) {
      // edge-index candidates include line edges too — extra cuts at
      // non-boundary crossings only subdivide spans, never change coverage
      val idx = a.edgeIndex
      val cands = idx.candidates(p, q)
      var i = cands.nextSetBit(0)
      while (i >= 0) { addCut(idx.starts(i), idx.ends(i)); i = cands.nextSetBit(i + 1) }
    } else {
      a.foreachRingEdge { (c, d) => addCut(c, d); true }
    }
    val sortedCuts = cuts.sorted
    val out = Vector.newBuilder[(Double, Double)]
    var i = 0
    while (i + 1 < sortedCuts.size) {
      val t1 = sortedCuts(i); val t2 = sortedCuts(i + 1)
      if (t2 - t1 > CoverEps) {
        val mid = slerp(p, q, total, (t1 + t2) / 2)
        if (a.polygonContains(mid)) out += ((t1, t2))
      }
      i += 1
    }
    out.result()
  }

  /** Point at angular parameter t along the great-circle arc p -> q. */
  private def slerp(p: S2Point, q: S2Point, theta: Double, t: Double): S2Point = {
    val s = Math.sin(theta)
    if (s < 1e-15) p
    else ((p * Math.sin(theta - t)) + (q * Math.sin(t))) * (1.0 / s)
  }

  /** Angular sub-intervals of the arc [p, q] (parameter range [0, angle])
    * covered by a's exactly-collinear edges. First element of the result is
    * the identical-edge short-circuit. */
  private def collinearIntervals(p: S2Point, q: S2Point, a: GeoShapes)
      : (Boolean, Vector[(Double, Double)]) = {
    val total = p.angle(q)
    val n = p.cross(q)
    val nn = n.norm
    if (nn < 1e-30) return (false, Vector.empty) // antipodal: undefined circle
    val nHat = n * (1.0 / nn)
    val twoPi = 2 * Math.PI

    // angular parameter of x (known collinear) from p, in (-pi, pi]
    def theta(x: S2Point): Double = Math.atan2(x.cross(p).dot(nHat) * -1.0, p.dot(x))

    val intervals = Vector.newBuilder[(Double, Double)]
    var fullyCovered = false
    def visit(c: S2Point, d: S2Point): Boolean =
      if ((c == p && d == q) || (c == q && d == p)) { fullyCovered = true; false }
      else if (c != d && S2Pred.collinearExact(p, q, c) && S2Pred.collinearExact(p, q, d)) {
        val tc = theta(c); val td = theta(d)
        // the edge is the SHORT arc c->d; in unwrapped coords either
        // [min,max] (span <= pi) or the wrap-around [max, min + 2pi]
        val (lo, hi) =
          if (Math.abs(tc - td) <= Math.PI) (Math.min(tc, td), Math.max(tc, td))
          else (Math.max(tc, td), Math.min(tc, td) + twoPi)
        var shift = -twoPi
        while (shift <= twoPi) {
          val s = Math.max(lo + shift, 0.0)
          val e = Math.min(hi + shift, total)
          if (e >= s - CoverEps) intervals += ((s, e))
          shift += twoPi
        }
        true
      } else true
    if (a.numEdges >= EdgeIndex.MinEdges) {
      // a collinear edge contributing any overlap lies ON the arc, so it
      // shares covering cells with (p, q): the index candidates are a true
      // superset, and the O(E_a) scan per probe edge collapses to the few
      // cell-colocated edges (or nothing — the common negative case on
      // cover-refine join candidates)
      val idx = a.edgeIndex
      val cands = idx.candidates(p, q)
      var i = cands.nextSetBit(0)
      while (i >= 0 && !fullyCovered) {
        visit(idx.starts(i), idx.ends(i))
        i = cands.nextSetBit(i + 1)
      }
    } else {
      a.foreachEdge(visit)
    }
    (fullyCovered, intervals.result())
  }

  private def vertexOfLines(p: S2Point, a: GeoShapes): Boolean = {
    var found = false
    a.foreachEdge { (c, d) => if (c == p || d == p) { found = true; false } else true }
    found
  }

  // ------------------------------------------------------------- distance

  /** Min distance in radians; +inf if either empty
    * (reference: s2_binary_index_ops.cpp:628-631). Best-first search over
    * the distance index replaces the O(E_a * E_b) scan (ClosestEdge). */
  def distanceAngle(a: GeoShapes, b: GeoShapes): Double = {
    if (a.isEmpty || b.isEmpty) return Double.PositiveInfinity
    if (intersects(a, b)) return 0.0
    ClosestEdge.minAngle(a, b)
  }

  /** Max distance in radians; +inf if either empty. */
  def maxDistanceAngle(a: GeoShapes, b: GeoShapes): Double = {
    if (a.isEmpty || b.isEmpty) return Double.PositiveInfinity
    ClosestEdge.maxAngle(a, b)
  }

  def distanceMeters(a: GeoShapes, b: GeoShapes): Double = {
    val ang = distanceAngle(a, b)
    if (ang.isInfinite) ang else ang * S2EdgeDist.EarthRadiusMeters
  }

  def maxDistanceMeters(a: GeoShapes, b: GeoShapes): Double = {
    val ang = maxDistanceAngle(a, b)
    if (ang.isInfinite) ang else ang * S2EdgeDist.EarthRadiusMeters
  }

  def dwithin(a: GeoShapes, b: GeoShapes, meters: Double): Boolean = {
    if (a.isEmpty || b.isEmpty) return false // reference: false even for inf
    if (intersects(a, b)) return true
    // early exit: any distance at or below the threshold decides true, so the
    // best-first search stops at the first such witness instead of refining
    // to the exact minimum
    // shrink the stop threshold a hair so an early exit can never flip the
    // final *R <= meters comparison at an fp boundary
    val ang = ClosestEdge.minAngle(a, b, stopBelow = (meters / S2EdgeDist.EarthRadiusMeters) * (1 - 1e-12))
    ang * S2EdgeDist.EarthRadiusMeters <= meters
  }
}
