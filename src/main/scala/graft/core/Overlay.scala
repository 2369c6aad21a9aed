package graft.core

import scala.collection.mutable
import Geography._

/**
 * Overlay operators: s2_intersection / s2_difference / s2_union
 * (reference: src/s2_binary_index_ops.cpp:157-448).
 *
 * Empty/disjoint algebra mirrors the reference's tested short-circuits
 * (binary_index_ops.test:64-128), including the deliberate quirk that
 * s2_intersection with an empty side returns the NON-empty side
 * (s2_binary_index_ops.cpp:341-350) — tested behavior, not set theory.
 *
 * Dimensioned cases: exact point handling, polyline clipping at polygon
 * boundaries, and one polygon engine, the snap-rounded planar-graph
 * overlay [[PolyOverlay]]. Polygon content enters it as shell+holes
 * groups; a group whose shell has fewer than 3 vertices bounds nothing
 * and is dropped with its holes. An overlay the engine cannot complete
 * throws [[PolyOverlay.OverlayException]].
 */
object Overlay {

  private def empty: Geography = Collection(Vector.empty)

  private def disjointCoverings(a: Geography, b: Geography): Boolean =
    !Covering.unionsIntersect(RegionCoverer.cover(a), RegionCoverer.cover(b))

  /** `disjointHint`: caller already knows whether the coverings are
    * disjoint (the blob codec stores each geography's covering — reusing it
    * skips a per-row re-cover of both operands). None -> compute here. */
  def intersection(a: Geography, b: Geography,
                   disjointHint: Option[Boolean] = None): Geography = {
    if (a.isEmpty) return b // reference quirk: empty side -> other side
    if (b.isEmpty) return a
    if (disjointHint.getOrElse(disjointCoverings(a, b))) return empty
    val sa = new GeoShapes(a); val sb = new GeoShapes(b)
    val pts = mutable.ArrayBuffer[S2Point]()
    pts ++= sa.points.filter(p => containsPoint(sb, p))
    pts ++= sb.points.filter(p => containsPoint(sa, p) && !pts.contains(p))
    val lines = mutable.ArrayBuffer[Vector[S2Point]]()
    if (sb.hasPolygons) lines ++= clipLines(linesOf(a), sb, keepInside = true)
    if (sa.hasPolygons) lines ++= clipLines(linesOf(b), sa, keepInside = true)
    val polys = toRingGroups(PolyOverlay.intersect(groupsOf(a), groupsOf(b)))
    assemble(pts.toVector, lines.toVector, polys)
  }

  def difference(a: Geography, b: Geography,
                 disjointHint: Option[Boolean] = None): Geography = {
    if (a.isEmpty) return empty
    if (b.isEmpty) return a
    if (disjointHint.getOrElse(disjointCoverings(a, b))) return a
    val sa = new GeoShapes(a); val sb = new GeoShapes(b)
    val pts = sa.points.filterNot(p => containsPoint(sb, p))
    val lines = mutable.ArrayBuffer[Vector[S2Point]]()
    if (sb.hasPolygons) lines ++= clipLines(linesOf(a), sb, keepInside = false)
    else lines ++= linesOf(a)
    val polys = toRingGroups(PolyOverlay.diff(groupsOf(a), groupsOf(b)))
    assemble(pts, lines.toVector, polys)
  }

  def union(a: Geography, b: Geography): Geography = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val sa = new GeoShapes(a); val sb = new GeoShapes(b)
    val pts = mutable.ArrayBuffer[S2Point]()
    pts ++= sa.points.filterNot(p => containsPoint(sb, p, pointCounts = false))
    pts ++= sb.points.filterNot(p => containsPoint(sa, p) || pts.contains(p))
    // keep points of a that coincide with points of b exactly once
    val dupAB = sa.points.filter(p => sb.points.contains(p))
    pts ++= dupAB.filterNot(pts.contains)
    val lines = mutable.ArrayBuffer[Vector[S2Point]]()
    lines ++= clipLines(linesOf(a), sb, keepInside = false)
    lines ++= clipLines(linesOf(b), sa, keepInside = false)
    val polys = toRingGroups(PolyOverlay.union(groupsOf(a), groupsOf(b)))
    assemble(pts.toVector.distinct, lines.toVector, polys)
  }

  // ------------------------------------------------------------- helpers

  /** Closed-model containment of a point in any component of g. */
  private def containsPoint(s: GeoShapes, p: S2Point, pointCounts: Boolean = true): Boolean =
    (pointCounts && s.hasPoint(p)) || s.onAnyLine(p) ||
      (s.hasPolygons && s.polygonContains(p))

  private def linesOf(g: Geography): Vector[Vector[S2Point]] = g match {
    case Polylines(ls) => ls.filter(_.size >= 2)
    case Collection(items) => items.flatMap(linesOf)
    case _ => Vector.empty
  }

  private def ringsOf(g: Geography): Vector[Vector[S2Point]] = g match {
    case p: Polygons => p.allRings
    case Collection(items) => items.flatMap(ringsOf)
    case _ => Vector.empty
  }

  /** Polygon content as shell+holes groups (the region representation the
    * overlay operates on). A shell of fewer than 3 vertices bounds nothing,
    * so its group goes, holes included. */
  private def groupsOf(g: Geography): Vector[PolyOverlay.Group] = g match {
    case p: Polygons =>
      p.ringGroups.filter(_.headOption.exists(_.size >= 3))
        .map(rs => PolyOverlay.Group(rs.head, rs.tail.filter(_.size >= 3)))
    case Collection(items) => items.flatMap(groupsOf)
    case _ => Vector.empty
  }

  private def toRingGroups(gs: Vector[PolyOverlay.Group]): Vector[Vector[Vector[S2Point]]] =
    gs.map(g => g.shell +: g.holes)

  private def assemble(pts: Vector[S2Point], lines: Vector[Vector[S2Point]],
                       polys: Vector[Vector[Vector[S2Point]]]): Geography = {
    val hasP = pts.nonEmpty; val hasL = lines.nonEmpty; val hasG = polys.nonEmpty
    (hasP, hasL, hasG) match {
      case (false, false, false) => empty
      case (true, false, false) => Points(pts)
      case (false, true, false) => Polylines(lines)
      case (false, false, true) => Polygons(polys)
      case _ =>
        val items = mutable.ArrayBuffer[Geography]()
        if (hasP) items += Points(pts)
        if (hasL) items += Polylines(lines)
        if (hasG) items += Polygons(polys)
        Collection(items.toVector)
    }
  }

  /** Split polylines at polygon-boundary crossings; keep the inside or
    * outside parts (midpoint test per sub-segment). */
  private def clipLines(lines: Vector[Vector[S2Point]], region: GeoShapes,
                        keepInside: Boolean): Vector[Vector[S2Point]] = {
    if (!region.hasPolygons)
      return if (keepInside) Vector.empty else lines
    val out = mutable.ArrayBuffer[Vector[S2Point]]()
    for (line <- lines if line.size >= 2) {
      var current = mutable.ArrayBuffer[S2Point]()
      def flush(): Unit = {
        if (current.size >= 2) out += current.toVector
        current = mutable.ArrayBuffer[S2Point]()
      }
      var i = 0
      while (i + 1 < line.size) {
        val a = line(i); val b = line(i + 1)
        // crossing points with every region edge, ordered along (a, b)
        val cuts = mutable.ArrayBuffer[(Double, S2Point)]()
        region.foreachEdge { (c, d) =>
          // phantom-crossing guard: a line segment exactly collinear
          // with a region edge does not cross it
          if (S2Pred.crossingSign(a, b, c, d) > 0 &&
              !(S2Pred.nearCollinear(a, b, c) && S2Pred.nearCollinear(a, b, d))) {
            val x0 = PolyOverlay.intersectionPoint(a, b, c, d)
            // a crossing at (or within computation ulp of) a segment
            // endpoint — e.g. a line vertex lying exactly on the region
            // boundary, where symbolic perturbation still reports a
            // crossing — must use the endpoint itself, or the ulp-offset
            // cut survives as a duplicate output vertex
            val x = if (x0.angle(a) < 1e-14) a
                    else if (x0.angle(b) < 1e-14) b
                    else x0
            cuts += ((a.angle(x), x))
          }
          true
        }
        val pieces = (Vector((0.0, a)) ++ cuts.sortBy(_._1) :+ ((a.angle(b), b)))
          .map(_._2)
        var k = 0
        while (k + 1 < pieces.size) {
          val p = pieces(k); val q = pieces(k + 1)
          if (p != q) { // zero-length pieces (endpoint cuts) emit nothing
            val mid = (p + q).normalize
            // CLOSED model (reference global_options.hpp:12-13): a piece
            // riding ON the region's ring boundary belongs to the region —
            // the tolerant test catches the midpoint's renormalization ulp
            val inside = region.polygonContains(mid) || region.onAnyLine(mid) ||
              region.onRingBoundaryNear(mid, 1e-13)
            if (inside == keepInside) {
              if (current.isEmpty || current.last != p) { flush(); current += p }
              if (current.last != q) current += q
            } else flush()
          }
          k += 1
        }
        i += 1
      }
      flush()
    }
    out.toVector
  }
}
