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
 * boundaries, and a spherical Weiler-Atherton polygon clipper over the
 * exact predicates in S2Pred. Polygon algebra is region-exact for
 * multi-ring and hole-bearing inputs: regions decompose into disjoint
 * shell+hole groups (PolyClip.intersectRegions / diffRegions /
 * unionRegions); union output boundaries are canonical (seams dissolved).
 *
 * Degeneracy scope (r5): inputs whose boundaries properly cross or are
 * disjoint are exact. Shared-boundary touches are handled when the shared
 * arc is exactly coplanar in fp (equator, lon-0) or a same-meridian
 * segment (crossing-collection guard + seam cancellation); a vertex
 * landing ulp-NEAR the other ring's edge can still give the traversal an
 * odd crossing count and corrupt that piece — full robustness needs snap
 * rounding (S2BooleanOperation's model, reference
 * src/s2_binary_index_ops.cpp). DissolveSpec's fuzz pins the supported
 * space.
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
    val polys = mutable.ArrayBuffer[Vector[Vector[S2Point]]]()
    if (sa.hasPolygons && sb.hasPolygons) {
      val ga = groupsOf(a); val gb = groupsOf(b)
      polys ++= toRingGroups(PolyOverlay.intersect(ga, gb)
        .getOrElse(PolyClip.intersectRegions(ga, gb)))
    }
    assemble(pts.toVector, lines.toVector, polys.toVector)
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
    val polys = mutable.ArrayBuffer[Vector[Vector[S2Point]]]()
    if (sa.hasPolygons) {
      if (sb.hasPolygons) {
        val ga = groupsOf(a); val gb = groupsOf(b)
        polys ++= toRingGroups(PolyOverlay.diff(ga, gb)
          .getOrElse(PolyClip.diffRegions(ga, gb)))
      } else polys ++= toRingGroups(groupsOf(a))
    }
    assemble(pts, lines.toVector, polys.toVector)
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
    val polys = mutable.ArrayBuffer[Vector[Vector[S2Point]]]()
    if (sa.hasPolygons || sb.hasPolygons) {
      if (sa.hasPolygons && sb.hasPolygons) {
        val ga = groupsOf(a); val gb = groupsOf(b)
        polys ++= toRingGroups(PolyOverlay.union(ga, gb)
          .getOrElse(PolyClip.unionRegions(ga, gb)))
      } else polys ++= toRingGroups(groupsOf(a) ++ groupsOf(b))
    }
    assemble(pts.toVector.distinct, lines.toVector, polys.toVector)
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
    * clip algebra operates on). */
  private def groupsOf(g: Geography): Vector[PolyClip.Group] = g match {
    case p: Polygons =>
      p.ringGroups.filter(_.exists(_.size >= 3))
        .map(rs => PolyClip.Group(rs.head, rs.tail.filter(_.size >= 3)))
    case Collection(items) => items.flatMap(groupsOf)
    case _ => Vector.empty
  }

  private def toRingGroups(gs: Vector[PolyClip.Group]): Vector[Vector[Vector[S2Point]]] =
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
          // same phantom-crossing guard as intersectPair: a line segment
          // exactly collinear with a region edge does not cross it
          if (S2Pred.crossingSign(a, b, c, d) > 0 &&
              !(S2Pred.nearCollinear(a, b, c) && S2Pred.nearCollinear(a, b, d))) {
            val x0 = PolyClip.intersectionPoint(a, b, c, d)
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

/** Spherical polygon clipping (Weiler-Atherton traversal with exact
  * crossing predicates). Regions are shell+holes [[PolyClip.Group]]s and
  * the algebra is hole-aware: intersect/diff/union recurse through each
  * group's holes ([[diffGroupRing]] / [[intersectGroupRing]]), so areas and
  * containment follow inclusion-exclusion exactly. Only the seam boundaries
  * between adjacent result pieces are non-canonical. */
object PolyClip {
  type Ring = Vector[S2Point]

  /** One polygon piece: region = shell minus holes. Region = union of
    * disjoint groups (boundaries may touch along seams — exact point set). */
  final case class Group(shell: Ring, holes: Vector[Ring])

  /** Robust spherical edge intersection point of crossing edges. The
    * double-precision cross-product chain has direction error ~eps/|x|
    * where |x| ~ sin(crossing angle): near-PARALLEL crossings (shared
    * borders digitized twice with ulp drift cross at ~1e-11 rad) would be
    * off by meters. Below a safe norm threshold the direction is recomputed
    * with exact BigDecimal arithmetic (doubles are exact in BigDecimal, so
    * (a x b) x (c x d) is exact; only the final normalize rounds), keeping
    * the error ~1 ulp at ANY crossing angle. */
  def intersectionPoint(a: S2Point, b: S2Point, c: S2Point, d: S2Point): S2Point = {
    val x = a.cross(b).cross(c.cross(d))
    val n = x.norm
    val p =
      if (n >= 1e-6) x * (1.0 / n)
      else exactIntersectionDir(a, b, c, d).getOrElse((a + b + c + d).normalize)
    if (p.dot(a + b) < 0) -p else p
  }

  private def exactIntersectionDir(a: S2Point, b: S2Point,
                                   c: S2Point, d: S2Point): Option[S2Point] = {
    import java.math.{BigDecimal => BD}
    def bd(v: Double) = new BD(v)
    def cross(x1: BD, y1: BD, z1: BD, x2: BD, y2: BD, z2: BD): (BD, BD, BD) =
      (y1.multiply(z2).subtract(z1.multiply(y2)),
       z1.multiply(x2).subtract(x1.multiply(z2)),
       x1.multiply(y2).subtract(y1.multiply(x2)))
    val (n1x, n1y, n1z) = cross(bd(a.x), bd(a.y), bd(a.z), bd(b.x), bd(b.y), bd(b.z))
    val (n2x, n2y, n2z) = cross(bd(c.x), bd(c.y), bd(c.z), bd(d.x), bd(d.y), bd(d.z))
    val (xx, xy, xz) = cross(n1x, n1y, n1z, n2x, n2y, n2z)
    val m = xx.abs.max(xy.abs).max(xz.abs)
    if (m.signum == 0) return scala.None
    // rescale so the largest component is O(1) before the double convert
    // (|x| can underflow a double for femto-angle crossings)
    val shift = -(m.precision - m.scale - 1)
    val v = S2Point(xx.scaleByPowerOfTen(shift).doubleValue,
      xy.scaleByPowerOfTen(shift).doubleValue,
      xz.scaleByPowerOfTen(shift).doubleValue)
    val nn = v.norm
    if (nn == 0.0 || nn.isNaN || nn.isInfinite) scala.None else Some(v * (1.0 / nn))
  }

  /** Raw traversal output rings -> engine-convention groups: every stored
    * ring encloses its small (<= hemisphere) side; shells first, nested
    * rings become holes of their containing shell. */
  private def rawToGroups(rings: Vector[Ring]): Vector[Group] = {
    val norm = rings.filter(_.size >= 3)
      .map(r => if (new S2Loop(r.toArray).isInverted) r.reverse else r)
    regroup(norm).map(g => Group(g.head, g.tail))
  }

  /** Recursion cap for pathological hole nesting (never hit by real data —
    * each level consumes one hole ring of a finite input). */
  private val MaxDepth = 64

  /** Group minus the single-ring region r:  (s \ H) \ r = (s \ r) \ H.
    * On the sphere \ r is intersection with the reversed ring. */
  def diffGroupRing(g: Group, r: Ring, depth: Int = 0): Vector[Group] = {
    if (depth > MaxDepth) return Vector(g)
    val pieces = rawToGroups(intersectPair(g.shell, r.reverse))
    g.holes.foldLeft(pieces)((acc, h) => acc.flatMap(p => diffGroupRing(p, h, depth + 1)))
  }

  /** Group intersected with the single-ring region r: (s ∩ r) \ H. */
  def intersectGroupRing(g: Group, r: Ring, depth: Int = 0): Vector[Group] = {
    if (depth > MaxDepth) return Vector(g)
    val pieces = rawToGroups(intersectPair(g.shell, r))
    g.holes.foldLeft(pieces)((acc, h) => acc.flatMap(p => diffGroupRing(p, h, depth + 1)))
  }

  /** A ∩ B = ∪_{ga, gb} ((ga ∩ shell_b) \ holes_b). */
  def intersectRegions(a: Vector[Group], b: Vector[Group]): Vector[Group] =
    for {
      gb <- b
      ga <- a
      piece <- gb.holes.foldLeft(intersectGroupRing(ga, gb.shell))(
        (acc, h) => acc.flatMap(p => diffGroupRing(p, h)))
    } yield piece

  /** A \ B, one group of B at a time:
    * X \ (s \ H) = (X \ s) ∪ ∪_h (X ∩ h)  — disjoint pieces. */
  def diffRegions(a: Vector[Group], b: Vector[Group]): Vector[Group] =
    b.foldLeft(a) { (acc, gb) =>
      acc.flatMap(g => diffGroupRing(g, gb.shell)) ++
        gb.holes.flatMap(h => acc.flatMap(g => intersectGroupRing(g, h)))
    }

  /**
   * A ∪ B. Single hole-free rings merge into one boundary via the
   * complement identity (A ∪ B = ¬(¬A ∩ ¬B) — one traversal, no seams);
   * the general multi-ring / hole-bearing case decomposes into the exact
   * disjoint form A ⊎ (B \ A) and then DISSOLVES the seam boundaries the
   * pieces share (see [[dissolveSeams]]), so the output is one canonical
   * boundary per connected region — same closed point set either way.
   */
  def unionRegions(a: Vector[Group], b: Vector[Group]): Vector[Group] = {
    if (a.size == 1 && b.size == 1 && a.head.holes.isEmpty && b.head.holes.isEmpty) {
      val r = intersectPair(a.head.shell.reverse, b.head.shell.reverse)
      if (r.nonEmpty) return rawToGroups(r.map(_.reverse))
    }
    dissolveSeams(a ++ diffRegions(b, a))
  }

  /** Distance-tolerant "w lies on the open arc (u, v)": within ~1e-12 rad
    * of the great circle and inside the arc's wedge. Used only to ALIGN
    * seam subdivisions (the crossing points stored in one piece's ring are
    * only fp-close to the other piece's edge), never to decide topology. */
  private def onArcTol(w: S2Point, u: S2Point, v: S2Point): Boolean = {
    if (w == u || w == v) return false
    val n = u.cross(v)
    val nn = n.norm
    if (nn < 1e-30) return false
    if (Math.abs(w.dot(n)) / nn > 1e-12) return false
    val uv = u.dot(v)
    w.dot(u) > uv - 1e-15 && w.dot(v) > uv - 1e-15 && w.dot(u + v) > 0
  }

  /** Normalize a ring to enclose its small side (engine storage form). */
  private[core] def normRing(r: Ring): Ring =
    if (r.size >= 3 && new S2Loop(r.toArray).isInverted) r.reverse else r

  private[core] def groupArea(g: Group): Double =
    new S2Loop(normRing(g.shell).toArray).area -
      g.holes.map(h => new S2Loop(normRing(h).toArray).area).sum

  /**
   * Merge seam-adjacent groups into canonical boundaries. The input is a
   * DISJOINT decomposition of a region whose adjacent pieces may share
   * boundary arcs (the A ⊎ (B \ A) union form). Steps:
   *
   *   1. orient every boundary edge region-on-the-LEFT (shells as stored,
   *      holes reversed) — a shared seam arc is then traversed in opposite
   *      directions by its two adjacent pieces;
   *   2. split every edge at other rings' vertices lying on it (the two
   *      sides of a seam subdivide it differently: one keeps the original
   *      vertices, the other inserts crossing points);
   *   3. cancel opposite directed edges — exactly the seams;
   *   4. stitch what remains into closed rings and regroup shells/holes.
   *
   * Output rings are rotated to start at their lexicographically smallest
   * vertex and groups are sorted, so the WKT of a union is deterministic
   * (canonical for THIS engine; vertex order is not S2BooleanOperation's).
   * If stitching fails or the merged area drifts, the seam-decomposed
   * input is returned unchanged — correctness never regresses for the
   * sake of boundary form.
   */
  def dissolveSeams(groups: Vector[Group]): Vector[Group] = {
    if (groups.size <= 1) return groups
    val edges = mutable.ArrayBuffer[(S2Point, S2Point)]()
    for (g <- groups) {
      val shell = normRing(g.shell)
      if (shell.size >= 3) {
        var i = 0
        while (i < shell.size) {
          edges += ((shell(i), shell((i + 1) % shell.size)))
          i += 1
        }
      }
      for (h0 <- g.holes; h = normRing(h0) if h.size >= 3) {
        // region lies OUTSIDE the hole: reverse for region-left orientation
        var i = h.size - 1
        while (i >= 0) {
          edges += ((h((i + 1) % h.size), h(i)))
          i -= 1
        }
      }
    }
    // vertex registry for seam alignment
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val split = mutable.ArrayBuffer[(S2Point, S2Point)]()
    for ((u, v) <- edges) {
      val interior = verts.filter(w => onArcTol(w, u, v))
      if (interior.isEmpty) split += ((u, v))
      else {
        val chain = (u +: interior.sortBy(w => u.angle(w))) :+ v
        var i = 0
        while (i + 1 < chain.size) {
          if (chain(i) != chain(i + 1)) split += ((chain(i), chain(i + 1)))
          i += 1
        }
      }
    }
    // cancel opposite directed edges (the seams), multiplicity-aware
    val count = mutable.LinkedHashMap[(S2Point, S2Point), Int]()
    for (e <- split) count(e) = count.getOrElse(e, 0) + 1
    val kept = mutable.ArrayBuffer[(S2Point, S2Point)]()
    for ((e @ (u, v), c) <- count) {
      val opp = count.getOrElse((v, u), 0)
      val survivors = c - Math.min(c, opp)
      var i = 0
      while (i < survivors) { kept += e; i += 1 }
    }
    if (kept.isEmpty) return groups
    // stitch: successor edges by start vertex, consumed in insertion order
    val bySrc = mutable.HashMap[S2Point, mutable.Queue[Int]]()
    for (i <- kept.indices)
      bySrc.getOrElseUpdate(kept(i)._1, mutable.Queue.empty) += i
    val used = new Array[Boolean](kept.size)
    val rings = mutable.ArrayBuffer[Ring]()
    for (start <- kept.indices if !used(start)) {
      val ring = mutable.ArrayBuffer[S2Point]()
      var cur = start
      var ok = true
      var closed = false
      while (ok && !closed) {
        used(cur) = true
        ring += kept(cur)._1
        val nxt = kept(cur)._2
        // closing wins over continuing: at a pinch vertex with another
        // unused outgoing edge, preferring continuation would merge two
        // rings into one non-simple ring
        if (nxt == kept(start)._1) closed = true
        else bySrc.get(nxt).flatMap(q => q.dequeueFirst(i => !used(i))) match {
          case Some(i) => cur = i
          case scala.None => ok = false // dangling boundary
        }
      }
      if (!ok) return groups // dangling boundary: bail out, keep exact form
      val dedup = dedupeRing(ring.toVector)
      if (dedup.size >= 3) rings += dedup
    }
    if (rings.isEmpty) return groups
    // store rings small-side-enclosing, rotate to a canonical start, group
    val stored = rings.map(normRing).map { r =>
      val k = r.indices.minBy(i => (r(i).x, r(i).y, r(i).z))
      r.drop(k) ++ r.take(k)
    }
    val out = regroupNested(stored.toVector)
      .sortBy(g => (g.shell.head.x, g.shell.head.y, g.shell.head.z))
    // safety net: the dissolve is boundary-only — any area drift means a
    // stitching defect, so fall back to the exact seam-decomposed form
    val before = groups.map(groupArea).sum
    val after = out.map(groupArea).sum
    if (Math.abs(after - before) > Math.max(1e-12, before * 1e-9)) groups else out
  }

  /** Containment probe for ring nesting that avoids the container's
    * boundary: a ring touching another at a point (T-junction, corner
    * touch) must not be classified by that touch point — S2Loop.contains
    * is unspecified ON the boundary. Picks the first vertex (then edge
    * midpoint) of `r` clearly off `container`'s boundary; falls back to
    * the head vertex only when every probe is boundary-incident (rings
    * sharing their entire boundary — ambiguous either way). */
  private def offBoundaryContains(container: S2Loop, containerRing: Ring,
                                  r: Ring): Boolean = {
    val btol = 1e-9
    def onBoundary(p: S2Point): Boolean = {
      var i = 0
      while (i < containerRing.size) {
        val u = containerRing(i); val v = containerRing((i + 1) % containerRing.size)
        if (p == u || p.angle(u) <= btol) return true
        val n = u.cross(v); val nn = n.norm
        if (nn >= 1e-30 && Math.abs(p.dot(n)) / nn <= btol &&
            p.dot(n.cross(u)) > 0 && p.dot(v.cross(n)) > 0) return true
        i += 1
      }
      false
    }
    var i = 0
    while (i < r.size) {
      if (!onBoundary(r(i))) return container.contains(r(i))
      i += 1
    }
    i = 0
    while (i < r.size) {
      val m = (r(i) + r((i + 1) % r.size)).normalize
      if (!onBoundary(m)) return container.contains(m)
      i += 1
    }
    container.contains(r.head)
  }

  /** Parity-aware nesting for dissolve output: a ring inside an EVEN
    * number of other rings is a shell, odd makes it a hole of its
    * innermost container — unlike [[regroup]], an island nested inside a
    * hole becomes its own polygon, not a second hole of the outer shell. */
  private[core] def regroupNested(rings: Vector[Ring]): Vector[Group] = {
    if (rings.size <= 1) return rings.map(r => Group(r, Vector.empty))
    val loops = rings.map(r => new S2Loop(r.toArray))
    val order = rings.indices.sortBy(i => -loops(i).area)
    val holesOf = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[Ring]]()
    for ((i, k) <- order.zipWithIndex) {
      val containers = order.take(k).filter(j =>
        offBoundaryContains(loops(j), rings(j), rings(i)))
      if (containers.size % 2 == 0) holesOf(i) = mutable.ArrayBuffer()
      else {
        val parent = containers.minBy(j => loops(j).area)
        // in well-formed nesting the innermost container of an odd-depth
        // ring is a shell; fall back to own-shell if it is not
        if (holesOf.contains(parent)) holesOf(parent) += rings(i)
        else holesOf(i) = mutable.ArrayBuffer()
      }
    }
    holesOf.iterator.map { case (i, hs) => Group(rings(i), hs.toVector) }.toVector
  }

  /** Group normalized rings into polygons: the largest containing ring of a
    * ring is its shell (nested-ring holes); top-level rings are shells. */
  private def regroup(rings: Vector[Vector[S2Point]]): Vector[Vector[Vector[S2Point]]] = {
    if (rings.size <= 1) return rings.map(Vector(_))
    val withLoops = rings.map(r => (r, new S2Loop(r.toArray)))
      .sortBy { case (_, l) => -l.area }
    val groups = mutable.ArrayBuffer[mutable.ArrayBuffer[Vector[S2Point]]]()
    val shellLoops = mutable.ArrayBuffer[(S2Loop, Vector[S2Point])]()
    for ((r, _) <- withLoops) {
      val shellIdx = shellLoops.indexWhere { case (l, sr) => offBoundaryContains(l, sr, r) }
      if (shellIdx >= 0) groups(shellIdx) += r // hole of that shell
      else {
        groups += mutable.ArrayBuffer(r)
        shellLoops += ((new S2Loop(r.toArray), r))
      }
    }
    groups.map(_.toVector).toVector
  }

  /** Intersection of two single rings (regions to the left of each ring's
    * direction). Returns the boundary rings of the result region. */
  private def intersectPair(ra: Vector[S2Point], rb: Vector[S2Point]): Vector[Vector[S2Point]] = {
    val loopA = new S2Loop(ra.toArray)
    val loopB = new S2Loop(rb.toArray)

    final case class Cross(ai: Int, bi: Int, p: S2Point)
    val crossings = mutable.ArrayBuffer[Cross]()
    for (i <- ra.indices; j <- rb.indices) {
      val a1 = ra(i); val a2 = ra((i + 1) % ra.size)
      val b1 = rb(j); val b2 = rb((j + 1) % rb.size)
      // Near-collinear overlapping edges get a PHANTOM +1 from the
      // symbolic perturbation (their planes coincide to ulp, so the
      // "intersection point" would be garbage, and a shared arc is not a
      // transversal crossing) — skip those; the no-crossing containment
      // logic and, for unions, seam cancellation handle shared arcs.
      // Vertex-INCIDENT crossings (an edge passing through the other
      // ring's vertex) are kept: the perturbed signs make them consistent
      // entry/exit nodes, and rejecting them breaks hole traversals.
      // Degenerate-overlap guard: edges whose planes are ulp-apart but NOT
      // exactly coplanar (rounded same-meridian coordinates) really cross
      // an ODD number of times, which breaks the traversal's node pairing
      // — treat them as the shared arc they nominally are (no crossing;
      // containment logic + union seam cancellation handle shared arcs).
      // EXACTLY coplanar overlaps keep their perturbed crossing node: the
      // symbolic tie-break resolves those consistently (S2's degeneracy
      // model) and hole traversals depend on it.
      if (S2Pred.crossingSign(a1, a2, b1, b2) > 0 &&
          !(S2Pred.nearCollinear(a1, a2, b1) && S2Pred.nearCollinear(a1, a2, b2) &&
            !(S2Pred.collinearExact(a1, a2, b1) && S2Pred.collinearExact(a1, a2, b2))))
        crossings += Cross(i, j, intersectionPoint(a1, a2, b1, b2))
    }

    if (crossings.isEmpty) {
      // Representative-point containment must dodge the OTHER ring's
      // boundary: externally-touching rings (a shared collinear arc on one
      // meridian, no proper crossing) can have ring.head exactly ON the
      // other boundary, where the parity walk's answer is arbitrary — an
      // r5 fuzz case lost B \ A entirely that way. Prefer a vertex off the
      // boundary, then an edge midpoint, before trusting parity.
      def sideOf(ring: Vector[S2Point], other: S2Loop): Boolean =
        ring.find(v => !other.onBoundary(v)).map(other.contains).getOrElse {
          val mid = ring.indices.iterator
            .map(i => (ring(i) + ring((i + 1) % ring.size)).normalize)
            .find(m => !other.onBoundary(m))
          mid.map(other.contains).getOrElse(true) // boundary-identical rings
        }
      val aInB = sideOf(ra, loopB)
      val bInA = sideOf(rb, loopA)
      return if (aInB && bInA) Vector(ra, rb)
      else if (aInB) Vector(ra)
      else if (bInA) Vector(rb)
      else Vector.empty
    }

    // augmented cycles: original vertices + crossing nodes in edge order
    def augmented(ring: Vector[S2Point], edgeOf: Cross => Int): Vector[(S2Point, Cross)] = {
      val buf = mutable.ArrayBuffer[(S2Point, Cross)]()
      for (i <- ring.indices) {
        buf += ((ring(i), null))
        crossings.filter(c => edgeOf(c) == i)
          .sortBy(c => ring(i).angle(c.p))
          .foreach(c => buf += ((c.p, c)))
      }
      buf.toVector
    }
    val seqA = augmented(ra, _.ai)
    val seqB = augmented(rb, _.bi)

    def segMidInside(seq: Vector[(S2Point, Cross)], i: Int, other: S2Loop): Boolean = {
      val p = seq(i)._1; val q = seq((i + 1) % seq.size)._1
      other.contains((p + q).normalize)
    }

    val results = mutable.ArrayBuffer[Vector[S2Point]]()
    val used = mutable.Set[Cross]()

    for (startIdx <- seqA.indices; c0 = seqA(startIdx)._2; if c0 != null)
      if (!used(c0) && segMidInside(seqA, startIdx, loopB)) {
        // traverse: follow A while inside B; at each crossing switch loops
        val ring = mutable.ArrayBuffer[S2Point](c0.p)
        used += c0
        var onA = true
        var idx = startIdx
        var done = false
        var guard = 0
        while (!done && guard < 100000) {
          guard += 1
          val seq = if (onA) seqA else seqB
          idx = (idx + 1) % seq.size
          val (p, cr) = seq(idx)
          if (cr != null) {
            if (cr == c0) done = true
            else {
              used += cr
              ring += cr.p
              val other = if (onA) seqB else seqA
              idx = other.indexWhere(_._2 == cr)
              onA = !onA
            }
          } else if (ring.isEmpty || ring.last != p) ring += p
        }
        if (ring.size >= 3) results += dedupeRing(ring.toVector)
      }
    results.toVector.filter(_.size >= 3)
  }

  /** Drop consecutive (near-)duplicate vertices: crossings computed next
    * to an existing vertex land within ulp of it, and a doubled vertex
    * corrupts the turn-angle curvature sum (garbage loop areas). ~6 um
    * tolerance on Earth. */
  private[core] def dedupeRing(r: Vector[S2Point]): Vector[S2Point] = {
    @inline def near(a: S2Point, b: S2Point): Boolean = a == b || a.angle(b) < 1e-12
    val out = mutable.ArrayBuffer[S2Point]()
    for (p <- r) if (out.isEmpty || !near(out.last, p)) out += p
    while (out.size > 1 && near(out.head, out.last)) out.remove(out.size - 1)
    out.toVector
  }
}
