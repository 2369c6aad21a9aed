package graft.core

import scala.collection.mutable

/**
 * Planar-graph polygon overlay — the one engine behind s2_intersection /
 * s2_difference / s2_union on polygon inputs (reference semantics:
 * src/s2_binary_index_ops.cpp:157-448, whose S2BooleanOperation gets its
 * degenerate-input robustness from S2Builder snap rounding).
 *
 * A ring-pair traversal corrupts pieces when a vertex lands ulp-NEAR the
 * other ring's edge (the crossing-node pairing sees an odd count). This
 * engine removes that failure class the way S2BooleanOperation does —
 * make near-incidences EXACT, then operate on a planar subdivision where
 * edges meet only at shared endpoints:
 *
 *   1. SNAP-ALIGN (~[[SnapTol]] = 1e-12 rad ≈ 6 µm): merge cross-input
 *      vertex pairs within tolerance to one canonical point, and reroute
 *      every edge through canonical vertices lying within tolerance of
 *      it. Clean inputs are untouched (nothing is within tolerance), so
 *      exact results and pinned goldens do not move.
 *   2. SUBDIVIDE: split every edge at its proper crossings with the
 *      other input's edges (crossing points computed once per pair and
 *      themselves snapped to nearby canonical vertices). Near-collinear
 *      edge pairs are shared arcs, not crossings — after step 1 both
 *      sides subdivide a shared arc at the SAME canonical vertex chain,
 *      so shared sub-edges match EXACTLY, no tolerance needed.
 *   3. CLASSIFY each directed region-left sub-edge: exact shared-arc
 *      match against the other side (same or opposite direction), else
 *      parity containment of its midpoint in the other (snapped) region.
 *   4. SELECT boundary edges per op (∩ / ∪ / \) and STITCH them into
 *      rings, preferring ring closure, then continuation on the same
 *      source ring (keeps corner-touching rings separate), then any
 *      unused successor.
 *
 * A side with no ring of 3 or more vertices, or whose rings all collapse
 * once snapped onto the other side's vertices, is the empty region:
 * A ∩ ∅ = ∅, A \ ∅ = A, ∅ \ A = ∅, A ∪ ∅ = A.
 *
 * All three ops are selected from ONE subdivision, which makes the
 * self-check nearly free: |A∩B|+|A\B| must equal |A|, |A∩B|+|B\A| = |B|,
 * and |A∪B| = |A|+|B|-|A∩B|. A violation, a stitching failure or any
 * other exception inside the overlay throws [[OverlayException]] naming
 * the stage; no partial or approximate answer is returned.
 */
object PolyOverlay {
  type Ring = Vector[S2Point]

  /** One polygon piece: region = shell minus holes. Region = union of
    * disjoint groups (boundaries may touch along seams — exact point set). */
  final case class Group(shell: Ring, holes: Vector[Ring])

  /** An overlay that cannot be completed: the message names the stage. */
  final case class OverlayException(msg: String) extends RuntimeException(msg)

  /** Base snap-alignment tolerance in radians (~6 µm on Earth): generous
    * for ulp-scale degeneracy, far below any real-data feature size. */
  private val SnapTol = 1e-12

  /** Ceiling for the ADAPTIVE snap radius (~2.5 mm on Earth) and the
    * band below which a cross-input distance counts as degenerate. A
    * fixed radius has a cliff: a vertex 1.4x the radius away neither
    * merges nor behaves as a clean crossing, and the classification
    * operates at fp-noise scale (the round-8 fuzz found exactly this).
    * S2Builder solves it by requiring the CALLER to pick a snap radius
    * at/above the data's degeneracy scale; we derive it instead: observe
    * every cross-input vertex-vertex and vertex-edge distance below
    * [[DegenBand]] and set the radius to clear the occupied band
    * (2.5x the largest such distance, capped at [[SnapCap]]). Clean
    * inputs have no sub-band distances and keep [[SnapTol]] — pinned
    * goldens do not move. */
  private val DegenBand = 1e-10
  private val SnapCap = 4e-10

  private def workingTol(aRings: Vector[Ring], bRings: Vector[Ring]): Double = {
    val aV = aRings.flatten.distinct
    val bV = bRings.flatten.distinct
    var maxD = 0.0
    def consider(d: Double): Unit =
      if (d > 0 && d < DegenBand && d > maxD) maxD = d
    for (w <- bV; u <- aV) consider(w.angle(u))
    def edgeDists(verts: Vector[S2Point], rings: Vector[Ring]): Unit =
      for (r <- rings; i <- r.indices; w <- verts) {
        val u = r(i); val v = r((i + 1) % r.size)
        if (w != u && w != v) {
          val n = u.cross(v); val nn = n.norm
          if (nn >= 1e-30 && w.dot(n.cross(u)) > 0 && w.dot(v.cross(n)) > 0)
            consider(Math.abs(w.dot(n)) / nn)
        }
      }
    edgeDists(bV, aRings)
    edgeDists(aV, bRings)
    if (maxD == 0.0) SnapTol
    else Math.max(SnapTol, Math.min(2.5 * maxD, SnapCap))
  }

  def intersect(a: Vector[Group], b: Vector[Group]): Vector[Group] = run(a, b).and
  def union(a: Vector[Group], b: Vector[Group]): Vector[Group] = run(a, b).or
  def diff(a: Vector[Group], b: Vector[Group]): Vector[Group] = run(a, b).minus

  private final case class Results(and: Vector[Group], or: Vector[Group],
                                   minus: Vector[Group])

  /** Directed sub-edge: region on the LEFT walking u -> v; `ring` is a
    * global ring index (source-qualified) used for stitch preference. */
  private final case class DEdge(u: S2Point, v: S2Point, ring: Int)

  private def run(a: Vector[Group], b: Vector[Group]): Results =
    try runImpl(a, b) catch {
      case e: OverlayException => throw e
      case e: Exception => throw OverlayException(s"polygon overlay failed: $e").initCause(e)
    }

  /** Results when B is the empty region. */
  private def withEmptyB(a: Vector[Group]): Results = Results(Vector.empty, a, a)

  private def runImpl(aIn: Vector[Group], bIn: Vector[Group]): Results = {
    // ---- region-left ring chains (shells as stored small-side = CCW;
    // holes reversed), with each ring's GROUP id — containment of a point
    // in the region is per-group (inside the shell AND inside every
    // hole-complement), OR'd across groups; a flat XOR-parity over
    // orientation-aware loops is wrong as soon as a group has a hole
    def leftRings(gs: Vector[Group]): Vector[(Ring, Int)] = gs.zipWithIndex.flatMap {
      case (g, gi) =>
        val rs = normRing(g.shell) +: g.holes.map(h => normRing(h).reverse)
        rs.filter(_.size >= 3).map(r => (r, gi))
    }
    val aPairs = leftRings(aIn)
    val bPairs = leftRings(bIn)
    val aRings0 = aPairs.map(_._1)
    val bRings0 = bPairs.map(_._1)
    // a side with no ring of 3 or more vertices is the empty region
    if (aRings0.isEmpty) return Results(Vector.empty, bIn, Vector.empty)
    if (bRings0.isEmpty) return withEmptyB(aIn)

    // adaptive snap radius: clears the observed degeneracy band (see
    // [[workingTol]]); SnapTol on clean inputs
    val tol = workingTol(aRings0, bRings0)

    // ---- 1. snap-align: canonicalize B vertices onto A vertices within tol
    val aVerts: Vector[S2Point] = aRings0.flatten.distinct
    val bVertsRaw: Vector[S2Point] = bRings0.flatten.distinct
    val canon = mutable.HashMap[S2Point, S2Point]()
    for (w <- bVertsRaw; if !canon.contains(w)) {
      var best: S2Point = null
      var bestD = tol
      for (u <- aVerts) {
        val d = w.angle(u)
        if (d <= bestD) { best = u; bestD = d }
      }
      if (best != null && best != w) canon(w) = best
    }
    def canonChain(r: Ring): Ring = dedupCycle(r.map(p => canon.getOrElse(p, p)))
    val aRings = aRings0 // A vertices are already canonical
    val aGroupOf: Vector[Int] = aPairs.map(_._2)
    val bKept = bPairs.map { case (r, gi) => (canonChain(r), gi) }.filter(_._1.size >= 3)
    val bRings = bKept.map(_._1)
    val bGroupOf: Vector[Int] = bKept.map(_._2)
    if (bRings.isEmpty) return withEmptyB(aIn) // B collapsed onto A's vertices
    val bVerts: Vector[S2Point] = bRings.flatten.distinct

    // ---- 2. subdivision: per-edge cut lists
    // edge id space: rings flattened; cuts(ringIdx)(edgeIdx) = points
    type Cuts = Array[Array[mutable.ArrayBuffer[S2Point]]]
    def newCuts(rings: Vector[Ring]): Cuts =
      rings.map(r => Array.fill(r.size)(mutable.ArrayBuffer[S2Point]())).toArray
    val aCuts = newCuts(aRings)
    val bCuts = newCuts(bRings)

    // 2a. vertex-on-edge incidences (the ulp-degenerate class): reroute
    // each edge through canonical vertices of the OTHER input within tol
    def cutAtVertices(rings: Vector[Ring], cuts: Cuts, verts: Vector[S2Point]): Unit =
      for (ri <- rings.indices; r = rings(ri); i <- r.indices) {
        val u = r(i); val v = r((i + 1) % r.size)
        for (w <- verts; if w != u && w != v && onArcWithin(w, u, v, tol))
          cuts(ri)(i) += w
      }
    cutAtVertices(aRings, aCuts, bVerts)
    cutAtVertices(bRings, bCuts, aVerts)

    // 2b. proper crossings between A and B edges; crossing points snapped
    // to nearby canonical vertices, then to previously seen crossings
    val seenCrossings = mutable.ArrayBuffer[S2Point]()
    def canonPoint(p: S2Point, near: Seq[S2Point]): S2Point = {
      for (q <- near) if (p == q || p.angle(q) <= tol) return q
      for (q <- seenCrossings) if (p.angle(q) <= tol) return q
      seenCrossings += p
      p
    }
    // near-collinear at the WORKING tolerance: both endpoints within tol
    // of the other edge's great circle means a quasi-shared arc
    def nearLine(u: S2Point, v: S2Point, w: S2Point): Boolean = {
      val n = u.cross(v); val nn = n.norm
      nn < 1e-30 || Math.abs(w.dot(n)) / nn <= Math.max(tol, 1e-12)
    }
    for (ai <- aRings.indices; ra = aRings(ai); i <- ra.indices) {
      val a1 = ra(i); val a2 = ra((i + 1) % ra.size)
      for (bi <- bRings.indices; rb = bRings(bi); j <- rb.indices) {
        val b1 = rb(j); val b2 = rb((j + 1) % rb.size)
        // near-collinear pairs are shared arcs (subdivided identically by
        // step 2a), never transversal crossings
        if (S2Pred.crossingSign(a1, a2, b1, b2) > 0 &&
            !(nearLine(a1, a2, b1) && nearLine(a1, a2, b2))) {
          val p = canonPoint(intersectionPoint(a1, a2, b1, b2),
            Seq(a1, a2, b1, b2))
          if (p != a1 && p != a2) aCuts(ai)(i) += p
          if (p != b1 && p != b2) bCuts(bi)(j) += p
        }
      }
    }

    def subdivide(rings: Vector[Ring], cuts: Cuts, ringBase: Int): Vector[DEdge] = {
      val out = mutable.ArrayBuffer[DEdge]()
      for (ri <- rings.indices; r = rings(ri)) {
        val chain = mutable.ArrayBuffer[S2Point]()
        for (i <- r.indices) {
          chain += r(i)
          val u = r(i)
          chain ++= cuts(ri)(i).distinct.sortBy(p => u.angle(p))
        }
        val cyc = dedupCycle(chain.toVector)
        for (i <- cyc.indices)
          out += DEdge(cyc(i), cyc((i + 1) % cyc.size), ringBase + ri)
      }
      out.toVector
    }
    val aEdges = subdivide(aRings, aCuts, 0)
    val bEdges = subdivide(bRings, bCuts, aRings.size)

    // subdivided chains per ring (for the containment index — the
    // classification must test against the SNAPPED geometry, and using
    // identical chains keeps both sides of a shared arc consistent).
    // Containment is per-GROUP: p is in the region iff for some group its
    // shell chain AND every hole chain contain p (hole chains are
    // region-left reversed, so their S2-interior is the hole complement)
    def chainLoopsByGroup(edges: Vector[DEdge], ringBase: Int,
                          groupOf: Vector[Int]): Vector[Vector[S2Loop]] =
      edges.groupBy(_.ring).toVector
        .map { case (rid, es) => (groupOf(rid - ringBase), new S2Loop(es.map(_.u).toArray)) }
        .groupBy(_._1).toVector.sortBy(_._1).map(_._2.map(_._2))
    val aLoops = chainLoopsByGroup(aEdges, 0, aGroupOf)
    val bLoops = chainLoopsByGroup(bEdges, aRings.size, bGroupOf)
    def regionContains(groups: Vector[Vector[S2Loop]], p: S2Point): Boolean =
      groups.exists(_.forall(_.contains(p)))

    // ---- 3. classify + 4. select
    val bSet = bEdges.iterator.map(e => (e.u, e.v)).toSet
    val aSet = aEdges.iterator.map(e => (e.u, e.v)).toSet
    val andSel = mutable.ArrayBuffer[DEdge]()
    val orSel = mutable.ArrayBuffer[DEdge]()
    val minusSel = mutable.ArrayBuffer[DEdge]()
    for (e <- aEdges) {
      if (bSet.contains((e.u, e.v))) { // shared, same direction (A copy)
        andSel += e; orSel += e
      } else if (bSet.contains((e.v, e.u))) { // shared, opposite direction
        minusSel += e
      } else {
        val mid = (e.u + e.v).normalize
        if (regionContains(bLoops, mid)) andSel += e
        else { orSel += e; minusSel += e }
      }
    }
    for (e <- bEdges) {
      if (!aSet.contains((e.u, e.v)) && !aSet.contains((e.v, e.u))) {
        val mid = (e.u + e.v).normalize
        if (regionContains(aLoops, mid)) { andSel += e; minusSel += DEdge(e.v, e.u, e.ring) }
        else orSel += e
      }
    }

    val andG = stitch("AND", andSel.toVector, tol)
    val orG = stitch("OR", orSel.toVector, tol)
    val minusG = stitch("MINUS", minusSel.toVector, tol)

    // ---- self-check: exact area algebra on the snapped geometry
    def regionArea(gs: Vector[Group]): Double = gs.map(groupArea).sum
    val aArea = regionArea(aIn)
    val bArea = regionArea(bIn)
    val i = regionArea(andG); val u = regionArea(orG); val m = regionArea(minusG)
    // gross-corruption tripwire, not an exactness proof: sliver-laden
    // outputs carry curvature-area noise ~eps/edge_len at tiny edges, so
    // the tolerance sits at snap-sliver scale; real corruption (a lost or
    // double-counted piece) is orders of magnitude above it
    val areaTol = Math.max(1e-10, 1e-7 * (aArea + bArea))
    val ok = Math.abs(i + m - aArea) <= areaTol &&
      Math.abs(u - (aArea + bArea - i)) <= areaTol
    if (!ok) throw OverlayException(s"polygon overlay area self-check failed: " +
      s"|A∩B|=$i |A∪B|=$u |A\\B|=$m |A|=$aArea |B|=$bArea tol=$areaTol")
    Results(andG, orG, minusG)
  }

  /** Stitch directed boundary edges into rings: prefer closing the ring,
    * then continuing on the same source ring (keeps corner-touching rings
    * separate instead of producing a figure-eight), then any unused
    * successor. A dangling boundary throws, naming the `op` stitched. */
  private def stitch(op: String, edges: Vector[DEdge], tol: Double): Vector[Group] = {
    if (edges.isEmpty) return Vector.empty
    val bySrc = mutable.HashMap[S2Point, mutable.ArrayBuffer[Int]]()
    for (i <- edges.indices)
      bySrc.getOrElseUpdate(edges(i).u, mutable.ArrayBuffer.empty) += i
    val used = new Array[Boolean](edges.size)
    val rings = mutable.ArrayBuffer[Ring]()
    for (start <- edges.indices if !used(start)) {
      val ring = mutable.ArrayBuffer[S2Point]()
      val startVertex = edges(start).u
      var cur = start
      var closed = false
      while (!closed) {
        used(cur) = true
        ring += edges(cur).u
        val nxt = edges(cur).v
        if (nxt == startVertex) closed = true
        else {
          val cands = bySrc.getOrElse(nxt, mutable.ArrayBuffer.empty)
            .filter(i => !used(i))
          if (cands.isEmpty) throw OverlayException(s"polygon overlay $op stitch failed: " +
            f"dangling boundary at (${nxt.lngDegrees}%.12g ${nxt.latDegrees}%.12g) (${edges.size} edges)")
          val sameRing = cands.find(i => edges(i).ring == edges(cur).ring)
          cur = sameRing.getOrElse(cands.head)
        }
      }
      // output hygiene at 4x the snap tolerance: a pair of corners just
      // OUTSIDE vertex-merge range (e.g. 1.02e-12 rad apart) leaves a stub
      // edge whose turn-angle curvature is fp noise — collapse it here
      // (changes the boundary by <= 4e-12 rad, well inside snap semantics)
      val cyc = dedupeTol(dedupeRing(ring.toVector), 4 * tol)
      if (cyc.size >= 3) rings += cyc
    }
    // canonical storage: small-side rings rotated to lex-min start,
    // parity-nested groups sorted
    val stored = rings.toVector.map(normRing).map { r =>
      val k = r.indices.minBy(i => (r(i).x, r(i).y, r(i).z))
      r.drop(k) ++ r.take(k)
    }
    regroupNested(stored).sortBy(g => (g.shell.head.x, g.shell.head.y, g.shell.head.z))
  }

  /** Drop consecutive vertices within `tol` radians in a cyclic chain. */
  private def dedupeTol(r: Ring, tol: Double): Ring = {
    val out = mutable.ArrayBuffer[S2Point]()
    for (p <- r) if (out.isEmpty || (out.last != p && out.last.angle(p) > tol)) out += p
    while (out.size > 1 && out.head.angle(out.last) <= tol) out.remove(out.size - 1)
    out.toVector
  }

  /** Drop consecutive exact duplicates in a cyclic chain (including the
    * wrap-around pair). */
  private def dedupCycle(r: Ring): Ring = {
    val out = mutable.ArrayBuffer[S2Point]()
    for (p <- r) if (out.isEmpty || out.last != p) out += p
    while (out.size > 1 && out.head == out.last) out.remove(out.size - 1)
    out.toVector
  }

  /** w lies within `tol` of the INTERIOR of arc (u, v): within tol of the
    * great circle and projecting strictly inside the arc's wedge. */
  private def onArcWithin(w: S2Point, u: S2Point, v: S2Point, tol: Double): Boolean = {
    val n = u.cross(v)
    val nn = n.norm
    if (nn < 1e-30) return false
    if (Math.abs(w.dot(n)) / nn > tol) return false
    w.dot(n.cross(u)) > 0 && w.dot(v.cross(n)) > 0
  }

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
    if (m.signum == 0) return None
    // rescale so the largest component is O(1) before the double convert
    // (|x| can underflow a double for femto-angle crossings)
    val shift = -(m.precision - m.scale - 1)
    val v = S2Point(xx.scaleByPowerOfTen(shift).doubleValue,
      xy.scaleByPowerOfTen(shift).doubleValue,
      xz.scaleByPowerOfTen(shift).doubleValue)
    val nn = v.norm
    if (nn == 0.0 || nn.isNaN || nn.isInfinite) None else Some(v * (1.0 / nn))
  }

  /** Normalize a ring to enclose its small side (engine storage form). */
  private def normRing(r: Ring): Ring =
    if (r.size >= 3 && new S2Loop(r.toArray).isInverted) r.reverse else r

  private def groupArea(g: Group): Double =
    new S2Loop(normRing(g.shell).toArray).area -
      g.holes.map(h => new S2Loop(normRing(h).toArray).area).sum

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

  /** Parity-aware nesting of stitched rings: a ring inside an EVEN number
    * of other rings is a shell, odd makes it a hole of its innermost
    * container — an island nested inside a hole becomes its own polygon,
    * not a second hole of the outer shell. */
  private def regroupNested(rings: Vector[Ring]): Vector[Group] = {
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

  /** Drop consecutive (near-)duplicate vertices: crossings computed next
    * to an existing vertex land within ulp of it, and a doubled vertex
    * corrupts the turn-angle curvature sum (garbage loop areas). ~6 um
    * tolerance on Earth. */
  private def dedupeRing(r: Ring): Ring = {
    @inline def near(a: S2Point, b: S2Point): Boolean = a == b || a.angle(b) < 1e-12
    val out = mutable.ArrayBuffer[S2Point]()
    for (p <- r) if (out.isEmpty || !near(out.last, p)) out += p
    while (out.size > 1 && near(out.head, out.last)) out.remove(out.size - 1)
    out.toVector
  }
}
