package graft.core

import scala.collection.mutable

/**
 * The region coverer: the one algorithm behind every covering of a
 * geography (reference: s2_bounds.cpp:19-144 uses S2RegionCoverer with
 * default max_cells = 8; algorithm re-derived from the public S2 docs:
 * cap-seeded candidates refined through a priority queue that always
 * expands the coarsest / most-refinable candidate first).
 *
 * - `cover` is the default covering. `GeoCodec.encode` writes it inline in
 *   every GEOGRAPHY blob, as the reference encoder does
 *   (s2_geography_serde.hpp:43); `s2_covering` returns it; `Overlay` tests
 *   it for disjointness.
 * - `coverFixedLevel` is every cell at one level that meets the region
 *   (`s2_covering_fixed_level`, the cover-then-refine join keys).
 *
 * Both test cells with one exact classifier built once per geography, so
 * coverings are deterministic; its `SphereCap` bounds only skip tests whose
 * answer they know. `Covering` holds the cell-union algebra.
 */
object RegionCoverer {
  final val DefaultMaxCells = 8
  final val MaxLevel = 30

  private[core] final val Disjoint = 0
  private[core] final val Partial = 1
  private[core] final val Inside = 2

  /** Builds the cell classifier of shapes with bounding cap (center, radius). */
  private[core] type Classify = (GeoShapes, S2Point, Double) => Long => Int

  private[core] val bounded: Classify = (s, c, r) => new Classifier(s, c, r).classify

  /** Classifies cells against one geography: Disjoint (nothing in common),
    * Inside (within the closed interior of its polygons) or Partial. Vertex
    * leaf ids are sorted once, so "a vertex lies in the cell" is one binary
    * search; the boundary test runs crossingSign of the edges against the
    * cell's 4 edges, skipping edges whose `EdgeCaps` cap misses the cell's;
    * when neither hits, cell vertex cv(0) decides Inside by a parity walk:
    * each ring group's parity at `center` is computed once and flipped by
    * the ring edges, whose caps reach it, crossing center->cv(0). The
    * region's cap (`capOf`) holds the region when its radius is < π/2 and
    * the polygons do not hold -center; a cell outside it is Disjoint at once.
    * Guard: the caps of edges on a cell plane (`SphereCap.onCellPlane`) are
    * whole; a geography with such an edge, or whose center lies on a ring
    * edge's great circle, gets no region cap and no walk, and Inside is
    * `polygonContains`. Answers equal a full scan of every edge. */
  private final class Classifier(shapes: GeoShapes, center: S2Point, radius: Double) {
    // ring edges, with their ring group, bound the polygons; points and lines only meet cells
    private val (ringA, ringB, ringGroup) = {
      val es = for ((group, gi) <- shapes.loops.zipWithIndex; loop <- group; v = loop.vertices; i <- v.indices)
        yield (v(i), v((i + 1) % v.length), gi)
      (es.map(_._1).toArray, es.map(_._2).toArray, es.map(_._3).toArray)
    }
    private val (lineA, lineB) = {
      val es = for (l <- shapes.lines; i <- 0 until l.size - 1) yield (l(i), l(i + 1))
      (es.map(_._1).toArray, es.map(_._2).toArray)
    }
    private val ringLeaves = sortedLeaves(ringA)
    private val otherLeaves = sortedLeaves(shapes.points ++ shapes.lines.flatten)
    private val ringCaps = new EdgeCaps(ringA, ringB)
    private val lineCaps = new EdgeCaps(lineA, lineB)
    private val hasRings = ringA.length > 0
    private val region: SphereCap = // null when it may not hold the region
      if (ringCaps.anyGuarded || lineCaps.anyGuarded || radius >= Math.PI / 2 ||
        (hasRings && shapes.polygonContains(-center))) null
      else SphereCap(center.x, center.y, center.z, Math.cos(radius), Math.sin(radius))
    private val centerParity: Array[Boolean] = // null when the walk is off
      if (region == null || !hasRings ||
        ringA.indices.exists(i => S2Pred.collinearExact(ringA(i), ringB(i), center))) null
      else shapes.loops.map(_.foldLeft(false)(_ ^ _.contains(center))).toArray

    def classify(cell: Long): Int = {
      val cv = S2CellId.vertices(cell)
      val cap = SphereCap.cell(cv)
      if (region != null && !region.meets(cap)) return Disjoint
      val lo = S2CellId.sortKey(S2CellId.rangeMin(cell))
      val hi = S2CellId.sortKey(S2CellId.rangeMax(cell))
      if (anyIn(ringLeaves, lo, hi) || anyCrossing(ringA, ringB, ringCaps, cv, cap)) Partial
      else if (hasRings && inside(cv(0))) Inside
      else if (anyIn(otherLeaves, lo, hi) || anyCrossing(lineA, lineB, lineCaps, cv, cap)) Partial
      else Disjoint
    }

    /** `polygonContains(p)` for a p on no ring edge. */
    private def inside(p: S2Point): Boolean = {
      val seg = if (centerParity == null) SphereCap.Whole else SphereCap.arc(center, p)
      if (seg.isWhole) return shapes.polygonContains(p)
      val parity = centerParity.clone()
      var i = 0
      while (i < ringA.length) {
        if (ringCaps.meets(i, seg) && S2Pred.edgeOrVertexCrossing(center, p, ringA(i), ringB(i)))
          parity(ringGroup(i)) = !parity(ringGroup(i))
        i += 1
      }
      parity.contains(true)
    }

    /** Leaf ids of the vertices as sorted sort keys. */
    private def sortedLeaves(vs: Iterable[S2Point]): Array[Long] = {
      val keys = vs.iterator.map(p => S2CellId.sortKey(S2CellId.fromPoint(p.x, p.y, p.z))).toArray
      java.util.Arrays.sort(keys); keys
    }

    /** Is some key within [lo, hi]? */
    private def anyIn(keys: Array[Long], lo: Long, hi: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(keys, lo)
      i >= 0 || (-i - 1 < keys.length && keys(-i - 1) <= hi)
    }

    /** Does some edge (a(i), b(i)) whose cap meets the cell's cross or touch
      * an edge of the cell? */
    private def anyCrossing(a: Array[S2Point], b: Array[S2Point], caps: EdgeCaps,
                            cv: Array[S2Point], cap: SphereCap): Boolean = {
      var i = 0
      while (i < a.length) {
        if (caps.meets(i, cap)) {
          var k = 0
          while (k < 4) {
            if (S2Pred.crossingSign(a(i), b(i), cv(k), cv((k + 1) & 3)) >= 0) return true
            k += 1
          }
        }
        i += 1
      }
      false
    }
  }

  private final class Candidate(val cellId: Long, val isTerminal: Boolean) {
    var children: Array[Candidate] = Array.empty
    var priority = 0L
  }

  /** Bounding cap of the vertices: center + max angle to a vertex (the
    * S2LatLngRect::GetCapBound "mid cap" flavor). It seeds `cover`, whose
    * expansion loop corrects any slack, and bounds the classifier. */
  private[core] def capOf(shapes: GeoShapes): (S2Point, Double) = {
    var sx = 0.0; var sy = 0.0; var sz = 0.0
    shapes.g.foreachVertex { p => sx += p.x; sy += p.y; sz += p.z }
    val c0 = S2Point(sx, sy, sz)
    val center = if (c0.norm2 < 1e-30) S2Point(1, 0, 0) else c0.normalize
    var maxAngle = 0.0
    shapes.g.foreachVertex { p => maxAngle = Math.max(maxAngle, center.angle(p)) }
    (center, maxAngle)
  }

  /** Level whose min cell width is at least `radians`
    * (S2 kMinWidth metric, quadratic projection: deriv = 2*sqrt(2)/3). */
  private def minWidthLevel(radians: Double): Int = {
    val deriv = 2 * Math.sqrt(2.0) / 3
    if (radians <= 0) return MaxLevel
    val lvl = Math.floor(Math.log(deriv / radians) / Math.log(2.0)).toInt
    Math.max(0, Math.min(MaxLevel, lvl))
  }

  /** The cells at `level` sharing the closest vertex of `leaf`'s level-cell
    * (public S2CellId::AppendVertexNeighbors semantics). */
  private def vertexNeighbors(leaf: Long, level: Int): Array[Long] = {
    val face = S2CellId.face(leaf)
    val ij = S2CellId.leafIJ(leaf)
    val i = S2CellId.packedI(ij); val j = S2CellId.packedJ(ij)
    val halfSize = S2CellId.ijSize(level + 1)
    val size = halfSize << 1
    val maxSize = S2CellId.ijSize(0)
    var ioffset = 0; var joffset = 0
    var isame = false; var jsame = false
    if ((i & halfSize) != 0) { ioffset = size; isame = i + size < maxSize }
    else { ioffset = -size; isame = i - size >= 0 }
    if ((j & halfSize) != 0) { joffset = size; jsame = j + size < maxSize }
    else { joffset = -size; jsame = j - size >= 0 }
    val out = mutable.ArrayBuffer[Long]()
    out += S2CellId.parent(leaf, level)
    out += S2CellId.parent(S2CellId.fromFaceIJSame(face, i + ioffset, j, isame), level)
    out += S2CellId.parent(S2CellId.fromFaceIJSame(face, i, j + joffset, jsame), level)
    if (isame || jsame)
      out += S2CellId.parent(
        S2CellId.fromFaceIJSame(face, i + ioffset, j + joffset, isame && jsame), level)
    out.filter(S2CellId.isValid).toArray
  }

  /** Default covering: at most maxCells cells, any levels. */
  def cover(g: Geography, maxCells: Int = DefaultMaxCells): Array[Long] = cover(g, maxCells, bounded)

  /** `cover` with the classifier that `classify` builds. */
  private[core] def cover(g: Geography, maxCells: Int, classify: Classify): Array[Long] = {
    g match {
      case Geography.CellCenter(id) =>
        return if (S2CellId.isValid(id)) Array(id) else Array.empty
      case Geography.Points(Vector(p)) =>
        return Array(S2CellId.fromPoint(p.x, p.y, p.z))
      case _ => ()
    }
    val shapes = new GeoShapes(g)
    if (shapes.isEmpty) return Array.empty
    val (center, radius) = capOf(shapes)
    val cls = classify(shapes, center, radius)

    val result = mutable.ArrayBuffer[Long]()
    // priority: expand coarsest first; among equals, fewest children, then
    // fewest terminal children (public S2RegionCoverer heuristic)
    val pq = mutable.PriorityQueue.empty[Candidate](
      (a: Candidate, b: Candidate) => java.lang.Long.compare(b.priority, a.priority))

    def newCandidate(cellId: Long): Candidate = cls(cellId) match {
      case Disjoint => null
      case c => new Candidate(cellId, c == Inside || S2CellId.level(cellId) == MaxLevel)
    }

    def addCandidate(c: Candidate): Unit =
      if (c == null) ()
      else if (c.isTerminal) result += c.cellId
      else { // expand one level
        val kids = Array.tabulate(4)(k => newCandidate(S2CellId.child(c.cellId, k))).filter(_ != null)
        val numTerm = kids.count(_.isTerminal)
        if (numTerm == 4) result += c.cellId // all four children terminal -> emit the parent
        else if (kids.nonEmpty) {
          c.children = kids
          c.priority = (((S2CellId.level(c.cellId).toLong << 2) + kids.length) << 2) + numTerm
          pq.enqueue(c)
        }
      }

    // --- seeding: small covering of the bounding cap
    // clamp to MaxLevel - 1 (as C++ S2RegionCoverer does for the initial
    // candidates): at level 30 vertexNeighbors' ijSize(31) shift wraps
    // around and all four seeds collapse to the single center leaf
    val seedLevel = Math.min(minWidthLevel(2 * radius), MaxLevel - 1)
    val seeds: Array[Long] =
      if (seedLevel == 0) Array.tabulate(6)(Covering.faceCell)
      else vertexNeighbors(S2CellId.fromPoint(center.x, center.y, center.z), seedLevel)
    seeds.foreach(id => addCandidate(newCandidate(id)))

    while (pq.nonEmpty) {
      val cand = pq.dequeue()
      // expand while there is room, else emit the cell itself
      if (result.size + pq.size + cand.children.length <= maxCells)
        cand.children.foreach(addCandidate)
      else result += cand.cellId
    }
    Covering.normalize(result.toArray)
  }

  /** Fixed-level covering: every cell at `level` intersecting the region
    * (reference: s2_bounds.cpp:57-104; min_level = max_level = level), in
    * cell id order. Every descendant of an Inside cell is emitted untested. */
  def coverFixedLevel(g: Geography, level: Int): Array[Long] = coverFixedLevel(g, level, bounded)

  /** `coverFixedLevel` with the classifier that `classify` builds. */
  private[core] def coverFixedLevel(g: Geography, level: Int, classify: Classify): Array[Long] = {
    g match {
      case c: Geography.CellCenter =>
        return if (c.isEmpty) Array.empty else Array(S2CellId.parent(c.cellId, level))
      case Geography.Points(Vector(p)) =>
        return Array(S2CellId.parent(S2CellId.fromPoint(p.x, p.y, p.z), level))
      case _ => ()
    }
    val shapes = new GeoShapes(g)
    if (shapes.isEmpty) return Array.empty
    val (center, radius) = capOf(shapes)
    val cls = classify(shapes, center, radius)
    val out = mutable.ArrayBuilder.make[Long]
    val step = S2CellId.lsbForLevel(level)
    def recurse(cellId: Long): Unit = cls(cellId) match {
      case Disjoint => ()
      case Inside =>
        // the level-`level` descendants, first to last in id order
        val lsb = S2CellId.lsb(cellId)
        var c = cellId - lsb + step
        val end = cellId + lsb + step
        while (c != end) { out += c; c += 2 * step }
      case _ =>
        if (S2CellId.level(cellId) == level) out += cellId
        else { var k = 0; while (k < 4) { recurse(S2CellId.child(cellId, k)); k += 1 } }
    }
    var f = 0
    while (f < 6) { recurse(Covering.faceCell(f)); f += 1 }
    out.result()
  }
}
