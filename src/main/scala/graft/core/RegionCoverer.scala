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
 * coverings are deterministic. `Covering` holds the cell-union algebra.
 */
object RegionCoverer {
  final val DefaultMaxCells = 8
  final val MaxLevel = 30

  private final val Disjoint = 0
  private final val Partial = 1
  private final val Inside = 2

  /** Classifies cells against one geography: Disjoint (nothing in common),
    * Inside (within the closed interior of its polygons) or Partial. Vertex
    * leaf ids are computed and sorted once, so "a vertex lies in the cell"
    * is one binary search; the boundary test is one pass of crossingSign
    * over the edges against the cell's 4 edges; when neither hits, one cell
    * vertex decides whether the whole cell lies inside the polygons. */
  private final class Classifier(shapes: GeoShapes) {
    // ring vertices and edges bound the polygons; points and lines only meet cells
    private val ringLeaves = sortedLeaves(v => shapes.foreachRingEdge { (p, _) => v(p); true })
    private val otherLeaves =
      sortedLeaves { v => shapes.points.foreach(v); shapes.lines.foreach(_.foreach(v)) }
    private val (ringA, ringB) = edges(shapes.foreachRingEdge)
    private val (lineA, lineB) = edges(shapes.foreachLineEdge)

    def classify(cell: Long): Int = {
      val lo = S2CellId.sortKey(S2CellId.rangeMin(cell))
      val hi = S2CellId.sortKey(S2CellId.rangeMax(cell))
      val cv = S2CellId.vertices(cell)
      if (anyIn(ringLeaves, lo, hi) || anyCrossing(ringA, ringB, cv)) Partial
      else if (ringA.length > 0 && shapes.polygonContains(cv(0))) Inside
      else if (anyIn(otherLeaves, lo, hi) || anyCrossing(lineA, lineB, cv)) Partial
      else Disjoint
    }

    /** Leaf ids of the visited vertices as sorted sort keys. */
    private def sortedLeaves(each: (S2Point => Unit) => Unit): Array[Long] = {
      val b = mutable.ArrayBuilder.make[Long]
      each(p => b += S2CellId.sortKey(S2CellId.fromPoint(p.x, p.y, p.z)))
      val keys = b.result(); java.util.Arrays.sort(keys); keys
    }

    private def edges(each: ((S2Point, S2Point) => Boolean) => Boolean) = {
      val a = mutable.ArrayBuilder.make[S2Point]
      val b = mutable.ArrayBuilder.make[S2Point]
      each { (p, q) => a += p; b += q; true }
      (a.result(), b.result())
    }

    /** Is some key within [lo, hi]? */
    private def anyIn(keys: Array[Long], lo: Long, hi: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(keys, lo)
      i >= 0 || (-i - 1 < keys.length && keys(-i - 1) <= hi)
    }

    /** Does some edge (a(i), b(i)) cross or touch an edge of the cell? */
    private def anyCrossing(a: Array[S2Point], b: Array[S2Point], cv: Array[S2Point]): Boolean = {
      var i = 0
      while (i < a.length) {
        var k = 0
        while (k < 4) {
          if (S2Pred.crossingSign(a(i), b(i), cv(k), cv((k + 1) & 3)) >= 0) return true
          k += 1
        }
        i += 1
      }
      false
    }
  }

  private final class Candidate(val cellId: Long, val isTerminal: Boolean) {
    var children: List[Candidate] = Nil
  }

  /** Bounding cap of the region: center + max chord radius over vertices
    * (the S2LatLngRect::GetCapBound "mid cap" flavor — adequate for
    * seeding; the expansion loop corrects any slack). */
  private def capOf(shapes: GeoShapes): (S2Point, Double) = {
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
    val (face, i, j, _) = S2CellId.toFaceIJOrientation(leaf)
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
  def cover(g: Geography, maxCells: Int = DefaultMaxCells): Array[Long] = {
    g match {
      case Geography.CellCenter(id) =>
        return if (S2CellId.isValid(id)) Array(id) else Array.empty
      case Geography.Points(Vector(p)) =>
        return Array(S2CellId.fromPoint(p.x, p.y, p.z))
      case _ => ()
    }
    val shapes = new GeoShapes(g)
    if (shapes.isEmpty) return Array.empty
    val cls = new Classifier(shapes)

    val result = mutable.ArrayBuffer[Long]()
    // priority: expand coarsest first; among equals, fewest children, then
    // fewest terminal children (public S2RegionCoverer heuristic)
    val pq = mutable.PriorityQueue.empty[(Long, Candidate)](
      Ordering.by[(Long, Candidate), Long](_._1).reverse)

    def newCandidate(cellId: Long): Candidate = cls.classify(cellId) match {
      case Disjoint => null
      case c => new Candidate(cellId, c == Inside || S2CellId.level(cellId) == MaxLevel)
    }

    def addCandidate(c: Candidate): Unit =
      if (c == null) ()
      else if (c.isTerminal) result += c.cellId
      else { // expand one level
        val kids = (0 until 4).map(k => newCandidate(S2CellId.child(c.cellId, k))).filter(_ != null)
        val numTerm = kids.count(_.isTerminal)
        if (numTerm == 4) result += c.cellId // all four children terminal -> emit the parent
        else if (kids.nonEmpty) {
          c.children = kids.toList
          val lvl = S2CellId.level(c.cellId).toLong
          pq.enqueue(((((lvl << 2) + kids.size) << 2) + numTerm, c))
        }
      }

    // --- seeding: small covering of the bounding cap
    val (center, radius) = capOf(shapes)
    // clamp to MaxLevel - 1 (as C++ S2RegionCoverer does for the initial
    // candidates): at level 30 vertexNeighbors' ijSize(31) shift wraps
    // around and all four seeds collapse to the single center leaf
    val seedLevel = Math.min(minWidthLevel(2 * radius), MaxLevel - 1)
    val seeds: Array[Long] =
      if (seedLevel == 0) Array.tabulate(6)(Covering.faceCell)
      else vertexNeighbors(S2CellId.fromPoint(center.x, center.y, center.z), seedLevel)
    seeds.foreach(id => addCandidate(newCandidate(id)))

    while (pq.nonEmpty) {
      val (_, cand) = pq.dequeue()
      // expand while there is room, else emit the cell itself
      if (result.size + pq.size + cand.children.size <= maxCells)
        cand.children.foreach(addCandidate)
      else result += cand.cellId
    }
    Covering.normalize(result.toArray)
  }

  /** Fixed-level covering: every cell at `level` intersecting the region
    * (reference: s2_bounds.cpp:57-104; min_level = max_level = level), in
    * cell id order. Every descendant of an Inside cell is emitted untested. */
  def coverFixedLevel(g: Geography, level: Int): Array[Long] = {
    g match {
      case c: Geography.CellCenter =>
        return if (c.isEmpty) Array.empty else Array(S2CellId.parent(c.cellId, level))
      case Geography.Points(Vector(p)) =>
        return Array(S2CellId.parent(S2CellId.fromPoint(p.x, p.y, p.z), level))
      case _ => ()
    }
    val shapes = new GeoShapes(g)
    if (shapes.isEmpty) return Array.empty
    val cls = new Classifier(shapes)
    val out = mutable.ArrayBuilder.make[Long]
    val step = S2CellId.lsbForLevel(level)
    def recurse(cellId: Long): Unit = cls.classify(cellId) match {
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
