package graft.core

import scala.collection.mutable

/** The classifier that `RegionCoverer` used before its cap bounds: every
  * edge is tested against every cell, and Inside is a full
  * `polygonContains`. The oracle of the bounded classifier. */
final class FullScanClassifier(shapes: GeoShapes) {
  import RegionCoverer.{Disjoint, Inside, Partial}

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

  private def anyIn(keys: Array[Long], lo: Long, hi: Long): Boolean = {
    val i = java.util.Arrays.binarySearch(keys, lo)
    i >= 0 || (-i - 1 < keys.length && keys(-i - 1) <= hi)
  }

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

object FullScanOracles {
  /** Drives `RegionCoverer.cover`/`coverFixedLevel` with the full scan. */
  val classify: RegionCoverer.Classify = (s, _, _) => new FullScanClassifier(s).classify

  /** `Validation.findCrossingEdges` before its cap bounds: every pair of
    * edges is tested. */
  def findCrossingEdges(p: Geography.Polygons): Option[String] = {
    val edges = mutable.ArrayBuffer[(S2Point, S2Point, Int, Int)]()
    var ringIdx = 0
    for (ring <- p.allRings) {
      var i = 0
      while (i < ring.size) {
        edges += ((ring(i), ring((i + 1) % ring.size), ringIdx, i))
        i += 1
      }
      ringIdx += 1
    }
    var i = 0
    while (i < edges.size) {
      var j = i + 1
      while (j < edges.size) {
        val (a1, a2, ra, ia) = edges(i)
        val (b1, b2, rb, ib) = edges(j)
        val adjacent = ra == rb &&
          (a2 == b1 || b2 == a1 || a1 == b1 || a2 == b2)
        if (!adjacent && S2Pred.crossingSign(a1, a2, b1, b2) > 0)
          return Some(s"Edge $ia crosses edge $ib")
        j += 1
      }
      i += 1
    }
    None
  }
}
