package graft.core

import scala.collection.mutable

/**
 * Cell-bucketed edge index: the kernel-side analogue of the reference's
 * prepared S2ShapeIndex (reference: s2_functions_io.cpp:365-385 builds it,
 * s2_binary_index_ops.cpp:25-50 dispatches to it). Kills the O(E_a * E_b)
 * edge-crossing hot path: each probe edge only tests edges sharing a
 * covering cell at the index level.
 *
 * Built lazily per GeoShapes (equivalent to s2_prepare being applied
 * everywhere, with zero cost until a predicate needs it).
 */
final class EdgeIndex private (val level: Int,
                               val starts: Array[S2Point],
                               val ends: Array[S2Point],
                               buckets: java.util.HashMap[Long, mutable.ArrayBuffer[Int]]) {

  def numEdges: Int = starts.length

  /** Serialized form: level, numEdges, numBuckets, then per bucket
    * (cellId, count, edge ordinals). Edge endpoints are NOT serialized —
    * they are the geometry's own edges in foreachEdge order, rebuilt on
    * decode (reference serializes the whole S2ShapeIndex,
    * s2_functions_io.cpp:365-385; same effect: no index rebuild). */
  def serializedSize: Int = {
    var sz = 1 + 4 + 4
    val it = buckets.values().iterator()
    while (it.hasNext) sz += 12 + 4 * it.next().size
    sz
  }

  def writeTo(buf: java.nio.ByteBuffer): Unit = {
    buf.put(level.toByte)
    buf.putInt(numEdges)
    buf.putInt(buckets.size)
    val it = buckets.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      buf.putLong(e.getKey)
      val idxs = e.getValue
      buf.putInt(idxs.size)
      var i = 0
      while (i < idxs.size) { buf.putInt(idxs(i)); i += 1 }
    }
  }

  /** Indices of edges that could cross (p, q); conservative superset. */
  def candidates(p: S2Point, q: S2Point): java.util.BitSet = {
    val out = new java.util.BitSet(numEdges)
    EdgeIndex.foreachEdgeCell(p, q, level) { cell =>
      val b = buckets.get(cell)
      if (b != null) {
        var i = 0
        while (i < b.size) { out.set(b(i)); i += 1 }
      }
    }
    out
  }
}

object EdgeIndex {
  /** Index only pays off past this edge count; below it, brute force wins. */
  final val MinEdges = 32

  def build(shapes: GeoShapes): EdgeIndex = {
    val ss = mutable.ArrayBuffer[S2Point]()
    val es = mutable.ArrayBuffer[S2Point]()
    shapes.foreachEdge { (p, q) => ss += p; es += q; true }
    val n = ss.size
    // ~log4(E) levels keeps buckets small without exploding per-edge cells
    val level = Math.min(12, Math.max(4, (32 - Integer.numberOfLeadingZeros(Math.max(1, n))) / 2 + 2))
    val buckets = new java.util.HashMap[Long, mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < n) {
      foreachEdgeCell(ss(i), es(i), level) { cell =>
        var b = buckets.get(cell)
        if (b == null) { b = mutable.ArrayBuffer[Int](); buckets.put(cell, b) }
        b += i
      }
      i += 1
    }
    new EdgeIndex(level, ss.toArray, es.toArray, buckets)
  }

  /** Inverse of writeTo: rebuild edge endpoints from the decoded geometry
    * (same foreachEdge order as build) and attach the stored buckets.
    * Falls back to a fresh build if the edge count disagrees. The level,
    * each count and each edge ordinal are checked against the data, so a
    * corrupt index is a [[GeoCodec.DecodeException]]. */
  def readFrom(buf: java.nio.ByteBuffer, shapes: GeoShapes): EdgeIndex = {
    val level = buf.get().toInt
    if (level < 0 || level > S2CellId.MaxLevel)
      throw GeoCodec.DecodeException(s"GEOGRAPHY edge index level $level out of range")
    val nEdges = buf.getInt()
    val ss = mutable.ArrayBuffer[S2Point]()
    val es = mutable.ArrayBuffer[S2Point]()
    shapes.foreachEdge { (p, q) => ss += p; es += q; true }
    if (ss.size != nEdges) return build(shapes)
    // per bucket: an 8-byte cell and a 4-byte ordinal count
    val nBuckets = GeoCodec.readCount(buf, 12, "edge index bucket")
    val buckets = new java.util.HashMap[Long, mutable.ArrayBuffer[Int]](nBuckets * 2)
    var b = 0
    while (b < nBuckets) {
      GeoCodec.need(buf, 12, "edge index bucket")
      val cell = buf.getLong()
      val cnt = GeoCodec.readCount(buf, 4, "edge ordinal")
      val idxs = new mutable.ArrayBuffer[Int](cnt)
      var i = 0
      while (i < cnt) {
        val e = buf.getInt()
        if (e < 0 || e >= nEdges)
          throw GeoCodec.DecodeException(s"GEOGRAPHY edge index names edge $e of $nEdges")
        idxs += e
        i += 1
      }
      buckets.put(cell, idxs)
      b += 1
    }
    new EdgeIndex(level, ss.toArray, es.toArray, buckets)
  }

  /** Conservative set of cells at `level` that the arc (p, q) touches. */
  def foreachEdgeCell(p: S2Point, q: S2Point, level: Int)(f: Long => Unit): Unit = {
    val pLeaf = S2CellId.fromPoint(p.x, p.y, p.z)
    val qLeaf = S2CellId.fromPoint(q.x, q.y, q.z)
    val pc = S2CellId.parent(pLeaf, level)
    val qc = S2CellId.parent(qLeaf, level)
    if (pc == qc) { f(pc); return } // common fast path: short edge
    def mayTouch(cell: Long): Boolean = {
      if (S2CellId.contains(cell, pLeaf) || S2CellId.contains(cell, qLeaf)) return true
      val cv = S2CellId.vertices(cell)
      var k = 0
      while (k < 4) {
        if (S2Pred.crossingSign(p, q, cv(k), cv((k + 1) % 4)) >= 0) return true
        k += 1
      }
      false
    }
    def recurse(cell: Long): Unit = {
      if (!mayTouch(cell)) return
      if (S2CellId.level(cell) == level) { f(cell); return }
      var k = 0
      while (k < 4) { recurse(S2CellId.child(cell, k)); k += 1 }
    }
    var face = 0
    while (face < 6) { recurse(Covering.faceCell(face)); face += 1 }
  }

  /** Index-accelerated "any edge of a crosses any edge of b" (CLOSED
    * model: touching counts). Falls back to brute force for small inputs. */
  def anyCrossing(a: GeoShapes, b: GeoShapes): Boolean = {
    val (small, large) =
      if (a.numEdges <= b.numEdges) (a, b) else (b, a)
    if (large.numEdges < MinEdges) {
      var crossing = false
      small.foreachEdge { (p1, p2) =>
        large.foreachEdge { (q1, q2) =>
          if (edgeCross(p1, p2, q1, q2)) { crossing = true; false } else true
        }
        !crossing
      }
      return crossing
    }
    val idx = large.edgeIndex
    var crossing = false
    small.foreachEdge { (p1, p2) =>
      val cands = idx.candidates(p1, p2)
      var i = cands.nextSetBit(0)
      while (i >= 0 && !crossing) {
        if (edgeCross(p1, p2, idx.starts(i), idx.ends(i))) crossing = true
        i = cands.nextSetBit(i + 1)
      }
      !crossing
    }
    crossing
  }

  /** Strict proper crossing for containment checks: the symbolic
    * perturbation in crossingSign gives exactly-collinear overlapping
    * edges a phantom +1, but a shared collinear arc never takes interior
    * on both sides — it must not disqualify containment. */
  @inline private def properCross(p1: S2Point, p2: S2Point, q1: S2Point, q2: S2Point): Boolean =
    S2Pred.crossingSign(p1, p2, q1, q2) > 0 &&
      !(S2Pred.nearCollinear(p1, p2, q1) && S2Pred.nearCollinear(p1, p2, q2))

  private def edgeCross(a: S2Point, b: S2Point, c: S2Point, d: S2Point): Boolean = {
    val s = S2Pred.crossingSign(a, b, c, d)
    if (s > 0) true
    else if (s == 0) {
      (a == c || a == d || b == c || b == d) ||
        S2Pred.pointOnEdge(c, a, b) || S2Pred.pointOnEdge(d, a, b) ||
        S2Pred.pointOnEdge(a, c, d) || S2Pred.pointOnEdge(b, c, d)
    } else false
  }

  /** Index-accelerated "any RING edge of probe properly crosses any RING
    * edge of indexed" (strict crossings only — containment checks for
    * polygon content of a mixed collection: indexed's polyline content
    * cannot reduce its polygon coverage, so a line crossing a contained
    * ring must not disqualify containment). Edge ordinals in the index
    * follow foreachEdge order (lines first), so ring edges are exactly the
    * ordinals >= indexed.numLineEdges. */
  def anyProperCrossingRings(probe: GeoShapes, indexed: GeoShapes): Boolean = {
    if (indexed.numEdges < MinEdges) {
      var crossed = false
      probe.foreachRingEdge { (p1, p2) =>
        indexed.foreachRingEdge { (q1, q2) =>
          if (properCross(p1, p2, q1, q2)) { crossed = true; false } else true
        }
        !crossed
      }
      return crossed
    }
    val idx = indexed.edgeIndex
    val firstRing = indexed.numLineEdges
    var crossed = false
    probe.foreachRingEdge { (p1, p2) =>
      val cands = idx.candidates(p1, p2)
      var i = cands.nextSetBit(firstRing)
      while (i >= 0 && !crossed) {
        if (properCross(p1, p2, idx.starts(i), idx.ends(i))) crossed = true
        i = cands.nextSetBit(i + 1)
      }
      !crossed
    }
    crossed
  }
}
