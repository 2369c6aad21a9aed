package graft.core

import scala.collection.mutable.ArrayBuffer

/**
 * Cell-union algebra (SURVEY.md §2.6): normalization, the may-intersect
 * test of two normalized unions, and the face cells.
 *
 * Every covering is built by the one region coverer, `RegionCoverer`: the
 * default covering (maxCells = 8) that `GeoCodec.encode` writes inline in
 * every GEOGRAPHY blob and `s2_covering` returns, and the fixed-level
 * covering of `s2_covering_fixed_level` and the cover-then-refine joins.
 */
object Covering {
  /** The level-0 cell of face `f` (0..5). */
  @inline def faceCell(f: Int): Long = {
    val leaf = (f.toLong << (S2CellId.PosBits - 1)) * 2 + 1
    S2CellId.parent(leaf, 0)
  }

  /** S2CellUnion-style normalization: unsigned sort, drop contained cells,
    * merge complete sibling quads (reference: s2_cell_ops.cpp:122). */
  def normalize(ids0: Array[Long]): Array[Long] = {
    val ids = ids0.filter(S2CellId.isValid)
    val sorted = ids.map(S2CellId.sortKey) // unsigned order via sign flip
    java.util.Arrays.sort(sorted)
    val out = ArrayBuffer.empty[Long]
    var i = 0
    while (i < sorted.length) {
      var id = S2CellId.sortKey(sorted(i)) // un-flip
      if (out.nonEmpty && S2CellId.contains(out.last, id)) ()
      else {
        // merge complete sibling groups
        var merged = true
        while (merged) {
          merged = false
          if (out.size >= 3 && S2CellId.level(id) > 0) {
            val n = out.size
            val p = S2CellId.parent(id)
            if (S2CellId.level(out(n - 1)) == S2CellId.level(id) &&
                S2CellId.level(out(n - 2)) == S2CellId.level(id) &&
                S2CellId.level(out(n - 3)) == S2CellId.level(id) &&
                S2CellId.parent(out(n - 1)) == p &&
                S2CellId.parent(out(n - 2)) == p &&
                S2CellId.parent(out(n - 3)) == p) {
              out.remove(n - 3, 3)
              id = p
              merged = true
            }
          }
        }
        out += id
      }
      i += 1
    }
    out.toArray
  }

  /** Do two normalized cell unions intersect? (s2_mayintersect kernel;
    * reference: s2_binary_index_ops.cpp:450-461.) */
  def unionsIntersect(a: Array[Long], b: Array[Long]): Boolean = {
    if (a.isEmpty || b.isEmpty) return false
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      if (S2CellId.intersects(a(i), b(j))) return true
      if (S2CellId.compareUnsigned(S2CellId.rangeMax(a(i)), S2CellId.rangeMax(b(j))) < 0) i += 1
      else j += 1
    }
    false
  }
}
