package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded top-k state and result: scores ascending with their ids, ties
  * on id ascending, at most k entries. Top-level so the Catalyst encoder
  * codegens cleanly (nested private case classes force the interpreted
  * fallback). */
private[spark] final case class TopKBuf(d2: Array[Double], ids: Array[Long])

/**
 * Top-k per group through a k-BOUNDED typed Aggregator — the scale path
 * where `row_number() OVER (PARTITION BY g ORDER BY s)` is the wrong
 * plan: a window sorts EVERY row of every group (one task per group at
 * the limit — a hot group with 10^9 rows is a straggler sorting 10^9
 * rows to keep 10), while this aggregator's state never exceeds k
 * entries, map-side partial aggregation reduces each partition's
 * contribution to k rows BEFORE the shuffle, and the exchange carries
 * groups × k rows, not the corpus.
 *
 * Ordering is (score asc|desc, id asc) with ties broken on id, exactly
 * row_number-deterministic; `b_top_order_agg` pins equality with the
 * window form against the DuckDB oracle. The same buffer drives
 * [[KnnJoin]]'s candidate reduction.
 */
object TopK {

  /** Bounded top-k accumulator over (score, id), ordered (score asc,
    * id asc), arrays capped at k. */
  private[spark] final class BoundedTopKAgg(k: Int)
      extends Aggregator[(Double, Long), TopKBuf, TopKBuf] {
    override def zero: TopKBuf = TopKBuf(Array.emptyDoubleArray, Array.emptyLongArray)

    private def insert(b: TopKBuf, d2: Double, id: Long): TopKBuf = {
      val n = b.d2.length
      if (n >= k && (d2 > b.d2(n - 1) || (d2 == b.d2(n - 1) && id >= b.ids(n - 1))))
        return b
      // binary search for the insertion point by (score, id)
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (b.d2(mid) < d2 || (b.d2(mid) == d2 && b.ids(mid) < id)) lo = mid + 1 else hi = mid
      }
      val m = Math.min(n + 1, k)
      val nd = new Array[Double](m); val ni = new Array[Long](m)
      System.arraycopy(b.d2, 0, nd, 0, lo); System.arraycopy(b.ids, 0, ni, 0, lo)
      nd(lo) = d2; ni(lo) = id
      val tail = m - lo - 1
      if (tail > 0) { System.arraycopy(b.d2, lo, nd, lo + 1, tail); System.arraycopy(b.ids, lo, ni, lo + 1, tail) }
      TopKBuf(nd, ni)
    }

    override def reduce(b: TopKBuf, in: (Double, Long)): TopKBuf = insert(b, in._1, in._2)

    override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      val m = Math.min(a.d2.length + b.d2.length, k)
      val nd = new Array[Double](m); val ni = new Array[Long](m)
      var i = 0; var j = 0; var o = 0
      while (o < m) {
        val takeA = j >= b.d2.length || (i < a.d2.length &&
          (a.d2(i) < b.d2(j) || (a.d2(i) == b.d2(j) && a.ids(i) <= b.ids(j))))
        if (takeA) { nd(o) = a.d2(i); ni(o) = a.ids(i); i += 1 }
        else { nd(o) = b.d2(j); ni(o) = b.ids(j); j += 1 }
        o += 1
      }
      TopKBuf(nd, ni)
    }

    override def finish(b: TopKBuf): TopKBuf = b
    override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
    override def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  }

  /** The raw UDAF — usable directly in batch OR streaming aggregations
    * (state per group is k entries; watermarks evict window groups).
    * Input (score asc, id); output struct (d2 = sorted scores,
    * ids = matching ids). */
  private[graft] def boundedTopK(k: Int) = udaf(new BoundedTopKAgg(k))

  /**
   * The k best (idCol, scoreCol) rows per group. `descending = false`
   * keeps the k SMALLEST scores (ties → smaller id), `true` the k
   * largest. Output: groupCols ++ (idCol, scoreCol, rank 1..k); join back
   * on idCol for further payload columns (the aggregator state carries
   * only the 16 bytes per entry that bound it). Requires unique idCol
   * values per group for deterministic output.
   */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
                   scoreCol: String, k: Int, descending: Boolean = false): DataFrame = {
    require(k >= 1 && k <= 4096, s"topKPerGroup(): k must be in 1..4096, got $k")
    val agg = boundedTopK(k)
    val score: Column =
      if (descending) negate(col(scoreCol).cast("double")) else col(scoreCol).cast("double")
    val unscore: Column => Column = c => if (descending) negate(c) else c
    df.groupBy(groupCols.map(col): _*)
      .agg(agg(score, col(idCol).cast("long")).as("__tk"))
      .select((groupCols.map(col) :+
        posexplode(arrays_zip(col("__tk.ids").as("i"), col("__tk.d2").as("s")))
          .as(Seq("__pos", "__z"))): _*)
      .select((groupCols.map(col) ++ Seq(
        col("__z.i").as(idCol),
        unscore(col("__z.s")).as(scoreCol),
        (col("__pos") + 1).as("rank"))): _*)
  }
}
