package graft.spark

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/**
 * Byte-gated round-robin fan-out for SMALL inputs feeding CPU-heavy
 * per-row kernels (gram MD5 digests, interval probes, similarity math).
 *
 * Why it exists: a sub-32 MB parquet table is one scan task no matter how
 * many cores the cluster has (task granularity is row-group-aligned, and
 * small files are written as a single row group), so every per-row kernel
 * downstream of the scan runs single-threaded — at bench SFs that single
 * core IS the query's critical path. One cheap round-robin exchange of
 * the raw rows (the input is by definition under the gate, so the shuffle
 * moves a few MB) buys full-width parallelism for everything after it.
 *
 * Why it is safe at 100 TB: the gate compares Catalyst's optimized-plan
 * size estimate against `spark.graft.fanout.maxBytes` (default 32 MB —
 * one scan bin). A corpus-scale input blows past the gate and passes
 * through UNTOUCHED: this helper can never introduce a corpus-sized
 * shuffle. Inputs above the gate already split into multiple scan tasks
 * (`spark.sql.files.maxPartitionBytes`), which is exactly the parallelism
 * this fan-out exists to substitute for. Set the conf to 0 to disable.
 *
 * CALLER CONTRACT: pass the RAW input (a scan, or a narrow select over
 * one) — not a derived plan. The size-only estimator scales the scan's
 * file bytes by projected column width and does NOT model row
 * multiplication (explode/Generate) or join fan-out, so a post-explode
 * frame could read "small" while its true row count is corpus-sized,
 * and the gate would inject a full-width shuffle of the multiplied
 * rows. Every call site in this library fans out the base table side
 * BEFORE any explode/join (Dedup grams, RangeJoin points, KnnJoin's
 * left side).
 */
object FanOut {

  /** `df` repartitioned round-robin to the session's shuffle parallelism
    * when its optimizer size estimate is under the gate; `df` unchanged
    * otherwise. Branch-shared consumers of the result reuse the single
    * exchange (Spark's ReuseExchange), so a fanned-out frame read by two
    * plan branches still shuffles once. */
  def small(df: DataFrame): DataFrame =
    if (!isSmall(df)) df
    else df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** The gate decision [[small]] acts on: true iff `df`'s optimizer size
    * estimate is under `spark.graft.fanout.maxBytes`. Callers that choose
    * between a collect-sized and a distributed strategy (the eval-side
    * Bloom bitset build) share this single definition of "small input"
    * so the two decisions can never diverge. False on any stats/conf
    * failure — the distributed/pass-through branch is always safe. */
  def isSmall(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    // a malformed conf value falls back to the default, same as a failed
    // stats probe falls back to pass-through: a tuning knob must never be
    // able to fail the query it tunes
    val maxBytes =
      try spark.conf.getOption("spark.graft.fanout.maxBytes")
        .map(_.toLong).getOrElse(32L << 20)
      catch { case NonFatal(_) => 32L << 20 }
    if (maxBytes <= 0) return false
    val bytes =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case NonFatal(_) => return false }
    bytes < maxBytes
  }
}
