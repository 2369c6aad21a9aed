package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Hot-bucket governance for every banded pair join in graft.llm (MinHash
 * bands, SimHash and media Hamming blocks, video frame hashes, SRP-LSH
 * buckets). A bucket of n rows costs its one task ~n^2 pair checks; a
 * degenerate class (empty docs, templated boilerplate, uniform images,
 * black frames, anisotropic embeddings) serializes the whole join there.
 *
 * [[salt]] is CANDIDATE-PRESERVING: in a bucket over the cap the BUILD
 * side takes ONE salt per row (`pmod(xxhash64(id), nsplit)`) while the
 * PROBE side is replicated to ALL `nsplit = ceil(n / cap)` salts, so every
 * build/probe pair of the bucket still meets exactly once (at the build
 * row's salt) while the bucket's work spreads over `nsplit` tasks.
 *
 * `maxBucket` semantics, shared by every caller and resolved by [[cap]]:
 *   - `= 0`: never salt — the join plan is left exactly as written;
 *   - `> 0`: always salt at that cap;
 *   - `< 0` ([[Adaptive]]): probe the bucket histogram with ONE small
 *     Spark job at DataFrame-construction time and salt at [[DefaultCap]]
 *     only when some bucket exceeds it. The choice reads output size,
 *     which AQE cannot: a 10k-row hot bucket is ~160 KB of shuffle input
 *     (invisible to input-size skew handling) but 5*10^7 pair rows in one
 *     task. Callers persist the probed frame so the probe and the join
 *     read it once, and release it with CacheLifecycle.
 */
private[llm] object BucketPairs {

  /** Hot-bucket cap: bounds one task's pair work to ~cap^2 checks. */
  val DefaultCap: Int = 4096

  /** `maxBucket` sentinel: probe the histogram, salt only when hot. */
  val Adaptive: Int = -1

  /** Join sides plus the equi-join keys they share (`keys :+ "__salt"`
    * when salted, the bare bucket keys otherwise). */
  final case class Sides(build: DataFrame, probe: DataFrame, keys: Seq[String]) {
    /** Key equality between the sides aliased `a` and `b`. */
    def on(a: String, b: String): Column =
      keys.map(k => col(s"$a.$k") === col(s"$b.$k")).reduce(_ && _)
  }

  /** One row per bucket of `rows` holding more than `cap` rows:
    * (keys..., n, nsplit) with nsplit = ceil(n / cap). */
  def hotBuckets(rows: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .where(col("n") > cap)
      .withColumn("nsplit", ceil(col("n") / lit(cap.toDouble)).cast("long"))

  /** The cap [[salt]] applies for `maxBucket` (0 = no salting). */
  def cap(rows: DataFrame, keys: Seq[String], maxBucket: Int): Int =
    if (maxBucket >= 0) maxBucket
    else if (hotBuckets(rows, keys, DefaultCap).limit(1).count() > 0) DefaultCap
    else 0

  /** Salt `build` (one replica per row, keyed by `id`) and `probe` (all
    * replicas) on the buckets of `build` over `cap` rows; buckets at or
    * under the cap get salt 0 on both sides. With `cap <= 0` both inputs
    * come back unchanged, so an unsalted plan is exactly the caller's. */
  def salt(build: DataFrame, probe: DataFrame, id: String, keys: Seq[String],
           cap: Int): Sides = {
    if (cap <= 0) return Sides(build, probe, keys)
    // at most one row per hot bucket: broadcast
    val splits = broadcast(hotBuckets(build, keys, cap)
      .select(keys.map(col) :+ col("nsplit").as("__nsplit"): _*))
    val b = build.join(splits, keys, "left")
      .withColumn("__salt", coalesce(pmod(xxhash64(col(id)), col("__nsplit")), lit(0L)))
      .drop("__nsplit")
    val p = probe.join(splits, keys, "left")
      .withColumn("__salt", explode(sequence(lit(0L), coalesce(col("__nsplit"), lit(1L)) - 1)))
      .drop("__nsplit")
    Sides(b, p, keys :+ "__salt")
  }
}
