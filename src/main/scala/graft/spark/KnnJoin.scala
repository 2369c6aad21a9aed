package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.S2EdgeDist

/** Bounded top-k buffer for [[KnnJoin]]: candidates ordered (d2 asc,
  * id asc), arrays capped at k, `cnt` counting ALL candidates seen (the
  * certification signal). Top-level so the Catalyst encoder codegens
  * cleanly (nested private case classes force the interpreted fallback). */
private[spark] final case class KnnTopKBuf(cnt: Long, d2: Array[Double], ids: Array[Long])
private[spark] final case class KnnTopKOut(cnt: Long, d2: Array[Double], ids: Array[Long])

/**
 * Distributed k-nearest-neighbor join over point geographies: for each
 * left point, the k closest right points by geodesic distance, with rank.
 *
 * The reference has no kNN join (its join surface is predicate joins,
 * README.md:14-19); this is one of the "beyond the reference" scale
 * operators a large training-data pipeline needs (geo attribution of web
 * documents, nearest-station enrichment, spatial label propagation).
 *
 * Scale shape — certified expanding-neighborhood search, no all-pairs
 * stage anywhere:
 *
 *  1. Both sides key their point's level-30 cell once (native covering
 *     expression; a bit-op `s2_cell_parent` re-keys every round — the
 *     blob is never re-decoded).
 *  2. Round at level L: each unresolved left point probes the 3×3 cell
 *     neighborhood of its level-L cell (`s2_cells_with_ring`, ring 1),
 *     equi-joins right points on the cell key (SortMergeJoin /
 *     ShuffledHashJoin; AQE splits skewed metro cells), and reduces
 *     candidates through a k-BOUNDED typed Aggregator — map-side partial
 *     aggregation keeps per-group state at k entries, so an ultra-dense
 *     cell contributes k candidates per map task, never its full
 *     population.
 *  3. Certification: the 3×3 ring at level L is guaranteed to contain
 *     every point within kMinWidth(L) of the query point (the same
 *     metric invariant [[S2Join.dwithin]] builds on, see
 *     [[S2Join.levelForDistance]]).
 *     A left row whose k-th candidate's squared chord is within that
 *     bound has its exact top-k — certified rows emit; the rest escalate
 *     to level L-1, where the covered radius DOUBLES while the probe set
 *     stays 9 cells (coarsening beats ring-growing: constant key fan-out,
 *     4× candidate growth per round).
 *  4. Rows still unresolved below level 0 (isolated points, or k larger
 *     than any neighborhood can certify) fall back to one broadcast pass
 *     against the full right side — the unresolved set is by then a tiny
 *     straggler residue, and the same k-bounded partial aggregation keeps
 *     the pass memory-bounded (the [[graft.llm.Ann.bruteForceTopK]]
 *     bounded-heap shape, expressed as an Aggregator).
 *
 * All ranking comparisons happen in SQUARED-CHORD space (monotone in
 * central angle — identical ordering to geodesic meters) with ties broken
 * on right id ascending, so results are deterministic and engine-portable;
 * `dist_m` is materialized only for the final ≤ k rows per query.
 *
 * Contract: both geography columns must be plain points (non-point or
 * null geographies drop out, like null keys in an equi-join). Output:
 * (left id column, `nbr_id`, `rank` 1..k, `dist_m`). Left rows with
 * fewer than k reachable neighbors emit the ranks that exist.
 */
object KnnJoin {

  private[graft] val MinWidthL0Meters: Double = 0.9428090415820634 * S2EdgeDist.EarthRadiusMeters

  /** Squared chord length subtended by `meters` of geodesic. */
  private[graft] def chord2OfMeters(meters: Double): Double = {
    val half = Math.min(meters / S2EdgeDist.EarthRadiusMeters, Math.PI) / 2.0
    val c = 2.0 * Math.sin(half)
    c * c
  }

  /** Squared chord between two xyz unit vectors (array<double> of 3). */
  private def chord2(l: Column, r: Column): Column = {
    def d(i: Int) = element_at(l, i) - element_at(r, i)
    d(1) * d(1) + d(2) * d(2) + d(3) * d(3)
  }

  /** Initial probe level: the finest level whose 3×3 neighborhood still
    * expects ≥ ~4k right points, from the optimizer's size estimate —
    * wrong guesses cost one extra round (too fine) or extra candidates
    * (too coarse), never correctness. */
  private def initialLevel(right: DataFrame, k: Int): Int = {
    val stats = try right.queryExecution.optimizedPlan.stats catch { case _: Throwable => null }
    val n: Double =
      if (stats == null) 1e6
      else stats.rowCount.map(_.toDouble)
        .getOrElse((stats.sizeInBytes / 64).toDouble.max(1.0))
    levelForCount(n, k)
  }

  /** Finest level whose 3×3 neighborhood still expects ≥ ~4k of `n`
    * uniformly-spread points. Shared with the stream-static enrich. */
  private[graft] def levelForCount(n: Double, k: Int): Int = {
    // expected candidates in 9 cells at level L: 9 * n / (6 * 4^L) >= 4k
    var l = 0
    while (l < 12 && 9.0 * n / (6.0 * Math.pow(4.0, l + 1)) >= 4.0 * k) l += 1
    l
  }

  /**
   * @param pairFilter optional predicate over (left id, right id) columns
   *   evaluated on candidate pairs — e.g. `col(idL) =!= col("nbr_id")` to
   *   exclude self-matches in a self-join.
   */
  def knn(left: DataFrame, idL: String, geogL: String,
          right: DataFrame, idR: String, geogR: String,
          k: Int, pairFilter: Option[Column] = None): DataFrame = {
    require(k >= 1 && k <= 1024, s"knn(): k must be in 1..1024, got $k")
    require(idL != "nbr_id", "knn(): left id column may not be named nbr_id")
    val spark = left.sparkSession
    S2Functions.ensureRegistered(spark)
    import spark.implicits._

    val topk = TopK.boundedTopK(k)
    // level-30 point cell + unit vector, computed once per row; non-point
    // and null geographies drop (xyz size != 3)
    def keyed(df: DataFrame, id: String, geog: String, cell: String, xyz: String): DataFrame =
      df.select(col(id).cast("long").as(id),
          call_function("s2_point_xyz", col(geog)).as(xyz),
          element_at(call_function("s2_covering_fixed_level", col(geog), lit(30)), 1).as(cell))
        .where(size(col(xyz)) === 3)

    val rightKeyedRaw = keyed(right, idR, geogR, "__rc30", "__rxyz")
      .withColumnRenamed(idR, "nbr_id")
    val pendingRaw = keyed(left, idL, geogL, "__lc30", "__lxyz")

    val emitted = scala.collection.mutable.ListBuffer[DataFrame]()
    var level = initialLevel(right, k)
    // SMALL-PRODUCT SHORTCUT: when |left| x |right| fits the pair budget,
    // skip the ring rounds entirely and jump to the final broadcast pass
    // (level -1) — one action instead of a driver-synchronized job chain.
    // The guard uses EXACT counts, never optimizer stats: an earlier
    // stats-guarded brute arm mis-sized a 2.25e8-pair single-core pass and
    // was reverted (SCALEUP r17); the default budget (1e6 pairs) bounds
    // the worst case to a few ms of chord math per task, and the absolute
    // left cap bounds the broadcast side independently of the product.
    // Budget calibration: an r18 calm-window A/B at 1.5e6 pairs read
    // brute ~= the ring rounds (0.71 vs 0.70 s); an r19 CONTENDED-window
    // A/B at the same product read brute 0.91 vs rounds 1.43 s — the
    // rounds path is 6-8 driver-synchronized jobs and contention taxes
    // every barrier, while brute is one broadcast pass whose chord math
    // (2e6 evals across the fan-out) is microseconds per task. The 2e6
    // default sits at that measured crossover; the absolute 100k left cap
    // still bounds the broadcast side independently of the product.
    // Probe cost discipline (r19, VERDICT r18 item 3): the r18 form ran
    // TWO serialized exact count() jobs before any round — two driver
    // barriers on a floor row (b_knn sf0.1 0.785 -> 1.255 s). Now (a) the
    // optimizer's size estimate pre-gates the probe — stats may only say
    // "definitely too big to qualify, skip probing" (generous byte
    // ceilings: a 100k-row keyed left is ~10 MB, gated at 64 MB; the
    // exact counts still make the actual ENABLE decision, preserving the
    // r17 lesson that stats must never size a brute pass) — and (b) the
    // surviving probe is ONE union-count job over both raw keyed frames
    // (one barrier).
    // spark.graft.knn.brutePairBudget=0 disables (the rounds-path pin).
    val bruteBudget = spark.conf.get("spark.graft.knn.brutePairBudget", "2000000").toLong
    // a FAILED stats probe must gate-FAIL (skip the brute probe), never
    // pass: returning 0 on error used to treat "stats unavailable" as
    // "definitely small" and forced a full union-count of both sides
    // (ADVICE r19) — the sentinel is above every ceiling below
    def statsBytes(df: DataFrame): BigInt =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    if (bruteBudget > 0 &&
        statsBytes(pendingRaw) <= (64L << 20) && statsBytes(rightKeyedRaw) <= (256L << 20)) {
      // RAW-INPUT counts (r21): the keyed frames' counts forced the probe
      // job to evaluate the keying expressions (geog decode + covering)
      // over every row just to drop the non-points; counting the RAW
      // inputs instead prunes to an empty read schema, so a parquet-backed
      // side answers from footer row counts. Raw counts are a SUPERSET of
      // the keyed counts, so the product test stays conservative: it can
      // only under-enable the brute arm (costing one extra ring round),
      // never size a brute pass too big.
      val counts = left.select(lit(0).as("__side"))
        .unionByName(right.select(lit(1).as("__side")))
        .groupBy("__side").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val nL = counts.getOrElse(0, 0L)
      val nR = counts.getOrElse(1, 0L)
      if (nL > 0 && nR > 0 && nL <= 100000 && nL <= bruteBudget / nR) level = -1
    }
    // the ROUNDS path re-reads both keyed frames every round, so it
    // persists them (re-deriving the cheap keying once more after the raw
    // probe scan); the BRUTE path consumes each side exactly once, so
    // persisting there was pure materialization overhead on a floor row
    // (r19: persist write + cache bookkeeping for blocks never re-read)
    val brute = level < 0
    def cached(df: DataFrame): DataFrame =
      if (brute) df
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rightKeyed = cached(rightKeyedRaw)
    var pending = cached(pendingRaw)
    val persisted = scala.collection.mutable.ListBuffer[DataFrame]()
    if (!brute) { persisted += rightKeyed; persisted += pending }
    var exhausted = false
    while (!exhausted && !pending.isEmpty) {
      val lastRound = level < 0
      val probeLevel = Math.max(level, 0)
      // final fallback: the level-0 ring still misses the opposite face, so
      // the residual (by now a straggler handful) broadcasts against the
      // full right side — the k-bounded partial agg below keeps even this
      // pass memory-bounded per task
      val cand =
        if (lastRound) FanOut.small(rightKeyed).crossJoin(broadcast(pending))
        else pending
          .withColumn("__cell", explode(call_function("s2_cells_with_ring",
            array(call_function("s2_cell_parent", col("__lc30"), lit(probeLevel))), lit(1))))
          .join(rightKeyed.withColumn("__cell",
            call_function("s2_cell_parent", col("__rc30"), lit(probeLevel))), "__cell")
      val filtered = pairFilter.map(cand.where).getOrElse(cand)
      val grouped = filtered
        .select(col(idL), col("nbr_id"), chord2(col("__lxyz"), col("__rxyz")).as("__d2"))
        .groupBy(col(idL))
        .agg(topk(col("__d2"), col("nbr_id")).as("__tk"))
      // certified: k candidates found and the k-th is inside the radius
      // the 3×3 ring provably covers at this level
      val bound = chord2OfMeters(MinWidthL0Meters / (1L << probeLevel))
      val done =
        if (lastRound) grouped
        else grouped.where(size(col("__tk.d2")) >= k && element_at(col("__tk.d2"), k) <= lit(bound))
      val outRaw = done.select(col(idL),
          posexplode(arrays_zip(col("__tk.ids").as("i"), col("__tk.d2").as("d"))).as(Seq("__pos", "__z")))
        .select(col(idL), col("__z.i").as("nbr_id"), (col("__pos") + 1).as("rank"),
          (asin(least(sqrt(col("__z.d")) / 2.0, lit(1.0))) * 2.0 * S2EdgeDist.EarthRadiusMeters).as("dist_m"))
      // a non-final round's result is read twice — the next round's
      // left_anti pending subtraction (evaluated eagerly by the loop's
      // isEmpty action) AND the final union — so it persists; a LAST
      // round's result (the brute pass, or the rounds path's broadcast
      // fallback) is consumed exactly once by the union, where persisting
      // only added a cache materialization + release pass to a floor row
      // (r21, same rationale as the r19 removal of the brute-side input
      // persists).
      val out =
        if (lastRound) outRaw
        else outRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (!lastRound) persisted += out
      emitted += out
      if (lastRound) exhausted = true
      else {
        val next = pending.join(out.select(col(idL)).distinct(), Seq(idL), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        persisted += next
        pending = next
        level -= 1
      }
    }
    val union =
      if (emitted.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(idL, org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("nbr_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("dist_m", org.apache.spark.sql.types.DoubleType))))
      else emitted.reduceLeft(_ unionByName _)
    // round caches (right keying, per-round pendings, per-round results)
    // release when the first query over the union completes — the
    // query-scoped lifetime discipline shared with the dedup gram cache
    CacheLifecycle.releaseAfterUse(persisted.toList, union)
  }
}
