package graft.spark

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/**
 * Spatial join helpers (SURVEY §2.8): the scalable default is the
 * cover-then-refine equi-join — explode a fixed-level covering on both
 * sides, equi-join on the cell (SortMergeJoin / ShuffledHashJoin, AQE
 * handles skew), then refine with the exact predicate; multi-cell
 * candidates are emitted once by smallest-common-cell reporting.
 *
 * The reference reaches the same result as a nested-loop predicate join
 * with a per-row covering prefilter (README.md:14-19,
 * s2_binary_index_ops.cpp:450-461); on Spark we hoist that prefilter into
 * the plan as a join key so it shuffles instead of looping.
 *
 * These helpers and the SQL rewrite share one implementation: each builds
 * the plain predicate join and hands it to [[SpatialJoinRewrite.planJoin]], so
 * `S2Join.intersects` and `JOIN ... ON s2_intersects(...)` under
 * [[GraftExtensions]] run the same plan, with or without the extension.
 */
object S2Join {

  /** Sentinel: resolve the covering level from
    * spark.graft.join.coveringLevel when set, otherwise the
    * parallelism-and-count heuristic
    * ([[SpatialJoinRewrite.defaultCoveringLevel]]: floor 4, bumped toward
    * the session's shuffle-partition count, bounded by the sides' row-count
    * estimates, capped at 6). Finer levels mean more shuffle keys and fewer
    * candidates per cell; the refine predicate makes any level correct. */
  val AutoLevel: Int = -1

  /** Inner join on `condition` (an s2 predicate plus optional cheap
    * conjuncts), planned as the cover-then-refine join. */
  private def coverThenRefine(left: DataFrame, right: DataFrame, condition: Column,
                              level: Int = AutoLevel): DataFrame = {
    val session = left.sparkSession
    S2Functions.ensureRegistered(session)
    val join = left.join(right, condition).queryExecution.analyzed.asInstanceOf[Join]
    GraftShim.ofRows(session, SpatialJoinRewrite.planJoin(session.sessionState.conf, join,
      Some(level).filter(_ >= 0)))
  }

  /**
   * Cover-then-refine intersects join. Every output row satisfies
   * s2_intersects(left.geogL, right.geogR); multi-cell candidates are
   * emitted once via smallest-common-cell reporting, so the result has
   * exactly the multiplicity of the vanilla predicate join.
   *
   * At 100 TB: both sides shuffle once on the cell key; no broadcast
   * needed; AQE splits skewed cells (e.g. dense metro areas).
   */
  def intersects(left: DataFrame, geogL: String, right: DataFrame, geogR: String,
                 level: Int = AutoLevel): DataFrame =
    coverThenRefine(left, right, call_function("s2_intersects", col(geogL), col(geogR)), level)

  /** Containment join: rows where left contains right. */
  def contains(left: DataFrame, geogL: String, right: DataFrame, geogR: String,
               level: Int = AutoLevel): DataFrame =
    coverThenRefine(left, right, call_function("s2_contains", col(geogL), col(geogR)), level)

  /**
   * Broadcast predicate join for a small build side (the reference's
   * prepared-join pattern, docs/function-reference.md:1416-1423): prepare
   * the small side once, broadcast it, evaluate the exact predicate —
   * right plan when one side fits in memory (e.g. 177 countries).
   */
  def broadcastIntersects(small: DataFrame, geogS: String,
                          large: DataFrame, geogL: String): DataFrame = {
    S2Functions.ensureRegistered(small.sparkSession)
    val prepped = small.withColumn(geogS, call_function("s2_prepare", col(geogS)))
    large.join(broadcast(prepped), call_function("s2_intersects", col(geogS), col(geogL)))
  }

  /**
   * Distance join: pairs within `meters`. The covering level is chosen so
   * a cell's minimum width exceeds `meters`, then one side's cells are
   * widened to their neighbour ring (covers the `meters` buffer) and
   * joined with the other side's own cells, refined by exact s2_dwithin
   * semantics. The ring goes on the side with fewer estimated rows (the
   * left when either estimate is unknown); the relation is symmetric, so
   * the result does not depend on the side. `pairFilter` is a
   * cheap pair prefilter (e.g. `id_a < id_b`) evaluated before the refine.
   *
   * The refine runs through the chord-band fast path
   * ([[GeogExpressions.dwithinXyzTree]]): each side's unit vector is
   * extracted ONCE per input row (before the covering explode), and
   * point-point candidate pairs — the dominant shape of a distance join —
   * are decided by ~10 codegen flops instead of a per-pair blob decode +
   * kernel search. Results are bit-identical to s2_dwithin.
   */
  def dwithin(left: DataFrame, geogL: String, right: DataFrame, geogR: String,
              meters: Double, pairFilter: Option[Column] = None): DataFrame = {
    val within = call_function("s2_dwithin", col(geogL), col(geogR), lit(meters))
    coverThenRefine(left, right, pairFilter.fold(within)(within && _))
  }

  /** Largest level whose minimum cell width still exceeds `meters`, so the
    * 8-neighbor ring is a sufficient buffer (S2 kMinWidth metric:
    * ~0.9428 rad * 2^-level * R). Finer levels mean ~4x fewer candidate
    * pairs per level step. */
  def levelForDistance(meters: Double): Int = {
    val minWidthL0 = 0.9428090415820634 * 6371010.0 // meters at level 0
    var level = 0
    while (level < 14 && minWidthL0 / (1L << (level + 1)) >= meters) level += 1
    level
  }

  /** Spatially cluster a dataframe by cell key for co-located storage /
    * pruned scans (reference "Great for sorting!" s2_cell_ops.cpp:287-290). */
  def clusterByCell(df: DataFrame, geogCol: String, level: Int): DataFrame = {
    S2Functions.ensureRegistered(df.sparkSession)
    val center = call_function("s2_geog_to_cellcenter", col(geogCol))
    val withKey = df.withColumn("__cell",
      call_function("s2_cell_sortkey", call_function("s2_cell_parent", center, lit(level))))
    withKey.repartitionByRange(col("__cell")).sortWithinPartitions("__cell")
  }
}
