package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.core.S2EdgeDist

/**
 * Distributed k-nearest-neighbor join over point geographies: for each
 * left point, the k closest right points by geodesic distance, with rank.
 *
 * The reference has no kNN join (its join surface is predicate joins,
 * README.md:14-19); this is one of the "beyond the reference" scale
 * operators a large training-data pipeline needs (geo attribution of web
 * documents, nearest-station enrichment, spatial label propagation).
 *
 * Scale shape — one lazy plan, a linear chain of cell-ring steps with no
 * all-pairs stage for certified rows; building it runs no job:
 *
 *  1. Both sides key their point's level-30 cell once (native covering
 *     expression; a bit-op `s2_cell_parent` derives coarser cells — the
 *     blob is never re-decoded). The first ring level L is the finest whose
 *     3×3 neighborhood still expects ≥ ~4k right points
 *     ([[levelForCount]]), from the planner's row estimate of the right
 *     side ([[SpatialJoinRewrite.estimatedRows]]; 1e6 when unknown). The
 *     right side becomes one index with a row per point and step level.
 *  2. Step at level l of the [[ladder]] (L, L-3, …, ≥ 1): each pending
 *     left point probes the 3×3 cell neighborhood of its level-l cell
 *     (`s2_cells_with_ring`, ring 1), left-outer-joins the index on the
 *     cell ([[SpatialJoinRewrite.cellJoinKey]]; AQE picks the join strategy
 *     and splits skewed metro cells),
 *     and reduces candidates through a k-BOUNDED typed Aggregator —
 *     map-side partial aggregation keeps per-group state at k entries, so
 *     an ultra-dense cell contributes k candidates per map task, never its
 *     full population.
 *  3. Certification: the 3×3 ring at level l is guaranteed to contain
 *     every point within kMinWidth(l) of the query point (the same
 *     metric invariant [[S2Join.dwithin]] builds on, see
 *     [[S2Join.levelForDistance]]). A row whose k-th candidate's squared
 *     chord is within that bound has its exact top-k; it rides the later
 *     steps unmatched, carrying that top-k, while the rest probe the next
 *     level (8× the radius, the same 9-cell fan-out).
 *  4. Rows still pending after the last level (isolated points, or k
 *     larger than any neighborhood can certify) probe all six face cells:
 *     one brute top-k against the full right side, the last step of the
 *     same chain. Every step reads the previous one once, so Spark never
 *     plans two copies of a step (two consumers of one step were planned
 *     as two copies that exchange reuse did not merge, running the level-L
 *     join twice).
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

  /** Finest level whose 3×3 neighborhood still expects ≥ ~4k of `n`
    * uniformly-spread points. Shared with the stream-static enrich. */
  private[graft] def levelForCount(n: Double, k: Int): Int = {
    // expected candidates in 9 cells at level L: 9 * n / (6 * 4^L) >= 4k
    var l = 0
    while (l < 12 && 9.0 * n / (6.0 * Math.pow(4.0, l + 1)) >= 4.0 * k) l += 1
    l
  }

  /** Certification levels from the first ring level: every third level
    * down to level 1. Level 0's 3×3 ring already spans five of the six
    * faces, so the rows left after level 1 go straight to the brute step. */
  private def ladder(first: Int): Seq[Int] = first to 1 by -3

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
    S2Functions.ensureRegistered(left.sparkSession)

    val topk = TopK.boundedTopK(k)
    // level-30 point cell + unit vector, computed once per row; non-point
    // and null geographies drop (xyz size != 3)
    def keyed(df: DataFrame, id: String, geog: String, cell: String, xyz: String): DataFrame =
      df.select(col(id).cast("long").as(id),
          call_function("s2_point_xyz", col(geog)).as(xyz),
          element_at(call_function("s2_covering_fixed_level", col(geog), lit(30)), 1).as(cell))
        .where(size(col(xyz)) === 3)

    val levels = ladder(levelForCount(
      SpatialJoinRewrite.estimatedRows(right.queryExecution.analyzed)
        .map(_.toDouble.max(1.0)).getOrElse(1e6), k))
    // one index row per right point and step level (level 0 for the face
    // step), keyed by the point's cell at that level: a cell id encodes its
    // level, so every step joins this one index and matches only its own
    val index = keyed(right, idR, geogR, "__rc30", "__rxyz")
      .select(col(idR).as("nbr_id"), col("__rxyz"), explode(array((levels :+ 0).map(l =>
        call_function("s2_cell_parent", col("__rc30"), lit(l))): _*)).as("__icell"))
    val ok = col("nbr_id").isNotNull && pairFilter.getOrElse(lit(true))
    // one step: rows still pending probe `cells`; a certified row probes
    // only its own leaf cell, which equals no coarser cell, so it passes
    // the join unmatched and carries its top-k. A ring cell with no right
    // point, or a pair pairFilter rejects, leaves a (+inf, Long.MaxValue)
    // entry, so no pending row drops out.
    def probe(rows: DataFrame, cells: Column): DataFrame =
      rows.withColumn("__cell",
          explode(when(col("__done").isNull, cells).otherwise(array(col("__lc30")))))
        .join(index, SpatialJoinRewrite.cellJoinKey(col("__cell")) ===
          SpatialJoinRewrite.cellJoinKey(col("__icell")), "left_outer")
        .groupBy(col(idL))
        // one left row per id: max carries its keys and any earlier top-k
        .agg(max(struct(col("__lc30"), col("__lxyz"), col("__done"))).as("__row"),
          topk(when(ok, chord2(col("__lxyz"), col("__rxyz"))).otherwise(Double.PositiveInfinity),
            when(ok, col("nbr_id")).otherwise(Long.MaxValue)).as("__tk"))
        .select(col(idL), col("__row.*"), col("__tk"))

    val ladderRows = levels.foldLeft(
        keyed(FanOut.small(left), idL, geogL, "__lc30", "__lxyz")
          .withColumn("__done", lit(null).cast(Encoders.product[TopKBuf].schema))) { (rows, level) =>
      val ring = call_function("s2_cells_with_ring",
        array(call_function("s2_cell_parent", col("__lc30"), lit(level))), lit(1))
      // certified: k candidates found and the k-th inside the radius the
      // 3×3 ring provably covers at this level
      val bound = chord2OfMeters(MinWidthL0Meters / (1L << level))
      probe(rows, ring).select(col(idL), col("__lc30"), col("__lxyz"),
        coalesce(col("__done"), when(size(col("__tk.d2")) >= k,
          when(element_at(col("__tk.d2"), k) <= lit(bound), col("__tk")))).as("__done"))
    }
    // the tail: rows still pending after the last level probe the six
    // level-0 face cells (face f is id f << 61 | 1 << 60), a brute top-k
    // against the full right side
    val faces = array((0 until 6).map(f => lit((f.toLong << 61) | (1L << 60))): _*)
    probe(ladderRows, faces)
      .select(col(idL), coalesce(col("__done"), col("__tk")).as("__tk"))
      .select(col(idL),
        posexplode(arrays_zip(col("__tk.ids").as("i"), col("__tk.d2").as("d"))).as(Seq("__pos", "__z")))
      // a row with fewer than k neighbors ends its top-k with sentinels
      .where(col("__z.d") < Double.PositiveInfinity)
      .select(col(idL), col("__z.i").as("nbr_id"), (col("__pos") + 1).as("rank"),
        (asin(least(sqrt(col("__z.d")) / 2.0, lit(1.0))) * 2.0 * S2EdgeDist.EarthRadiusMeters).as("dist_m"))
  }
}
