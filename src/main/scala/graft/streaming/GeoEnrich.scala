package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.spark.{S2Functions, S2Join, SpatialJoinRewrite}

/**
 * Stream-static spatial enrichment: tag each streaming point event with
 * the static region(s) containing it — the streaming twin of the batch
 * flagship join (reference README.md:14-19 countries x cities).
 *
 * Plan shape: the static region side is prepared once (edge index
 * serialized into the blob) and broadcast; the stream is the probe side
 * of a BroadcastNestedLoopJoin whose predicate is the native
 * s2_intersects expression, so per-event refine hits the prepared-blob
 * decode cache. Stream-static inner joins need no watermark and keep no
 * state — at 100 TB/day of events this runs at stream speed as long as
 * the region table fits in a broadcast (the 177-country table is ~3 MB
 * prepared).
 *
 * The same call works on batch frames — the plan is identical minus the
 * streaming source.
 */
object GeoEnrich {

  def enrichPoints(events: DataFrame, lonCol: String, latCol: String,
                   regions: DataFrame, regionGeog: String): DataFrame = {
    S2Functions.ensureRegistered(events.sparkSession)
    val pts = events.withColumn("__pt",
      call_function("s2_geogpoint", col(lonCol), col(latCol)))
    S2Join.broadcastIntersects(regions, regionGeog, pts, "__pt")
      .drop("__pt", regionGeog)
  }

  /**
   * Stream-static k-nearest-neighbor enrichment: tag each streaming point
   * event with its k nearest points from a STATIC corpus (stations,
   * cities, POIs) — the streaming twin of [[graft.spark.KnnJoin.knn]],
   * whose per-level certification is a chain of aggregations grouped by
   * query row: on a stream each would be a stateful operator holding
   * every event until a watermark closes it.
   *
   * The static corpus is collected and broadcast (the bounded small-side
   * contract of [[enrichPoints]] / [[graft.llm.Ann.bruteForceTopK]]'s
   * query side) together with a level-L cell index built once on the
   * driver; each event then runs the same certification as the batch
   * join — 3×3 ring probe at level L, k-bounded insertion, kMinWidth
   * certification, coarser levels (here one at a time: a probe of the
   * in-memory index is cheap), full-scan fallback — entirely inside one
   * stateless scalar UDF, so the operator needs no watermark, keeps no
   * state, and joins nothing: at
   * stream scale the cost is O(candidates-in-ring) per event against an
   * in-memory index. Ranking is identical to the batch join (squared
   * chord, (dist, id) tie-break), so batch replays of the stream agree
   * bit-for-bit — spec-pinned against KnnJoin.knn.
   *
   * Output: input rows exploded to k rows each with `nbr_id`, `rank`
   * (1..k), `dist_m`; events keep fewer than k rows when the corpus is
   * smaller than k. The same call works on batch frames.
   */
  def knnEnrich(events: DataFrame, lonCol: String, latCol: String,
                corpus: DataFrame, idCol: String, geogCol: String,
                k: Int): DataFrame = {
    require(k >= 1 && k <= 1024, s"knnEnrich(): k must be in 1..1024, got $k")
    val spark = events.sparkSession
    S2Functions.ensureRegistered(spark)
    import spark.implicits._
    // non-point / null geographies drop, like the batch join
    val rows = corpus
      .select(col(idCol).cast("long").as("id"),
        call_function("s2_point_xyz", col(geogCol)).as("xyz"))
      .where(size(col("xyz")) === 3)
      .as[(Long, Array[Double])].collect()
    val n = rows.length
    val ids = new Array[Long](n)
    val xs = new Array[Double](n); val ys = new Array[Double](n); val zs = new Array[Double](n)
    var i = 0
    while (i < n) {
      ids(i) = rows(i)._1
      xs(i) = rows(i)._2(0); ys(i) = rows(i)._2(1); zs(i) = rows(i)._2(2)
      i += 1
    }
    val level = graft.spark.KnnJoin.levelForCount(n.toDouble.max(1.0), k)
    val buckets = new java.util.HashMap[java.lang.Long, scala.collection.mutable.ArrayBuffer[Int]]()
    i = 0
    while (i < n) {
      val c = graft.core.S2CellId.parent(graft.core.S2CellId.fromPoint(xs(i), ys(i), zs(i)), level)
      var b = buckets.get(c)
      if (b == null) { b = scala.collection.mutable.ArrayBuffer[Int](); buckets.put(c, b) }
      b += i
      i += 1
    }
    val index = new java.util.HashMap[java.lang.Long, Array[Int]]()
    buckets.forEach((c, b) => { index.put(c, b.toArray); () })
    val bc = spark.sparkContext.broadcast((ids, xs, ys, zs, index, level))

    val knnFn = udf((lon: Double, lat: Double) => {
      val (bIds, bXs, bYs, bZs, bIdx, l0) = bc.value
      val p = graft.core.S2Point.fromLatLngDegrees(lat, lon)
      val c30 = graft.core.S2CellId.fromPoint(p.x, p.y, p.z)
      val kd = new Array[Double](k); val ki = new Array[Long](k)
      var kept = 0
      def scan(cands: Iterator[Int]): Unit = cands.foreach { idx =>
        val dx = p.x - bXs(idx); val dy = p.y - bYs(idx); val dz = p.z - bZs(idx)
        val d2 = dx * dx + dy * dy + dz * dz
        val id = bIds(idx)
        if (kept < k || d2 < kd(kept - 1) || (d2 == kd(kept - 1) && id < ki(kept - 1))) {
          // insertion by (d2, id)
          var lo = 0; var hi = kept
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (kd(mid) < d2 || (kd(mid) == d2 && ki(mid) < id)) lo = mid + 1 else hi = mid
          }
          val last = Math.min(kept, k - 1)
          var j = last
          while (j > lo) { kd(j) = kd(j - 1); ki(j) = ki(j - 1); j -= 1 }
          if (lo < k) { kd(lo) = d2; ki(lo) = id; if (kept < k) kept += 1 }
        }
      }
      var lvl = l0
      var done = false
      while (!done && lvl >= 0) {
        kept = 0
        val cells = graft.spark.S2Functions.cellsWithNeighborsRing(
          Array(graft.core.S2CellId.parent(c30, lvl)), 1)
        var ci = 0
        while (ci < cells.length) {
          val arr = bIdx.get(cells(ci))
          if (arr != null) scan(arr.iterator)
          ci += 1
        }
        val bound = graft.spark.KnnJoin.chord2OfMeters(
          graft.spark.KnnJoin.MinWidthL0Meters / (1L << lvl))
        if (kept >= k && kd(k - 1) <= bound) done = true
        else lvl -= 1
      }
      if (!done) { kept = 0; scan((0 until bIds.length).iterator) } // full-scan fallback
      (0 until kept).map { r =>
        val dist = Math.asin(Math.min(Math.sqrt(kd(r)) / 2.0, 1.0)) * 2.0 *
          graft.core.S2EdgeDist.EarthRadiusMeters
        (ki(r), r + 1, dist)
      }
    })
    events
      .withColumn("__knn", explode(knnFn(col(lonCol).cast("double"), col(latCol).cast("double"))))
      .withColumn("nbr_id", col("__knn._1"))
      .withColumn("rank", col("__knn._2"))
      .withColumn("dist_m", col("__knn._3"))
      .drop("__knn")
  }

  /**
   * Stream-stream distance join: pairs of point events from two streams
   * that are within `meters` of each other AND within `windowSeconds` of
   * event time — the streaming twin of [[graft.spark.S2Join.dwithin]].
   *
   * Plan shape is exactly what Structured Streaming's symmetric hash join
   * can bound state for: the left side explodes its point cell's ring
   * neighborhood (the distance buffer, same as the batch join), the right
   * side keys by its single fixed-level cell, and the join condition is
   * cell EQUALITY + a two-sided event-time range + the exact chord-band
   * refine (`s2_dwithin_xyz`). Both sides carry watermarks, and the
   * two-sided time range lets Spark evict state older than
   * watermark - window on BOTH sides, so the operator runs forever with
   * state proportional to (rate x window), not the stream.
   *
   * The level offset comes from the same resolver as the batch join
   * ([[graft.spark.SpatialJoinRewrite.dwithinOffset]]), but the plan is
   * built here: a stream-stream join needs its event-time range INSIDE
   * the join condition, while the batch rewrite lifts every non-spatial
   * conjunct into a filter above the cell join.
   *
   * Column names must be distinct across the two sides (the standard
   * constraint for condition-form stream joins). The same call works on
   * batch frames — the watermark nodes fold away and the identical
   * cell-ring equi-join plan runs (oracle-checked by `b_stream_dwithin`).
   */
  def dwithinJoin(left: DataFrame, lonL: String, latL: String, tsL: String,
                  right: DataFrame, lonR: String, latR: String, tsR: String,
                  meters: Double, windowSeconds: Long,
                  watermark: String = "1 hour",
                  pairFilter: Option[Column] = None): DataFrame = {
    S2Functions.ensureRegistered(left.sparkSession)
    val base = S2Join.levelForDistance(meters)
    val offset = SpatialJoinRewrite.dwithinOffset(left.sparkSession.sessionState.conf, base,
      left.queryExecution.analyzed, right.queryExecution.analyzed)
    val level = Math.min(base + offset, 30)
    val ring = 1 << offset
    val l = left
      .withColumn("__lpt", call_function("s2_geogpoint", col(lonL), col(latL)))
      .withColumn("__lxyz", call_function("s2_point_xyz", col("__lpt")))
      .withColumn("__lcell", explode(call_function("s2_cells_with_ring",
        call_function("s2_covering_fixed_level", col("__lpt"), lit(level)), lit(ring))))
      .withWatermark(tsL, watermark)
    // a point's fixed-level covering is exactly one cell, so the right
    // side needs no explode — and a pair can meet on at most one cell, so
    // no smallest-common-cell reporting either
    val r = right
      .withColumn("__rpt", call_function("s2_geogpoint", col(lonR), col(latR)))
      .withColumn("__rxyz", call_function("s2_point_xyz", col("__rpt")))
      .withColumn("__rcell", element_at(
        call_function("s2_covering_fixed_level", col("__rpt"), lit(level)), 1))
      .withWatermark(tsR, watermark)
    val timeRange =
      col(tsL) >= col(tsR) - expr(s"INTERVAL $windowSeconds SECONDS") &&
        col(tsL) <= col(tsR) + expr(s"INTERVAL $windowSeconds SECONDS")
    val refine = call_function("s2_dwithin_xyz",
      col("__lxyz"), col("__rxyz"), col("__lpt"), col("__rpt"), lit(meters))
    // when() locks evaluation order: cheap pair filter before the refine
    val guarded = pairFilter.fold(refine)(pf => when(pf, refine).otherwise(lit(false)))
    l.join(r, col("__lcell") === col("__rcell") && timeRange && guarded)
      .drop("__lpt", "__lxyz", "__lcell", "__rpt", "__rxyz", "__rcell")
  }
}
