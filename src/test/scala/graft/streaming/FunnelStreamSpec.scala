package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming funnel == the batch b_events_funnel SQL on the same rows:
  * stage counts match the three-CTE min-timestamp formulation, strict
  * ordering and the per-stage window hold, multi-batch delivery with
  * state carried across triggers produces the same advances, and a
  * restart (second view) does NOT re-enter the funnel. */
class FunnelStreamSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", false)
      .appName("graft-funnel-stream-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
  private val stages = Seq("view", "click", "purchase")
  private val window = 3600L // 1 hour, minutes-scale fixtures

  /** Users `Group * g + 1 ..` belong to fixture group g: the randomized
    * tests run every seed in one query, each seed its own group. */
  private val Group = 1000L

  /** The batch query's formulation over an in-memory events table. */
  private def batchFunnel(rows: Seq[Funnel.FunnelEvent]): (Long, Long, Long) =
    batchFunnelByGroup(rows).getOrElse(0L, (0L, 0L, 0L))

  /** [[batchFunnel]] per fixture group (user_id / Group). */
  private def batchFunnelByGroup(rows: Seq[Funnel.FunnelEvent]): Map[Long, (Long, Long, Long)] = {
    val s = spark; import s.implicits._
    rows.toDF("ts", "user_id", "event_type").createOrReplaceTempView("fev")
    s.sql(
      s"""WITH v AS (SELECT user_id, min(ts) AS t FROM fev
         |     WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.ts) AS t FROM fev e JOIN v ON e.user_id = v.user_id
         |     WHERE e.event_type = 'click' AND e.ts > v.t
         |       AND CAST(e.ts AS DOUBLE) - CAST(v.t AS DOUBLE) <= $window GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.ts) AS t FROM fev e JOIN c ON e.user_id = c.user_id
         |     WHERE e.event_type = 'purchase' AND e.ts > c.t
         |       AND CAST(e.ts AS DOUBLE) - CAST(c.t AS DOUBLE) <= $window GROUP BY e.user_id)
         |SELECT user_id DIV $Group AS g, count_if(st = 1), count_if(st = 2), count_if(st = 3)
         |FROM (SELECT user_id, 1 AS st FROM v UNION ALL SELECT user_id, 2 FROM c
         |      UNION ALL SELECT user_id, 3 FROM p)
         |GROUP BY 1""".stripMargin).as[(Long, Long, Long, Long)].collect()
      .map { case (g, v, c, p) => g -> ((v, c, p)) }.toMap
  }

  /** Per-group (view, click, purchase) counts of a stream's output. */
  private def stageCounts(got: Seq[(Long, Int, Timestamp)]): Map[Long, (Long, Long, Long)] =
    got.groupBy(_._1 / Group).map { case (g, rs) =>
      g -> ((rs.count(_._2 == 1).toLong, rs.count(_._2 == 2).toLong, rs.count(_._2 == 3).toLong))
    }

  private def streamFunnel(batches: Seq[Seq[Funnel.FunnelEvent]]): Seq[(Long, Int, Timestamp)] = {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val input = MemoryStream[Funnel.FunnelEvent]
    val name = s"funnel_${System.nanoTime()}"
    val q = Funnel.funnelStream(input.toDS(), stages, window)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      for (b <- batches) { input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    s.table(name).as[(Long, Int, Timestamp)].collect().toSeq
  }

  test("stage counts equal the batch SQL, incl. strictness and windows") {
    val rows = Seq(
      // user 1 completes: view 0, click +10m, purchase +20m
      Funnel.FunnelEvent(ts(0), 1, "view"),
      Funnel.FunnelEvent(ts(10), 1, "click"),
      Funnel.FunnelEvent(ts(30), 1, "purchase"),
      // user 2: click at the SAME instant as view (strict > rejects it),
      // a later click qualifies, purchase outside the window does not
      Funnel.FunnelEvent(ts(0), 2, "view"),
      Funnel.FunnelEvent(ts(0), 2, "click"),
      Funnel.FunnelEvent(ts(5), 2, "click"),
      Funnel.FunnelEvent(ts(5 + 70), 2, "purchase"), // 70 min > 1 h window
      // user 3: purchase before any click never counts
      Funnel.FunnelEvent(ts(0), 3, "view"),
      Funnel.FunnelEvent(ts(1), 3, "purchase"),
      // user 4: no view at all — clicks are ignored outright
      Funnel.FunnelEvent(ts(0), 4, "click"),
      Funnel.FunnelEvent(ts(1), 4, "purchase"))
    val (bv, bc, bp) = batchFunnel(rows)
    val got = streamFunnel(Seq(rows))
    assert(got.count(_._2 == 1) === bv)
    assert(got.count(_._2 == 2) === bc)
    assert(got.count(_._2 == 3) === bp)
    assert((bv, bc, bp) === (3L, 2L, 1L)) // fixture sanity
  }

  test("randomized parity: state machine equals the batch SQL on 40 seeds") {
    // one query over all seeds: seed s owns users Group * s + 1 ..
    val rows = (1 to 40).flatMap { seed =>
      val rnd = new scala.util.Random(seed)
      val types = Seq("view", "click", "purchase", "error") // error = noise
      (1 to (20 + rnd.nextInt(60))).map { _ =>
        Funnel.FunnelEvent(ts(rnd.nextInt(300)), Group * seed + 1 + rnd.nextInt(6),
          types(rnd.nextInt(types.length)))
      }
    }
    val batch = batchFunnelByGroup(rows)
    val got = stageCounts(streamFunnel(Seq(rows)))
    for (seed <- 1L to 40L)
      assert(got.getOrElse(seed, (0L, 0L, 0L)) === batch.getOrElse(seed, (0L, 0L, 0L)), s"seed=$seed")
  }

  test("watermark far past a stage timestamp does not kill the query") {
    // user 5 hits stage 1 at t0; a flood of other-user events then drives
    // the watermark far beyond t0 + horizon; user 5's next event must not
    // make setTimeoutTimestamp throw (timeout ts below watermark)
    val b1 = Seq(Funnel.FunnelEvent(ts(0), 5, "view"))
    val b2 = (1 to 5).map(i => Funnel.FunnelEvent(ts(3000 + i), 100L + i, "view"))
    val b3 = Seq(Funnel.FunnelEvent(ts(3010), 5, "error")) // noise, above watermark
    val got = streamFunnel(Seq(b1, b2, b3)) // must complete without exception
    assert(got.count(r => r._1 == 5L && r._2 == 1) === 1)
  }

  test("post-expiry re-entry opens a NEW funnel (documented bounded-state semantics)") {
    val b1 = Seq(Funnel.FunnelEvent(ts(0), 9, "view"))
    // push the watermark (1h delay) past user 9's horizon (2*3*1h = 6h):
    // watermark after b2 = ts(600) - 60min = ts(540) > ts(0) + 360min
    val b2 = Seq(Funnel.FunnelEvent(ts(600), 42, "view"))
    // a batch where user 9 has NO data: their timeout fires, state removed
    val b3 = Seq(Funnel.FunnelEvent(ts(610), 43, "view"))
    // user 9 reappears above the watermark: state expired -> new funnel
    val b4 = Seq(Funnel.FunnelEvent(ts(590), 9, "view"))
    val got = streamFunnel(Seq(b1, b2, b3, b4))
    assert(got.filter(_._1 == 9L).map(r => (r._2, r._3)).sortBy(_._2.getTime) ===
      Seq((1, ts(0)), (1, ts(590))))
  }

  test("state carries across triggers; a second view cannot restart") {
    val b1 = Seq(
      Funnel.FunnelEvent(ts(0), 7, "view"),
      Funnel.FunnelEvent(ts(5), 7, "click"))
    val b2 = Seq(
      Funnel.FunnelEvent(ts(10), 7, "purchase"), // completes across batches
      Funnel.FunnelEvent(ts(12), 7, "view"),     // post-completion view
      Funnel.FunnelEvent(ts(13), 7, "click"))    // must NOT re-emit stage 2
    val got = streamFunnel(Seq(b1, b2))
    assert(got.map(r => (r._2, r._3)).sortBy(_._1) ===
      Seq((1, ts(0)), (2, ts(5)), (3, ts(10))))
    // batch SQL on the union agrees (first-view semantics)
    assert(batchFunnel(b1 ++ b2) === ((1L, 1L, 1L)))
  }

  // ------------------------------------------- buffered (watermark-exact)

  private def streamFunnelBuffered(
      batches: Seq[Seq[Funnel.FunnelEvent]]): Seq[(Long, Int, Timestamp)] = {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val input = MemoryStream[Funnel.FunnelEvent]
    val name = s"funnelbuf_${System.nanoTime()}"
    val q = Funnel.funnelStreamBuffered(input.toDS(), stages, window)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      for (b <- batches) { input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    s.table(name).as[(Long, Int, Timestamp)].collect().toSeq
  }

  /** A far-future other-user event that pushes the global watermark past
    * every fixture user's horizon so their timeouts fire and finalize. */
  private def flush(afterMin: Int) =
    Seq(Funnel.FunnelEvent(ts(afterMin), 999L, "noise"))

  test("buffered: cross-trigger out-of-order above watermark still counts (the case funnelStream's contract excludes)") {
    // the ADVICE r13 scenario: the click arrives a trigger BEFORE the
    // earlier-event-time view, both above the watermark
    val b1 = Seq(Funnel.FunnelEvent(ts(10), 1, "click"))
    val b2 = Seq(Funnel.FunnelEvent(ts(5), 1, "view"))
    // horizon = 2*3*60min = 360min from newest (ts 10); watermark needs
    // ts(10+360) + 60min slack to fire the finalize timeout
    val got = streamFunnelBuffered(Seq(b1, b2, flush(10 + 360 + 61)))
      .filter(_._1 == 1L)
    assert(got.map(r => (r._2, r._3)).sortBy(_._1) === Seq((1, ts(5)), (2, ts(10))),
      "buffered funnel must replay watermark-sealed events in event-time order")
    // contrast: the unbuffered stream discards the early click at stage 0
    val plain = streamFunnel(Seq(b1, b2)).filter(_._1 == 1L)
    assert(plain.map(_._2) === Seq(1), "funnelStream's in-order contract undercounts here")
  }

  test("buffered: watermark-sealed events flush on the user's NEXT activity, not only at timeout") {
    val b1 = Seq(Funnel.FunnelEvent(ts(10), 1, "click"))
    val b2 = Seq(
      Funnel.FunnelEvent(ts(5), 1, "view"),
      Funnel.FunnelEvent(ts(15), 1, "purchase"))
    val b3 = flush(15 + 61) // watermark past ts(15): user 1's buffer is ripe
    val b4 = Seq(Funnel.FunnelEvent(ts(90), 1, "error")) // activity triggers replay
    val got = streamFunnelBuffered(Seq(b1, b2, b3, b4)).filter(_._1 == 1L)
    assert(got.map(r => (r._2, r._3)).sortBy(_._1) ===
      Seq((1, ts(5)), (2, ts(10)), (3, ts(15))))
  }

  test("buffered randomized parity: ANY above-watermark delivery order equals the batch SQL") {
    // one query over all seeds: seed s owns users Group * s + 1 .., and
    // its rows go out in its own shuffled order across the same three
    // triggers. Every event time lies in [0, 55) minutes, a span under
    // the 60 min watermark slack, so no delivery order can drop a row.
    val seeds = (1 to 25).map { seed =>
      val rnd = new scala.util.Random(1000 + seed)
      val types = Seq("view", "click", "purchase", "error")
      val rows = (1 to (20 + rnd.nextInt(40))).map { _ =>
        Funnel.FunnelEvent(ts(rnd.nextInt(55)), Group * seed + 1 + rnd.nextInt(6),
          types(rnd.nextInt(types.length)))
      }
      val shuffled = rnd.shuffle(rows)
      val (a, rest) = shuffled.splitAt(shuffled.length / 3)
      val (b, c) = rest.splitAt(rest.length / 2)
      (rows, a, b, c)
    }
    val batch = batchFunnelByGroup(seeds.flatMap(_._1))
    val got = stageCounts(streamFunnelBuffered(Seq(seeds.flatMap(_._2), seeds.flatMap(_._3),
      seeds.flatMap(_._4), flush(55 + 360 + 61))).filter(_._1 != 999L))
    for (seed <- 1L to 25L)
      assert(got.getOrElse(seed, (0L, 0L, 0L)) === batch.getOrElse(seed, (0L, 0L, 0L)), s"seed=$seed")
  }

  test("buffered: completed funnel drops its buffer and cannot re-enter") {
    val b1 = Seq(
      Funnel.FunnelEvent(ts(0), 7, "view"),
      Funnel.FunnelEvent(ts(5), 7, "click"),
      Funnel.FunnelEvent(ts(10), 7, "purchase"),
      Funnel.FunnelEvent(ts(12), 7, "view"),  // post-completion
      Funnel.FunnelEvent(ts(13), 7, "click"))
    val got = streamFunnelBuffered(Seq(b1, flush(13 + 361 + 61))).filter(_._1 == 7L)
    assert(got.map(r => (r._2, r._3)).sortBy(_._1) ===
      Seq((1, ts(0)), (2, ts(5)), (3, ts(10))))
  }
}
