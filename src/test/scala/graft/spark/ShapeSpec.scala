package graft.spark

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Shape]]'s picks on both sides of every row threshold, with the
  * broadcast-disabled and unreadable-footer cases, plus the footer reader
  * on a small bucketed-style parquet dir. Needs no TPC-H data. */
class ShapeSpec extends AnyFunSuite with BeforeAndAfterAll {
  import Shape._

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", false)
      .appName("graft-shape").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val unreadable: Option[Long] = None

  test("q1 salts only past Q1SaltRows lineitem rows or on an unreadable footer") {
    assert(q1(Some(Q1SaltRows)) === "flat")
    assert(q1(Some(Q1SaltRows + 1)) === "salted")
    assert(q1(unreadable) === "salted")
  }

  test("q3: bcast-both, then filter-first, then pre-agg-first as flat orders grow") {
    assert(q3(bucketed = false, Some(BcastMaxRows), bcast = true) === "bcast-both")
    assert(q3(bucketed = false, Some(BcastMaxRows + 1), bcast = true) === "filter-first")
    assert(q3(bucketed = false, Some(KeySetMaxRows), bcast = true) === "filter-first")
    assert(q3(bucketed = false, Some(KeySetMaxRows + 1), bcast = true) === "pre-agg-first")
    assert(q3(bucketed = false, Some(1L), bcast = false) === "pre-agg-first")
    assert(q3(bucketed = false, unreadable, bcast = true) === "pre-agg-first")
    assert(q3(bucketed = true, Some(KeySetMaxRows + 1), bcast = true) === "filter-first")
    assert(q3(bucketed = true, unreadable, bcast = false) === "filter-first")
  }

  test("q4 and q12 force the orders broadcast only on small flat inputs") {
    assert(q4(bucketed = false, Some(BcastMaxRows), bcast = true) === "bcast-orders")
    assert(q4(bucketed = false, Some(BcastMaxRows + 1), bcast = true) === "in-distinct")
    assert(q4(bucketed = false, Some(1L), bcast = false) === "in-distinct")
    assert(q4(bucketed = false, unreadable, bcast = true) === "in-distinct")
    assert(q4(bucketed = true, Some(1L), bcast = true) === "exists")
    assert(q12(bucketed = false, Some(BcastMaxRows), bcast = true) === "narrow")
    assert(q12(bucketed = false, Some(BcastMaxRows + 1), bcast = true) === "body")
    assert(q12(bucketed = false, Some(1L), bcast = false) === "body")
    assert(q12(bucketed = false, unreadable, bcast = true) === "body")
    assert(q12(bucketed = true, Some(1L), bcast = true) === "body")
    assert(guarded(Some(BcastMaxRows), bcast = true) === "bcast")
    assert(guarded(Some(BcastMaxRows + 1), bcast = true) === "fallback")
    assert(guarded(Some(1L), bcast = false) === "fallback")
    assert(guarded(unreadable, bcast = true) === "fallback")
  }

  test("q5 broadcasts the supplier dims only while supplier fits the budget") {
    assert(q5(Some(BcastMaxRows), bcast = true) === "supp-bcast")
    assert(q5(Some(BcastMaxRows + 1), bcast = true) === "supp")
    assert(q5(Some(1L), bcast = false) === "supp")
    assert(q5(unreadable, bcast = true) === "supp")
  }

  test("funnel folds and hourly runs one partition only on small flat events") {
    assert(funnel(bucketed = false, Some(FunnelFoldMaxRows)) === "fold")
    assert(funnel(bucketed = false, Some(FunnelFoldMaxRows + 1)) === "staged")
    assert(funnel(bucketed = false, unreadable) === "staged")
    assert(funnel(bucketed = true, Some(1L)) === "staged")
    assert(hourly(bucketed = false, Some(HourlyOneMaxRows - 1)) === "one-partition")
    assert(hourly(bucketed = false, Some(HourlyOneMaxRows)) === "two-level")
    assert(hourly(bucketed = false, unreadable) === "two-level")
    assert(hourly(bucketed = true, Some(1L)) === "two-level")
  }

  test("the measured scale points keep their branches") {
    // (orders, lineitem, events, supplier) rows: flat sf0.001..sf0.1 and
    // ScaleUp's bucketed copies (identity sf0.01, copies=10 sf1)
    for (sf <- Seq(1L, 10L, 100L)) {
      val (o, l, e, sp) = (Some(1500 * sf), Some(6000 * sf), Some(1000 * sf), Some(10 * sf))
      assert(Seq(q1(l), q3(false, o, true), q4(false, o, true), q5(sp, true),
        q12(false, o, true), funnel(false, e), hourly(false, e)) ===
        Seq("flat", "bcast-both", "bcast-orders", "supp-bcast", "narrow", "fold",
          "one-partition"))
    }
    val gate = (Some(15000L), Some(60000L), Some(10000L), Some(100L))
    val sf1 = (Some(1500000L), Some(6000000L), Some(1000000L), Some(10000L))
    for ((o, l, e, sp) <- Seq(gate, sf1))
      assert(Seq(q1(l), q3(true, o, true), q4(true, o, true), q5(sp, true),
        q12(true, o, true), funnel(true, e), hourly(true, e)) ===
        Seq("flat", "filter-first", "exists", "supp-bcast", "body", "staged", "two-level"))
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete()
  }

  test("footer rows sum every visible part file and skip the bucket marker") {
    val dir = Files.createTempDirectory("graft_shape").toString
    try {
      spark.range(0, 31, 1, 3).write.parquet(s"$dir/events.parquet")
      val names = new java.io.File(s"$dir/events.parquet").list().toSeq
      assert(names.count(_.endsWith(".parquet")) === 3)
      assert(names.exists(_.startsWith(".")) && names.contains("_SUCCESS"))
      Files.write(java.nio.file.Paths.get(s"$dir/events.parquet/_graft_buckets.json"),
        """{"key":"id","buckets":3,"sorted":true}""".getBytes(StandardCharsets.UTF_8))
      assert(rows(dir, "events") === Some(31L))
      assert(bucketed(dir, "events"))
      assert(!bucketed(dir, "events", "orders"))
      assert(rows(dir, "orders") === None)
    } finally rmrf(new java.io.File(dir))
  }

  test("an unreadable footer reads as None") {
    val dir = Files.createTempDirectory("graft_shape_bad").toString
    try {
      spark.range(0, 5, 1, 1).write.parquet(s"$dir/events.parquet")
      Files.write(java.nio.file.Paths.get(s"$dir/events.parquet/part-99999.parquet"),
        "not parquet".getBytes(StandardCharsets.UTF_8))
      assert(footerRows(s"$dir/events.parquet") === None)
      assert(rows(dir, "events") === None)
    } finally rmrf(new java.io.File(dir))
  }
}
