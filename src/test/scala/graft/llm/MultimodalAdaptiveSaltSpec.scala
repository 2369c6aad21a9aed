package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** r16 unified hot-bucket governance (VERDICT r15 item 5): the media
  * near-dup joins now share Dedup's ADAPTIVE default — a cheap histogram
  * probe over the (cached, decode-free) key frame decides whether to
  * salt, so a cold corpus keeps the unsalted symmetric plan and a
  * degenerate pileup (uniform images, black frames) completes with
  * default args instead of serializing one quadratic task. */
class MultimodalAdaptiveSaltSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", false)
      .appName("graft-multimodal-adaptive-salt-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("cold corpus: adaptive default keeps the unsalted plan, pair set identical (image-hash join)") {
    val s = spark; import s.implicits._
    // distinct-ish hashes, small clusters — nothing near BucketPairs.DefaultCap
    val hashes = (1 to 400)
      .map(i => (i.toLong, (i / 2).toLong << 8)) // pairs of near hashes
      .toDF("id", "h")
    val adaptive = Multimodal.hamming64Pairs(hashes, maxHamming = 3)
    assert(!adaptive.queryExecution.executedPlan.toString.contains("__nsplit"),
      "a cold corpus must keep the unsalted plan (no hot-bucket split join)")
    val base = Multimodal.hamming64Pairs(hashes, maxHamming = 3, maxBucket = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val got = adaptive.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === base && base.nonEmpty,
      "adaptive (unsalted branch) must emit the identical pair set")
  }

  test("hot corpus: a beyond-threshold identical-hash class flips to the salted plan, clique exact") {
    val s = spark; import s.implicits._
    val n = BucketPairs.DefaultCap + 400 // 4496 identical hashes
    val hashes = ((1 to n).map(i => (i.toLong, 0xdeadbeefL)) ++
      (n + 1 to n + 30).map(i => (i.toLong, i.toLong << 20)))
      .toDF("id", "h")
    val adaptive = Multimodal.hamming64Pairs(hashes, maxHamming = 3)
    assert(adaptive.queryExecution.executedPlan.toString.contains("__nsplit"),
      "a hot bucket must flip the adaptive default to the salted plan")
    val cliquePairs = adaptive
      .where(col("id_a") <= n && col("id_b") <= n).count()
    assert(cliquePairs === n.toLong * (n - 1) / 2,
      "every within-class pair must surface exactly once under adaptive salting")
  }

  test("video frame-jaccard join: adaptive default unsalted on cold data, pair set identical") {
    val s = spark; import s.implicits._
    val fp = (1 to 60).map { i =>
      val base = (i / 2) * 100L
      (i.toLong, Seq(base + 1, base + 2, base + 3, i.toLong << 32), 4L)
    }.toDF("media_id", "frame_hashes", "nf")
    val adaptive = Multimodal.videoNearDupPairsFromFingerprints(fp, minJaccardPermille = 400)
    assert(!adaptive.queryExecution.executedPlan.toString.contains("__nsplit"))
    val base = Multimodal
      .videoNearDupPairsFromFingerprints(fp, minJaccardPermille = 400, maxBucket = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val got = adaptive.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === base && base.nonEmpty,
      "adaptive video frame join (unsalted branch) must emit the identical pair set")
  }
}
