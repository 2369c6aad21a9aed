package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** r15 adaptive hot-bucket governance (VERDICT r14 item 4): the text-side
  * banded dedup joins salt BY DEFAULT — but only after a cheap histogram
  * probe says a bucket is actually hot, so a clean corpus keeps the
  * unsalted symmetric plan and a degenerate pileup corpus completes with
  * default args instead of serializing one quadratic task. */
class DedupAdaptiveSaltSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", false)
      .appName("graft-dedup-adaptive-salt-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("no hot bucket: the adaptive default preserves the unsalted plan and pair set") {
    val s = spark; import s.implicits._
    val docs = (1 to 300)
      .map(i => (i.toLong, s"unique doc $i with words ${i % 7} ${i % 11} ${i % 13}"))
      .toDF("doc_id", "text")
    val adaptive = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
    assert(!adaptive.queryExecution.executedPlan.toString.contains("__salt"),
      "a clean corpus must keep the unsalted symmetric join")
    val base = Dedup.minhashCandidatePairs(docs, "doc_id", "text", maxBucket = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val got = adaptive.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === base, "adaptive (unsalted branch) must emit the identical pair set")
    // simhash: same discipline
    val shAdaptive = Dedup.simhashCandidatePairs(docs, "doc_id", "text")
    assert(!shAdaptive.queryExecution.executedPlan.toString.contains("__salt"))
    val shBase = Dedup.simhashCandidatePairs(docs, "doc_id", "text", maxBucket = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(shAdaptive.select("id_a", "id_b").as[(Long, Long)].collect().toSet === shBase)
  }

  test("a beyond-threshold identical-band class completes with DEFAULT args, pair set exact") {
    val s = spark; import s.implicits._
    // 5000 identical docs — one signature class, every band the same
    // bucket, population > BucketPairs.DefaultCap (4096): the r14 default would
    // put the whole 12.5M-pair clique in one task. Since the r21
    // signature-group collapse the class enters the band join as ONE
    // representative (no hot bucket, no band salt); the 12.5M pairs come
    // from the triangular member expansion ("__xt"/"__xcell" cells), which
    // splits the group into ceil(5000/4096) = 2 cells so the quadratic
    // expansion spreads over multiple tasks — and still emits every clique
    // pair exactly once.
    val n = 5000
    assert(n > BucketPairs.DefaultCap)
    val docs = ((1 to n).map(i => (i.toLong, "the same boilerplate text block")) ++
      (n + 1 to n + 40).map(i => (i.toLong, s"unique tail doc $i ${i % 5}")))
      .toDF("doc_id", "text")
    val adaptive = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      numHashes = 16, bands = 2)
    val planStr = adaptive.queryExecution.executedPlan.toString
    assert(!planStr.contains("__salt"),
      "the collapsed rep join must see no hot bucket for a single dup clique")
    assert(planStr.contains("__xt"),
      "the triangular member expansion must be in the plan")
    val cliquePairs = adaptive
      .where(col("id_a") <= n && col("id_b") <= n).count()
    assert(cliquePairs === n.toLong * (n - 1) / 2,
      "every within-class pair must surface exactly once under the collapse")
  }

  test("forced band salting (maxBucket > 0) keeps the salted rep join and the exact pair set") {
    val s = spark; import s.implicits._
    val docs = ((1 to 200).map(i => (i.toLong, s"unique doc $i with words ${i % 7} ${i % 11}")) ++
      (201 to 260).map(i => (i.toLong, "shared boilerplate block")))
      .toDF("doc_id", "text")
    val saltedDf = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      numHashes = 16, bands = 2, maxBucket = 8)
    assert(saltedDf.queryExecution.executedPlan.toString.contains("__salt"),
      "maxBucket > 0 must force the salted rep band join")
    val base = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      numHashes = 16, bands = 2, maxBucket = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val got = saltedDf.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === base, "forced salting must emit the identical pair set")
  }
}
