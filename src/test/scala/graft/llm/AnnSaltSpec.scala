package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Hot-bucket salting in the SRP-LSH joins is candidate-preserving: a
  * corpus skewed onto one signature bucket (many identical vectors) gives
  * the same top-k rows and the same near-dup pairs whether that bucket is
  * split across salts (`maxBucket = 2`) or joined whole (`maxBucket = 0`). */
class AnnSaltSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", false)
      .appName("graft-ann-salt-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val Copies = 48

  // ids 1..48: one vector repeated (one SRP bucket holds all of them);
  // ids 101..140: seeded random vectors spread over the other buckets
  private def skewed(): DataFrame = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val hot = vec()
    ((1 to Copies).map(i => (i.toLong, hot.clone())) ++
      (101 to 140).map(i => (i.toLong, vec())))
      .toDF("vec_id", "embedding")
  }

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("lshTopK: a salted hot bucket returns the unsalted top-k rows") {
    val s = spark; import s.implicits._
    val corpus = skewed()
    val queries = corpus.where($"vec_id" % 3 === 0)
    def topk(cap: Int) = Ann.lshTopK(queries, corpus, k = 5, maxBucket = cap)
    val salted = topk(2)
    assert(planOf(salted).contains("__nsplit"), "maxBucket = 2 must split the hot bucket")
    assert(!planOf(topk(0)).contains("__nsplit"), "maxBucket = 0 must keep the unsalted join")
    def rows(df: DataFrame) =
      df.select("q_id", "c_id", "sim", "rank").as[(Long, Long, Double, Int)].collect().toSet
    val base = rows(topk(0))
    val hotQueries = (1 to Copies).count(_ % 3 == 0)
    assert(base.count(r => r._1 <= Copies && r._2 <= Copies) === hotQueries * 5,
      "every hot query's top-5 must come from its identical copies")
    assert(rows(salted) === base, "salting must not change the top-k rows")
  }

  test("cosineNearDupPairs: a salted hot bucket returns the unsalted pair set") {
    val s = spark; import s.implicits._
    val df = skewed()
    def pairs(cap: Int) =
      Ann.cosineNearDupPairs(df, threshold = 0.99, maxBucket = cap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    val base = pairs(0)
    assert(base.count { case (a, b) => a <= Copies && b <= Copies } === Copies * (Copies - 1) / 2,
      "the identical copies must form an exact clique")
    val salted = pairs(2)
    assert(salted.size === base.size, "salting must emit each pair exactly once")
    assert(salted.toSet === base.toSet, "salting must not change the pair set")
  }
}
