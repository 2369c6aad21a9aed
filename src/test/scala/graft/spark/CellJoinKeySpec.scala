package graft.spark

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, BitwiseXor, Expression, Literal,
  ShiftRightUnsigned}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.GeoEnrich

/** Every cell join matches on the spread key `c ^ (c >>> 32)`
  * ([[SpatialJoinRewrite.cellJoinKey]]) of a cell column: the
  * cover-then-refine rewrite, the kNN index join and the batch distance
  * enrich. A streaming distance enrich keeps the raw cell. */
class CellJoinKeySpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", false)
      .appName("graft-cell-join-key").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    S2Functions.register(spark)
    S2Data.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Equi-join keys of every join in `plan`, one sequence per join. */
  private def joinKeys(plan: LogicalPlan): Seq[Seq[Expression]] = plan.collect {
    case j: Join => ExtractEquiJoinKeys.unapply(j).toSeq.flatMap(k => k._2 ++ k._3)
  }

  private def spread(e: Expression): Boolean = e match {
    case BitwiseXor(c, ShiftRightUnsigned(c2, Literal(32, _))) => c.semanticEquals(c2)
    case _ => false
  }

  private def assertSpread(df: DataFrame, joins: Int): Unit = {
    val keys = joinKeys(df.queryExecution.optimizedPlan)
    assert(keys.size === joins, s"expected $joins joins: $keys")
    assert(keys.forall(ks => ks.nonEmpty && ks.forall(spread)), s"join keys: $keys")
  }

  private def points(n: Int): DataFrame = {
    val s = spark; import s.implicits._
    (0 until n).map(i => (i.toLong, (i % 10) * 3.0 - 15.0, (i / 10) * 3.0 - 10.0))
      .toDF("id", "lon", "lat")
      .select(col("id"), call_function("s2_geogpoint", col("lon"), col("lat")).as("g"))
  }

  test("the cover-then-refine rewrite joins on the spread key, SQL and DataFrame forms") {
    val cities = S2Data.cities(spark).select(col("name").as("city"), col("geog").as("gc"))
    val countries = S2Data.countries(spark).select(col("name").as("country"), col("geog").as("gn"))
    assertSpread(S2Join.intersects(countries, "gn", cities, "gc"), 1)
    assertSpread(S2Join.dwithin(cities, "gc",
      cities.select(col("city").as("other"), col("gc").as("go")), "go", 25000.0), 1)
    val withRule = SparkSession.builder().getOrCreate().newSession()
    withRule.experimental.extraOptimizations = Seq(SpatialJoinRewrite)
    S2Functions.register(withRule)
    S2Data.register(withRule)
    assertSpread(withRule.sql(
      """SELECT c.name, p.name FROM s2_data_countries c JOIN s2_data_cities p
        |ON s2_intersects(c.geog, p.geog)""".stripMargin), 1)
  }

  test("every kNN ladder step joins its index on the spread key") {
    val pts = points(60)
    val out = KnnJoin.knn(pts, "id", "g", pts, "id", "g", k = 3)
    val steps = joinKeys(out.queryExecution.optimizedPlan).size
    assert(steps >= 2, "a ladder step and the face step")
    assertSpread(out, steps)
  }

  test("the batch distance enrich joins on the spread key; a stream keeps the raw cell") {
    val s = spark
    import s.implicits._
    val ev = Seq((1L, 2.35, 48.86, new Timestamp(0L))).toDF("id_a", "lon_a", "lat_a", "ts_a")
    val ref = Seq((10L, 2.21, 48.71, new Timestamp(0L))).toDF("id_b", "lon_b", "lat_b", "ts_b")
    def enrich(l: DataFrame, r: DataFrame) = GeoEnrich.dwithinJoin(l, "lon_a", "lat_a", "ts_a",
      r, "lon_b", "lat_b", "ts_b", meters = 300000.0, windowSeconds = 600L)
    assertSpread(enrich(ev, ref), 1)

    implicit val sqlCtx = s.sqlContext
    val inA = MemoryStream[(Long, Double, Double, Timestamp)]
    val inB = MemoryStream[(Long, Double, Double, Timestamp)]
    val streamed = enrich(inA.toDF().toDF("id_a", "lon_a", "lat_a", "ts_a"),
      inB.toDF().toDF("id_b", "lon_b", "lat_b", "ts_b"))
    val keys = joinKeys(streamed.queryExecution.analyzed)
    assert(keys.size === 1 && keys.head.nonEmpty && keys.head.forall(_.isInstanceOf[Attribute]),
      s"stream join keys: $keys")
  }
}
