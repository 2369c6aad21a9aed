package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SpatialJoinRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", false)
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .appName("graft-rewrite-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    S2Functions.register(spark)
    S2Data.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def assertRewritten(df: org.apache.spark.sql.DataFrame): Unit = {
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoopJoin"),
      s"expected the spatial rewrite to remove the nested-loop join:\n$physical")
  }

  test("theta join on s2_intersects is rewritten to a cell equi-join") {
    val df = spark.sql(
      """SELECT c.name AS country, t.name AS city
        |FROM s2_data_countries c JOIN s2_data_cities t
        |  ON s2_intersects(c.geog, t.geog)""".stripMargin)
    assertRewritten(df)
    assert(df.count() === 210) // reference README.md:69
  }

  test("theta join on s2_contains is rewritten and matches the nested-loop result") {
    val df = spark.sql(
      """SELECT c.name AS country, t.name AS city
        |FROM s2_data_countries c JOIN s2_data_cities t
        |  ON s2_contains(c.geog, t.geog)""".stripMargin)
    assertRewritten(df)
    // containment of city points == intersects for point probes (210 rows)
    assert(df.count() === 210)
  }

  test("theta join on s2_dwithin with constant radius is rewritten") {
    // the spatial predicate is one conjunct among others — still rewritten,
    // with the full condition kept as the refine filter
    val df = spark.sql(
      """SELECT a.name, b.name
        |FROM s2_data_cities a JOIN s2_data_cities b
        |  ON s2_dwithin(a.geog, b.geog, 500000.0) AND a.name < b.name""".stripMargin)
    assertRewritten(df)
    val whole = spark.sql(
      """SELECT a.name, b.name
        |FROM s2_data_cities a JOIN s2_data_cities b
        |  ON s2_dwithin(a.geog, b.geog, 500000.0)""".stripMargin)
    assertRewritten(whole)
    val n = whole.count()
    // symmetric relation incl. self-pairs: n = 2*pairs + 243 selves
    assert(n >= 243 && (n - 243) % 2 === 0)
    assert(df.count() === (n - 243) / 2)
  }

  test("dwithinLevelOffset conf changes the SQL plan's key space, not the result") {
    val q =
      """SELECT a.name, b.name
        |FROM s2_data_cities a JOIN s2_data_cities b
        |  ON s2_dwithin(a.geog, b.geog, 500000.0) AND a.name < b.name""".stripMargin
    val base = spark.sql(q).count()
    spark.conf.set(SpatialJoinRewrite.DwithinLevelOffsetConf, "2")
    try {
      val df = spark.sql(q)
      assertRewritten(df)
      assert(df.count() === base)
    } finally spark.conf.unset(SpatialJoinRewrite.DwithinLevelOffsetConf)
  }

  test("rewrite preserves duplicate-row multiplicity exactly") {
    val single = spark.sql(
      """SELECT count(*) AS n FROM
        | (SELECT * FROM s2_data_countries WHERE name IN ('Canada', 'Chile')) c
        | JOIN s2_data_cities t ON s2_intersects(c.geog, t.geog)""".stripMargin)
      .collect().head.getLong(0)
    assert(single > 0)
    val doubled = spark.sql(
      """WITH c AS (SELECT * FROM s2_data_countries WHERE name IN ('Canada', 'Chile')),
        | cc AS (SELECT * FROM c UNION ALL SELECT * FROM c)
        |SELECT count(*) AS n FROM cc JOIN s2_data_cities t
        |  ON s2_intersects(cc.geog, t.geog)""".stripMargin)
    assertRewritten(doubled)
    assert(doubled.collect().head.getLong(0) === 2 * single)
  }

  test("null geographies and map-typed columns flow through the rewrite") {
    val df = spark.sql(
      """WITH c AS (
        |  SELECT name, geog, map('k', name) AS meta FROM s2_data_countries
        |  UNION ALL
        |  SELECT 'nowhere', CAST(NULL AS BINARY), map('k', 'nowhere')
        |)
        |SELECT c.name, c.meta, t.name AS city
        |FROM c JOIN s2_data_cities t ON s2_intersects(c.geog, t.geog)""".stripMargin)
    assertRewritten(df)
    assert(df.count() === 210)
    assert(df.where("name = 'nowhere'").count() === 0)
  }

  test("non-spatial joins are untouched") {
    val df = spark.sql(
      """SELECT count(*) FROM s2_data_cities a JOIN s2_data_cities b ON a.name = b.name""")
    assert(df.collect().head.getLong(0) === 243)
  }

  test("an equi-join conjunct disables the rewrite (hash join + post-filter wins)") {
    val df = spark.sql(
      """SELECT count(*) AS n FROM s2_data_cities a JOIN s2_data_cities b
        |  ON a.name = b.name AND s2_intersects(a.geog, b.geog)""".stripMargin)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("Generate"),
      s"equi-join + spatial predicate must keep Spark's equi-join plan:\n$physical")
    assert(df.collect().head.getLong(0) === 243) // every city intersects itself
  }

  test("integer-literal dwithin radius still triggers the rewrite") {
    val int = spark.sql(
      """SELECT count(*) AS n FROM s2_data_cities a JOIN s2_data_cities b
        |  ON s2_dwithin(a.geog, b.geog, 500000)""".stripMargin)
    assertRewritten(int)
    val dbl = spark.sql(
      """SELECT count(*) AS n FROM s2_data_cities a JOIN s2_data_cities b
        |  ON s2_dwithin(a.geog, b.geog, 500000.0)""".stripMargin)
    assert(int.collect().head.getLong(0) === dbl.collect().head.getLong(0))
  }

  test("level heuristic: floors locally, bumps with cluster parallelism, bounded by rows") {
    import org.apache.spark.sql.internal.SQLConf
    // Range reports exact rowCount stats — synthetic sizes for the heuristic
    val big = spark.range(2000000000L).queryExecution.optimizedPlan
    val small = spark.range(100).queryExecution.optimizedPlan

    val local = new SQLConf
    local.setConfString("spark.sql.shuffle.partitions", "32")
    // local[32] profile: floors hold regardless of data size (1536 cells at
    // level 4 and 384 at dwithin base 3 already exceed 2 keys/partition)
    assert(SpatialJoinRewrite.defaultCoveringLevel(local, big, big) === 4)
    assert(SpatialJoinRewrite.defaultDwithinOffset(local, 3, big, big) === 0)

    val cluster = new SQLConf
    cluster.setConfString("spark.sql.shuffle.partitions", "4096")
    // cluster profile + big data: bump to the caps (8192-key target)
    assert(SpatialJoinRewrite.defaultCoveringLevel(cluster, big, big) === 6)
    assert(SpatialJoinRewrite.defaultDwithinOffset(cluster, 3, big, big) === 2)
    // row guard: a 100-row join cannot fill more keys — floors hold even at
    // cluster parallelism (finer would be pure covering cost)
    assert(SpatialJoinRewrite.defaultCoveringLevel(cluster, small, small) === 4)
    assert(SpatialJoinRewrite.defaultDwithinOffset(cluster, 3, small, small) === 0)
    // one big side is enough to justify the finer key space
    assert(SpatialJoinRewrite.defaultCoveringLevel(cluster, small, big) === 6)
  }

  test("coveringLevel conf changes the plan, not the result") {
    val sql =
      """SELECT c.name AS country, t.name AS city
        |FROM (SELECT * FROM s2_data_countries
        |      WHERE name IN ('Cuba', 'Jamaica', 'Haiti', 'Iceland')) c
        |JOIN s2_data_cities t ON s2_intersects(c.geog, t.geog)""".stripMargin
    val base = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    assert(base.nonEmpty)
    spark.conf.set(SpatialJoinRewrite.CoveringLevelConf, "8")
    try {
      val fine = spark.sql(sql)
      assertRewritten(fine)
      assert(fine.collect().map(_.toString).sorted.toSeq === base)
    } finally spark.conf.unset(SpatialJoinRewrite.CoveringLevelConf)
  }

  /** Node names of the executed plan, adaptive stages included. */
  private def operators(df: DataFrame): Seq[String] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan)(_.nodeName)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("S2Join.intersects and the SQL theta join run one plan") {
    val s = spark; import s.implicits._
    val helper = S2Join.intersects(
        S2Data.countries(spark).select($"name".as("country"), $"geog".as("cgeog")), "cgeog",
        S2Data.cities(spark).select($"name".as("city"), $"geog"), "geog")
      .select("country", "city")
    val sql = spark.sql(
      """SELECT country, city
        |FROM (SELECT name AS country, geog AS cgeog FROM s2_data_countries) c
        |JOIN (SELECT name AS city, geog FROM s2_data_cities) t
        |  ON s2_intersects(cgeog, geog)""".stripMargin)
    val want = rows(sql)
    assert(want.size === 210)
    assert(rows(helper) === want)
    assert(operators(helper) === operators(sql))
  }

  test("S2Join.dwithin with a pair filter equals the SQL dwithin join with the same conjunct") {
    val s = spark; import s.implicits._
    val cities = S2Data.cities(spark)
    val helper = S2Join.dwithin(
        cities.select($"name".as("name_a"), $"geog".as("ga")), "ga",
        cities.select($"name".as("name_b"), $"geog".as("gb")), "gb", 500000.0,
        pairFilter = Some($"name_a" < $"name_b"))
      .select("name_a", "name_b")
    val sql = spark.sql(
      """SELECT a.name, b.name
        |FROM s2_data_cities a JOIN s2_data_cities b
        |  ON s2_dwithin(a.geog, b.geog, 500000.0) AND a.name < b.name""".stripMargin)
    // both sides are small, so AQE turns the cell join into a broadcast join
    // as soon as ONE shuffle stage finishes, building whichever side won that
    // race; runtime broadcast is off here so the compared plans are the
    // planner's, not the race's
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val want = rows(sql)
      assert(want.nonEmpty)
      assert(rows(helper) === want)
      assert(operators(helper) === operators(sql))
    } finally spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
  }

  test("S2Join's explicit level wins over the covering-level setting") {
    val s = spark; import s.implicits._
    spark.conf.set(SpatialJoinRewrite.CoveringLevelConf, "8")
    try {
      val df = S2Join.contains(
        S2Data.countries(spark).select($"name".as("country"), $"geog".as("cgeog")), "cgeog",
        S2Data.cities(spark).select($"name".as("city"), $"geog"), "geog", level = 3)
      val levels = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan)(p => p)
        .flatMap(_.expressions).flatMap(_.collect {
          case e if e.prettyName == "s2_covering_fixed_level" => e.children(1)
        })
      assert(levels.nonEmpty && levels.forall(_ == Literal(3)), s"covering levels: $levels")
      assert(df.count() === 210)
    } finally spark.conf.unset(SpatialJoinRewrite.CoveringLevelConf)
  }

  test("a malformed level setting falls back to the heuristic instead of failing the query") {
    val intersects =
      """SELECT c.name, t.name FROM s2_data_countries c JOIN s2_data_cities t
        |  ON s2_intersects(c.geog, t.geog)""".stripMargin
    val dwithin =
      """SELECT a.name, b.name FROM s2_data_cities a JOIN s2_data_cities b
        |  ON s2_dwithin(a.geog, b.geog, 500000.0)""".stripMargin
    val want = Seq(intersects, dwithin).map(q => rows(spark.sql(q)))
    for (key <- Seq(SpatialJoinRewrite.CoveringLevelConf, SpatialJoinRewrite.DwithinLevelOffsetConf);
         bad <- Seq("abc", "4.5")) {
      spark.conf.set(key, bad)
      try {
        Seq(intersects, dwithin).zip(want).foreach { case (q, w) =>
          val df = spark.sql(q)
          assertRewritten(df)
          assert(rows(df) === w, s"$key=$bad")
        }
      } finally spark.conf.unset(key)
    }
  }
}
