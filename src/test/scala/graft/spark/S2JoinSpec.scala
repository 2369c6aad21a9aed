package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GeoCodec, Relate, GeoShapes, Wkt}

class S2JoinSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", false)
      .appName("graft-join-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    S2Functions.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def res(p: String) = {
    val in = getClass.getResourceAsStream(p)
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().drop(1).map(_.split('\t')).toList finally src.close()
  }

  test("native s2_cells_with_ring matches the kernel on random coverings") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    // random point coverings at random levels, rings 1/2/4 — the native
    // expression (ArrayData in/out) must reproduce the kernel exactly,
    // order included (the join explodes these into its candidate space)
    val cases = (1 to 200).map { _ =>
      val lon = rnd.nextDouble() * 360 - 180
      val lat = rnd.nextDouble() * 160 - 80
      val lvl = 1 + rnd.nextInt(10)
      val ring = Seq(1, 2, 4)(rnd.nextInt(3))
      val cell = graft.core.S2CellId.parentChecked(
        graft.core.S2CellId.fromLonLatDegrees(lon, lat), lvl)
      (Array(cell), ring)
    }
    val got = cases.toDF("cov", "ring")
      .selectExpr("s2_cells_with_ring(cov, ring) AS cells")
      .as[Array[Long]].collect()
    val want = cases.map { case (cov, ring) =>
      S2Functions.cellsWithNeighborsRing(cov, ring) }
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.toSeq === w.toSeq, s"case $i: ${cases(i)}")
    }
  }

  test("dwithin join matches brute force exactly (corner adjacency included)") {
    val meters = 500000.0
    val cityList = res("/graft/cities.tsv").map(a => (a(0), a(2)))
    // kernel brute force
    val shapes = cityList.map { case (n, w) => (n, new GeoShapes(Wkt.read(w))) }
    val expected = (for {
      (na, sa) <- shapes; (nb, sb) <- shapes
      if na < nb && Relate.dwithin(sa, sb, meters)
    } yield (na, nb)).toSet

    val sp = spark
    import sp.implicits._
    val df = cityList.map { case (n, w) => (n, GeoCodec.encode(Wkt.read(w))) }
      .toDF("name", "geog")
    val joined = S2Join.dwithin(
        df.select($"name".as("name_a"), $"geog".as("ga")), "ga",
        df.select($"name".as("name_b"), $"geog".as("gb")), "gb", meters)
      .where($"name_a" < $"name_b")
      .select("name_a", "name_b")
    val got = joined.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert((expected -- got) === Set.empty, "pairs missed by the cell-bucketed join")
    assert((got -- expected) === Set.empty, "pairs wrongly emitted")
    assert(got.nonEmpty)
  }

  test("dwithin chord-band boundary pairs match the kernel bit-for-bit") {
    // pairs engineered to straddle the 300 km radius by ~1 mm: meridian
    // points at latitude d/R radians have geodesic distance exactly d, so
    // the chord-band refine must agree with Relate.dwithin on both sides
    // of the threshold (and the band's ±1e-9 slack must not flip either)
    val meters = 300000.0
    val R = 6371010.0
    def latAt(d: Double): Double = Math.toDegrees(d / R)
    val deltas = Seq(-1000.0, -1.0, -0.001, 0.0, 0.001, 1.0, 1000.0)
    val rows = deltas.zipWithIndex.map { case (d, i) =>
      (s"p$i", GeoCodec.encode(Wkt.read(s"POINT (10 ${latAt(meters + d)})")), meters + d)
    }
    val origin = ("o", GeoCodec.encode(Wkt.read("POINT (10 0)")), 0.0)
    val sp = spark
    import sp.implicits._
    val probes = rows.toDF("name_a", "ga", "dist")
    val base = Seq(origin).toDF("name_b", "gb", "d0")
    val got = S2Join.dwithin(probes, "ga", base, "gb", meters)
      .select("name_a").collect().map(_.getString(0)).toSet
    val expected = rows.filter { case (_, blob, _) =>
      Relate.dwithin(new GeoShapes(GeoCodec.decode(blob)),
        new GeoShapes(Wkt.read("POINT (10 0)")), meters)
    }.map(_._1).toSet
    assert(got === expected)
    // sanity: the threshold actually separates the probes
    assert(expected.nonEmpty && expected.size < rows.size)
  }

  test("dwithin join with a polygon side falls back to the exact kernel") {
    val meters = 200000.0
    val cityList = res("/graft/cities.tsv").map(a => (a(0), a(2)))
    val poly = "POLYGON ((5 45, 15 45, 15 55, 5 55, 5 45))" // central Europe box
    val polyShapes = new GeoShapes(Wkt.read(poly))
    val expected = cityList.filter { case (_, w) =>
      Relate.dwithin(new GeoShapes(Wkt.read(w)), polyShapes, meters)
    }.map(_._1).toSet
    val sp = spark
    import sp.implicits._
    val cities = cityList.map { case (n, w) => (n, GeoCodec.encode(Wkt.read(w))) }
      .toDF("city", "geog")
    val polyDf = Seq(("box", GeoCodec.encode(Wkt.read(poly)))).toDF("pname", "pgeog")
    val got = S2Join.dwithin(cities, "geog", polyDf, "pgeog", meters)
      .select("city").collect().map(_.getString(0)).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("dwithinLevelOffset changes the plan's key space, not the result") {
    val meters = 500000.0
    val cityList = res("/graft/cities.tsv").map(a => (a(0), GeoCodec.encode(Wkt.read(a(2)))))
    val sp = spark
    import sp.implicits._
    val df = cityList.toDF("name", "geog")
    def run(): Set[(String, String)] =
      S2Join.dwithin(
          df.select($"name".as("name_a"), $"geog".as("ga")), "ga",
          df.select($"name".as("name_b"), $"geog".as("gb")), "gb", meters,
          pairFilter = Some($"name_a" < $"name_b"))
        .select("name_a", "name_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val base = run()
    assert(base.nonEmpty)
    for (off <- Seq(1, 2)) {
      spark.conf.set(SpatialJoinRewrite.DwithinLevelOffsetConf, off.toString)
      try assert(run() === base, s"offset $off changed the result")
      finally spark.conf.unset(SpatialJoinRewrite.DwithinLevelOffsetConf)
    }
  }

  test("intersects join preserves duplicate-row multiplicity") {
    val countries = res("/graft/countries.tsv").map(a => (a(0), GeoCodec.encode(Wkt.read(a(2)))))
      .filter(c => c._1 == "Canada" || c._1 == "Chile")
    val cities = res("/graft/cities.tsv").map(a => (a(0), GeoCodec.encode(Wkt.read(a(2)))))
    val sp = spark
    import sp.implicits._
    val cdf = countries.toDF("country", "cgeog")
    val tdf = cities.toDF("city", "geog")
    val single = S2Join.intersects(cdf, "cgeog", tdf, "geog").count()
    assert(single > 0)
    val doubled = S2Join.intersects(cdf.union(cdf), "cgeog", tdf, "geog").count()
    assert(doubled === 2 * single)
  }

  test("contains join matches the broadcast predicate join") {
    val countries = res("/graft/countries.tsv").map(a => (a(0), GeoCodec.encode(Wkt.read(a(2)))))
    val cities = res("/graft/cities.tsv").map(a => (a(0), GeoCodec.encode(Wkt.read(a(2)))))
    val sp = spark
    import sp.implicits._
    val cdf = countries.toDF("country", "cgeog")
    val tdf = cities.toDF("city", "geog")
    val a = S2Join.contains(cdf, "cgeog", tdf, "geog", level = 4)
      .select("country", "city").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val b = tdf.join(broadcast(cdf), call_function("s2_contains", $"cgeog", $"geog"))
      .select("country", "city").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(a === b)
  }

  private def countriesAndCities() = {
    val sp = spark
    import sp.implicits._
    val countries = res("/graft/countries.tsv").map(a => (a(0), GeoCodec.encode(Wkt.read(a(2)))))
    val cities = res("/graft/cities.tsv").map(a => (a(0), GeoCodec.encode(Wkt.read(a(2)))))
    (countries.toDF("country", "cgeog"), cities.toDF("city", "geog"))
  }

  test("S2Join plans a cell equi-join without the SQL extension installed") {
    val sp = spark
    import sp.implicits._
    val (cdf, tdf) = countriesAndCities()
    val tdf2 = tdf.select($"city".as("city2"), $"geog".as("geog2"))
    val joins = Seq(
      "intersects" -> S2Join.intersects(cdf, "cgeog", tdf, "geog"),
      "contains" -> S2Join.contains(cdf, "cgeog", tdf, "geog", level = 3),
      "dwithin" -> S2Join.dwithin(tdf, "geog", tdf2, "geog2", 500000.0,
        pairFilter = Some($"city" < $"city2")))
    joins.foreach { case (name, df) =>
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("BroadcastNestedLoopJoin"), s"$name:\n$physical")
      assert(physical.contains("Generate"), s"$name has no covering explode:\n$physical")
    }
  }

  test("a malformed level setting falls back to the heuristic instead of failing the join") {
    val sp = spark
    import sp.implicits._
    val (cdf, tdf) = countriesAndCities()
    val tdf2 = tdf.select($"city".as("city2"), $"geog".as("geog2"))
    def counts(): Seq[Long] = Seq(
      S2Join.intersects(cdf, "cgeog", tdf, "geog").count(),
      S2Join.dwithin(tdf, "geog", tdf2, "geog2", 500000.0).count())
    val want = counts()
    assert(want.head === 210)
    for (key <- Seq(SpatialJoinRewrite.CoveringLevelConf, SpatialJoinRewrite.DwithinLevelOffsetConf)) {
      spark.conf.set(key, "abc")
      try assert(counts() === want, s"$key=abc")
      finally spark.conf.unset(key)
    }
  }
}
