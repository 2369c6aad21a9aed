package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.core._
import graft.spark.{GeoParquet, S2Data, S2Functions, S2Join}

object GeoJoin {
  val Steps: Seq[String] =
    Seq("spark.geo_join.pip_join", "spark.geo_join.dwithin_join", "spark.geo_join.cell_hist")
}

/** Point-in-country join, distance join to the cities, and a level-10
  * cell histogram over seeded points that are partly uniform and partly
  * clustered around the bundled cities (hot cells). */
final class GeoJoin(ctx: Ctx) extends Workload {
  import ctx.spark

  private val n = if (ctx.tiny) 2000 else 15000
  private val meters = 25000.0
  private val sampleMod = 20
  private val pointsPath = ctx.path("points.parquet")
  private var lon: Array[Double] = _
  private var lat: Array[Double] = _
  private var refPip: Map[String, Long] = _
  private var refDwithin: (Long, Long) = _
  private var refHist: Map[Long, Long] = _
  private var lastPip: DataFrame = _

  def inputRows: Long = n
  def sizes: Seq[(String, Long)] = Seq("points" -> n.toLong, "countries" -> 177L, "cities" -> 243L)
  def digest: String =
    f"${java.util.Arrays.hashCode(lon) ^ java.util.Arrays.hashCode(lat)}%08x"

  private def points(): DataFrame = spark.read.parquet(pointsPath)
    .withColumn("pgeog", expr("s2_geogpoint(lon, lat)"))
  // the bundled tables are built once, as a user holding them would
  private lazy val countriesDf: DataFrame = S2Data.countries(spark)
    .select(col("name"), expr("s2_prepare(geog)").as("geog"))
  private lazy val citiesDf: DataFrame = S2Data.cities(spark)
    .select(col("name").as("city"), col("geog").as("cgeog"))

  /** Sampled pair count and an order-free checksum of the sampled pairs. */
  private def dwithinSummary(pairs: DataFrame): DataFrame = {
    val sampled = col("id") % sampleMod === 0
    pairs.agg(
      coalesce(sum(when(sampled, 1L)), lit(0L)).as("n"),
      coalesce(sum(when(sampled, pmod(xxhash64(col("city"), col("id")), lit(1000000007L)))),
        lit(0L)).as("h"))
  }

  def setup(): Unit = {
    S2Functions.register(spark)
    val cs = S2Data.cities(spark).collect().toSeq
      .map(r => (r.getInt(1), GeoCodec.decode(r.getAs[Array[Byte]](2))))
      .sortBy(-_._1)
      .map { case (_, g) => (S2Measure.x(g), S2Measure.y(g)) }
    val (lo, la) = Inputs.points(ctx.seed, n, cs)
    lon = lo; lat = la
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("lon", DoubleType, false), StructField("lat", DoubleType, false)))
    val rows = (0 until n).map(i => Row(i.toLong, lon(i), lat(i)))
    Phase("write points") {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), schema)
        .write.mode("overwrite").parquet(pointsPath)
    }

    // reference answers by independent paths: the broadcast prepared join
    // (no cell join), a brute-force s2_dwithin cross join on every
    // sampleMod-th point, and driver-side cell ids
    refPip = Phase("reference pip") {
      S2Join.broadcastIntersects(countriesDf, "geog", points(), "pgeog")
        .groupBy("name").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val brute = points().where(col("id") % sampleMod === 0).crossJoin(citiesDf)
      .where(expr(s"s2_dwithin(cgeog, pgeog, $meters)"))
    refDwithin = Phase("reference dwithin") {
      dwithinSummary(brute).collect().map(r => (r.getLong(0), r.getLong(1))).head
    }
    val hist = scala.collection.mutable.HashMap.empty[Long, Long]
    (0 until n).foreach { i =>
      val c = S2CellId.parent(S2CellId.fromLonLatDegrees(lon(i), lat(i)), 10)
      hist(c) = hist.getOrElse(c, 0L) + 1
    }
    refHist = hist.toMap
  }

  def pass(): Seq[Step[_]] = Seq(
    Step[Map[String, Long]]("spark.geo_join.pip_join",
      () => S2Join.intersects(points(), "pgeog", countriesDf, "geog").groupBy("name").count(),
      df => { lastPip = df; df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap },
      got => if (got == refPip) None
        else Some(s"${got.values.sum} country hits, reference ${refPip.values.sum}")),
    Step[(Long, Long)]("spark.geo_join.dwithin_join",
      () => dwithinSummary(S2Join.dwithin(points(), "pgeog", citiesDf, "cgeog", meters)),
      df => df.collect().map(r => (r.getLong(0), r.getLong(1))).head,
      got => if (got == refDwithin) None else Some(s"sampled pairs $got, reference $refDwithin")),
    Step[Map[Long, Long]]("spark.geo_join.cell_hist",
      () => spark.read.parquet(pointsPath)
        .select(expr("s2_cell_parent(s2_cellfromlonlat(lon, lat), 10)").as("cell"))
        .groupBy("cell").count(),
      df => df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      got => if (got == refHist) None else Some(s"${got.size} cells, reference ${refHist.size}")))

  /** Candidate pairs of the last point-in-country join: the pairs its
    * cell equi-join matches, each of which the join condition refines with
    * s2_intersects, counted at the covering level the executed plan used;
    * and the share of them the refine keeps (the join's output rows). */
  override def probes(): Seq[(String, Double)] = PlanStats.coveringLevels(lastPip) match {
    case Seq(level) =>
      def cells(df: DataFrame, g: String) =
        df.select(explode(expr(s"s2_covering_fixed_level($g, $level)")).as("cell"))
      val cands = cells(points(), "pgeog").join(cells(countriesDf, "geog"), "cell").count()
      Seq("spark.join_candidate_rows" -> cands.toDouble,
        "spark.refine_kept_ratio" -> PlanStats.joinOutputRows(lastPip).toDouble / math.max(cands, 1L))
    case levels => throw new IllegalStateException(s"covering levels in the join plan: $levels")
  }

  def corruptReference(): Unit = {
    val (k, v) = refPip.maxBy(_._2)
    refPip = refPip.updated(k, v + 1)
  }

  override def kernels(): Seq[Kernel] = {
    val m = math.min(n, 2000)
    val pts = (0 until m).map(i => GeoCodec.encode(Geography.point(lon(i), lat(i))))
    val ctry = S2Data.countries(spark).collect().map(r => GeoCodec.prepare(r.getAs[Array[Byte]](2)))
    val cty = S2Data.cities(spark).collect().map(r => r.getAs[Array[Byte]](2))
    // the refine step's candidate pairs: covering-intersecting (country, point)
    val pairs = pts.flatMap { p =>
      val pc = GeoCodec.coveringOf(p)
      ctry.filter(c => Covering.unionsIntersect(GeoCodec.coveringOf(c), pc)).map(c => (c, p))
    }
    val ctryShapes = ctry.map(c => c -> GeoCodec.decodeShapes(c)).toMap
    val pairShapes = pairs.map { case (c, p) => (ctryShapes(c), GeoCodec.decodeShapes(p)) }
    val cityPairs = pts.indices.map(i =>
      (GeoCodec.decodeShapes(cty(i % cty.length)), GeoCodec.decodeShapes(pts(i))))
    Seq(
      Kernel("core.pip_ns", pairShapes.size, () =>
        pairShapes.count { case (c, p) => Relate.intersects(c, p) }.toLong),
      Kernel("core.decode_shapes_ns", 2L * pairs.size, () =>
        pairs.map { case (c, p) =>
          GeoCodec.decodeShapes(c).g.numPoints + GeoCodec.decodeShapes(p).g.numPoints }.sum.toLong),
      Kernel("core.dwithin_ns", cityPairs.size, () =>
        cityPairs.count { case (c, p) => Relate.dwithin(c, p, meters * 40) }.toLong),
      Kernel("core.cell_from_lonlat_ns", m, () => {
        var s = 0L
        var i = 0
        while (i < m) { s ^= S2CellId.fromLonLatDegrees(lon(i), lat(i)); i += 1 }
        s
      }))
  }
}

object GeoIngest {
  val Steps: Seq[String] = Seq("spark.geo_ingest.parse_write", "spark.geo_ingest.prepare_cover",
    "spark.geo_ingest.readback_area")
}

/** WKT polygons parsed, encoded to WKB and written as GeoParquet, then
  * read back, decoded, prepared, covered and measured. */
final class GeoIngest(ctx: Ctx) extends Workload {
  import ctx.spark

  private val n = if (ctx.tiny) 300 else 2000
  private val sampleIds = 32
  private val wktPath = ctx.path("polygons.parquet")
  private val outPath = ctx.path("geoparquet")
  private var polys: IndexedSeq[Inputs.NGon] = _
  private var refVertices = 0L
  private var refArea = 0.0
  private var refWkb: Seq[Seq[Byte]] = _

  def inputRows: Long = n
  def sizes: Seq[(String, Long)] = Seq("polygons" -> n.toLong, "vertices" -> polys.map(_.k.toLong).sum)
  def digest: String = f"${polys.map(_.hashCode).hashCode}%08x"

  private def readBack(): DataFrame = GeoParquet.readGeoParquet(spark, outPath)
    .select(col("id"), col("wkb"), expr("s2_geogfromwkb(wkb)").as("g"))

  def setup(): Unit = {
    S2Functions.register(spark)
    polys = Inputs.polygons(ctx.seed, n)
    val schema = StructType(Seq(StructField("id", LongType, false), StructField("wkt", StringType, false)))
    spark.createDataFrame(spark.sparkContext.parallelize(polys.map(p => Row(p.id, p.wkt)), ctx.cores),
      schema).write.mode("overwrite").parquet(wktPath)
    refVertices = polys.map(_.k.toLong).sum
    refArea = polys.map(_.unitArea).sum * S2EdgeDist.EarthRadiusMeters * S2EdgeDist.EarthRadiusMeters
    // expected WKB of the first polygons, validated by a WKT -> WKB -> WKT
    // round trip against the generated coordinates
    refWkb = polys.take(sampleIds).map { p =>
      val wkb = Wkb.write(Wkt.read(p.wkt))
      val back = Wkt.write(Wkb.read(wkb))
      val num = "-?[0-9.]+(?:[eE][-+]?[0-9]+)?".r
      val a = num.findAllIn(p.wkt).map(_.toDouble).toSeq
      val b = num.findAllIn(back).map(_.toDouble).toSeq
      require(a.size == b.size && a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 },
        s"WKT -> WKB -> WKT round trip changed polygon ${p.id}")
      wkb.toSeq
    }
  }

  def pass(): Seq[Step[_]] = Seq(
    Step[Boolean]("spark.geo_ingest.parse_write",
      () => spark.read.parquet(wktPath)
        .select(col("id"), expr("s2_aswkb(s2_geogfromtext(wkt))").as("wkb")),
      df => { GeoParquet.writeGeoParquet(df, outPath, "wkb"); true },
      _ => if (GeoParquet.readGeoMetadata(spark, outPath).isDefined) None
        else Some("no geo footer")),
    Step[Row]("spark.geo_ingest.prepare_cover",
      () => readBack()
        .select(col("id"), col("wkb"), col("g"), expr("s2_covering(g)").as("cov"),
          expr("s2_prepare(g)").as("p"))
        .agg(count(lit(1)), min(size(col("cov"))), sum(size(col("cov"))),
          sum(length(col("p"))), sum(expr("s2_num_points(g)")),
          sort_array(collect_list(when(col("id") < sampleIds, struct(col("id"), col("wkb")))))),
      df => df.collect().head,
      r => {
        val wkb = r.getSeq[Row](5).map(_.getAs[Array[Byte]](1).toSeq)
        if (r.getLong(0) != n) Some(s"${r.getLong(0)} rows, reference $n")
        else if (r.getInt(1) < 1) Some("empty covering")
        else if (r.getLong(4) != refVertices) Some(s"${r.getLong(4)} vertices, reference $refVertices")
        else if (wkb != refWkb) Some("WKB of the sampled polygons differs from the reference")
        else None
      }),
    Step[(Long, Double)]("spark.geo_ingest.readback_area",
      () => readBack().agg(count(lit(1)), sum(expr("s2_area(g)"))),
      df => df.collect().map(r => (r.getLong(0), r.getDouble(1))).head,
      { case (c, a) =>
        if (c != n) Some(s"$c rows, reference $n")
        else if (math.abs(a - refArea) > 1e-6 * refArea) Some(s"area $a m2, reference $refArea")
        else None
      }))

  override def endPass(): Unit = {
    val p = new org.apache.hadoop.fs.Path(outPath)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  def corruptReference(): Unit = refArea *= 1.001

  override def kernels(): Seq[Kernel] = {
    val sample = polys.take(math.min(n, 300))
    val wkts = sample.map(_.wkt)
    val geogs = wkts.map(Wkt.read(_))
    val wkbs = geogs.map(Wkb.write)
    val blobs = geogs.map(GeoCodec.encode)
    val verts = sample.map(_.k.toLong).sum
    Seq(
      Kernel("core.wkt_read_ns_per_vertex", verts, () => wkts.map(Wkt.read(_).numPoints.toLong).sum),
      Kernel("core.wkb_read_ns_per_vertex", verts, () => wkbs.map(Wkb.read(_).numPoints.toLong).sum),
      Kernel("core.wkb_write_ns_per_vertex", verts, () => geogs.map(Wkb.write(_).length.toLong).sum),
      Kernel("core.prepare_ns", blobs.size, () => blobs.map(GeoCodec.prepare(_).length.toLong).sum),
      Kernel("core.cover_ns", geogs.size, () => geogs.map(RegionCoverer.cover(_).length.toLong).sum),
      Kernel("core.area_ns", geogs.size, () => geogs.map(g => S2Measure.areaMeters2(g).toLong).sum))
  }
}
