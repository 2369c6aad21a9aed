package graft.spark

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** GeoParquet-style interop: WKB BinaryType columns written to and read
  * back from parquet round-trip losslessly through
  * s2_aswkb / s2_geogfromwkb (the Spark-native equivalent of the
  * reference's GeoArrow interchange, src/s2_geoarrow.cpp:87-93). */
class WkbParquetSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", false)
      .appName("graft-wkb-parquet").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    S2Functions.register(spark)
    S2Data.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Job ids `body` starts, read back through a job group. */
  private def jobsOf[T](body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"wkb-parquet-${System.nanoTime()}"
    sc.setJobGroup(group, "counted")
    val out = try body finally sc.clearJobGroup()
    (out, sc.statusTracker.getJobIdsForGroup(group).toSeq)
  }

  /** (footer `geo` entry, row count) of every part file under `dir`. */
  private def footers(dir: String): Seq[(Option[String], Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    GeoParquet.partFiles(root.getFileSystem(conf), root).toSeq.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try (Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get("geo")),
        reader.getRecordCount)
      finally reader.close()
    }
  }

  /** Names, types and nullability: what a schema says apart from metadata. */
  private def shape(s: StructType): Seq[(String, String, Boolean)] =
    s.fields.toSeq.map(f => (f.name, f.dataType.sql, f.nullable))

  test("countries WKB survives a parquet round trip, including areas") {
    val dir = Files.createTempDirectory("graft_wkb").toString
    val out = s"$dir/countries_wkb.parquet"
    spark.sql(
      """SELECT name, s2_aswkb(geog) AS wkb, s2_area(geog) AS area
        |FROM s2_data_countries""".stripMargin)
      .write.mode("overwrite").parquet(out)

    val back = spark.read.parquet(out)
    back.createOrReplaceTempView("countries_back")
    val rows = spark.sql(
      """SELECT count(*) AS n,
        | sum(CASE WHEN abs(s2_area(s2_geogfromwkb(wkb)) - area) / area < 1e-9 THEN 1 ELSE 0 END) AS area_ok
        |FROM countries_back""".stripMargin).collect().head
    assert(rows.getLong(0) === 177)
    assert(rows.getLong(1) === 177)
  }

  test("prepared geography (serialized index) survives a parquet round trip") {
    val dir = Files.createTempDirectory("graft_prep").toString
    val out = s"$dir/prepared.parquet"
    spark.sql(
      """SELECT name, s2_prepare(geog) AS pg, s2_area(geog) AS area
        |FROM s2_data_countries""".stripMargin)
      .write.mode("overwrite").parquet(out)

    spark.read.parquet(out).createOrReplaceTempView("prep_back")
    val rows = spark.sql(
      """SELECT count(*) AS n,
        | sum(CASE WHEN s2_astext(pg) LIKE '<S2ShapeIndex %' THEN 1 ELSE 0 END) AS idx_form,
        | sum(CASE WHEN abs(s2_area(pg) - area) / area < 1e-12 THEN 1 ELSE 0 END) AS area_ok,
        | sum(CASE WHEN s2_intersects(pg, pg) THEN 1 ELSE 0 END) AS self_int
        |FROM prep_back""".stripMargin).collect().head
    assert(rows.getLong(0) === 177)
    assert(rows.getLong(1) === 177, "prepared blobs must keep the index form after parquet")
    assert(rows.getLong(2) === 177)
    assert(rows.getLong(3) === 177)
  }

  test("writeGeoParquet stamps a geo footer readers can round-trip") {
    val dir = Files.createTempDirectory("graft_geopq").toString
    val out = s"$dir/countries_geo.parquet"
    val df = spark.sql(
      """SELECT name, s2_aswkb(geog) AS geometry, s2_area(geog) AS area
        |FROM s2_data_countries""".stripMargin)
    GeoParquet.writeGeoParquet(df, out, "geometry")

    // the footer carries the standard GeoParquet `geo` entry
    val geo = GeoParquet.readGeoMetadata(spark, out)
    assert(geo.isDefined, "geo footer metadata missing after stamp")
    assert(geo.get.contains("\"primary_column\":\"geometry\""))
    assert(geo.get.contains("\"encoding\":\"WKB\""))
    assert(geo.get.contains("\"edges\":\"spherical\""))

    // the rows read back through plain spark.read.parquet are the rows written
    val back = spark.read.parquet(out)
    back.createOrReplaceTempView("geo_back")
    val rows = spark.sql(
      """SELECT count(*) AS n,
        | sum(CASE WHEN abs(s2_area(s2_geogfromwkb(geometry)) - area) / area < 1e-9
        |     THEN 1 ELSE 0 END) AS area_ok
        |FROM geo_back""".stripMargin).collect().head
    assert(rows.getLong(0) === 177)
    assert(rows.getLong(1) === 177)

    // swap siblings are dot-prefixed and cleaned up: nothing visible
    // beyond the part files, and a LEFTOVER crash sibling (planted here)
    // is invisible to directory reads — no silent row duplication
    val files = new java.io.File(out).listFiles().map(_.getName)
    assert(!files.exists(n => n.contains(".geo-tmp") || n.contains(".geo-bak")),
      s"swap siblings must be cleaned up, saw: ${files.mkString(",")}")
    val aPart = files.find(n => n.endsWith(".parquet") && !n.startsWith("_")).get
    Files.copy(java.nio.file.Paths.get(out, aPart),
      java.nio.file.Paths.get(out, "." + aPart + ".geo-bak"))
    assert(spark.read.parquet(out).count() === 177,
      "a leftover dot-prefixed .geo-bak must not be double-counted")
  }

  test("readGeoParquet surfaces the geo footer as column metadata") {
    val dir = Files.createTempDirectory("graft_geopq_read").toString
    val out = s"$dir/cities_geo.parquet"
    val df = spark.sql(
      "SELECT name, s2_aswkb(geog) AS geometry FROM s2_data_cities")
    GeoParquet.writeGeoParquet(df, out, "geometry")
    val back = GeoParquet.readGeoParquet(spark, out)
    val meta = back.schema("geometry").metadata
    assert(meta.contains("geoparquet"), "geometry column must carry the footer")
    assert(meta.getString("geoparquet").contains("\"primary_column\":\"geometry\""))
    assert(back.schema("name").metadata.json === "{}")
    assert(back.count() === 243)
    // a dataset without the footer reads unchanged
    val plainOut = s"$dir/plain.parquet"
    df.write.parquet(plainOut)
    val plain = GeoParquet.readGeoParquet(spark, plainOut)
    assert(plain.schema("geometry").metadata.json === "{}")
  }

  test("writeGeoParquet is one Spark job, and every part file carries the footer") {
    val dir = Files.createTempDirectory("graft_geopq_one").toString
    val out = s"$dir/countries_geo.parquet"
    val df = spark.sql(
      """SELECT name, s2_aswkb(geog) AS geometry, s2_area(geog) AS area
        |FROM s2_data_countries""".stripMargin)
    val (_, jobs) = jobsOf(GeoParquet.writeGeoParquet(df, out, "geometry"))
    assert(jobs.size === 1, s"the write and its footers must be one job, saw jobs $jobs")
    val parts = footers(out)
    assert(parts.size > 1, "expected a multi-file write")
    assert(parts.forall(_._1.contains(GeoParquet.geoMetadataJson("geometry"))),
      s"every part file must carry the geo footer: $parts")
    assert(parts.map(_._2).sum === 177)
    val files = new java.io.File(out).listFiles().map(_.getName)
    assert(!files.exists(n => n.contains(".geo-tmp") || n.contains(".geo-bak")), files.mkString(","))
    // plain parquet reads back the very rows written
    def rows(d: DataFrame) = d.collect().map(r =>
      (r.getString(0), r.getAs[Array[Byte]](1).toSeq, r.getDouble(2))).sortBy(_._1).toSeq
    assert(rows(spark.read.parquet(out)) === rows(df))

    // an empty frame is written as one file, and that file carries it too
    val empty = s"$dir/empty_geo.parquet"
    GeoParquet.writeGeoParquet(df.where("false"), empty, "geometry")
    assert(footers(empty) === Seq((Some(GeoParquet.geoMetadataJson("geometry")), 0L)))
    assert(GeoParquet.readGeoParquet(spark, empty).count() === 0)
  }

  test("building readGeoParquet starts no job, and its schema is spark.read.parquet's") {
    val dir = Files.createTempDirectory("graft_geopq_schema").toString
    val cities = spark.sql(
      """SELECT name, population, s2_aswkb(geog) AS geometry,
        | s2_cell_token(s2_cell_parent(s2_geog_to_cellcenter(geog), 0)) AS face,
        | s2_cell_token(s2_cell_parent(s2_geog_to_cellcenter(geog), 2)) AS cell_l2
        |FROM s2_data_cities""".stripMargin)
    val flat = s"$dir/flat"
    GeoParquet.writeGeoParquet(cities, flat, "geometry")
    val byFace = s"$dir/by_face"
    cities.write.partitionBy("face").parquet(byFace)
    GeoParquet.stampGeoMetadata(spark, byFace, "geometry")
    val byCell = s"$dir/by_cell"
    cities.write.partitionBy("cell_l2").parquet(byCell)
    GeoParquet.stampGeoMetadata(spark, byCell, "geometry")
    val plain = s"$dir/plain"
    cities.write.parquet(plain)
    // a layout of more leaf directories than
    // spark.sql.sources.parallelPartitionDiscovery.threshold (32) is
    // listed by a Spark job in any parquet reader, so only the layouts
    // Spark lists on the driver are held to "no job"
    for ((layout, path, listedOnDriver) <- Seq(("flat", flat, true),
        ("partitionBy face", byFace, true), ("no footer", plain, true),
        ("partitionBy level-2 cell", byCell, false))) {
      val (back, jobs) = jobsOf(GeoParquet.readGeoParquet(spark, path))
      if (listedOnDriver) assert(jobs.isEmpty, s"$layout: building the reader started jobs $jobs")
      assert(shape(back.schema) === shape(spark.read.parquet(path).schema), layout)
      assert(back.count() === 243, layout)
    }

    // schema merging reads every footer: the reader leaves it to Spark
    val merged = s"$dir/merged"
    cities.select("name", "geometry").write.parquet(s"$merged/part=1")
    cities.select("name", "population").write.parquet(s"$merged/part=2")
    GeoParquet.stampGeoMetadata(spark, merged, "geometry")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val want = spark.read.parquet(merged).schema
      assert(Set("geometry", "population").subsetOf(want.fieldNames.toSet))
      assert(shape(GeoParquet.readGeoParquet(spark, merged).schema) === shape(want))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("geo footer stamp reaches part files inside partitionBy subdirectories") {
    val dir = Files.createTempDirectory("graft_geopart").toString
    val out = s"$dir/cities_geo_by_cell"
    spark.sql(
      """SELECT name, s2_aswkb(geog) AS geometry,
        | s2_cell_token(s2_cell_parent(s2_geog_to_cellcenter(geog), 2)) AS cell_l2
        |FROM s2_data_cities""".stripMargin)
      .write.mode("overwrite").partitionBy("cell_l2").parquet(out)
    GeoParquet.stampGeoMetadata(spark, out, "geometry")
    val geo = GeoParquet.readGeoMetadata(spark, out)
    assert(geo.isDefined && geo.get.contains("\"encoding\":\"WKB\""))
    // data still reads back whole through the partition-discovery path
    assert(spark.read.parquet(out).count() === 243)
  }

  test("partitioned-by-cell parquet writes prune on read") {
    val dir = Files.createTempDirectory("graft_cells").toString
    val out = s"$dir/cities_by_cell"
    spark.sql(
      """SELECT name, s2_aswkb(geog) AS wkb,
        | s2_cell_token(s2_cell_parent(s2_geog_to_cellcenter(geog), 2)) AS cell_l2
        |FROM s2_data_cities""".stripMargin)
      .write.mode("overwrite").partitionBy("cell_l2").parquet(out)

    val all = spark.read.parquet(out)
    val one = all.where("cell_l2 = '4c'") // some level-2 token bucket
    val plan = one.queryExecution.executedPlan.toString
    // partition pruning: the filter must reach PartitionFilters, not rows
    assert(all.count() === 243)
    assert(plan.contains("PartitionFilters") || one.count() < 243)
  }
}
