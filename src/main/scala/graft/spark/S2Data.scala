package graft.spark

import org.apache.spark.sql.{DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{GeoCodec, Wkt}

/**
 * Bundled example datasets (reference: src/s2_data.cpp:26-203 exposes
 * s2_data_cities()/s2_data_countries() table functions and
 * s2_data_city()/s2_data_country() scalar lookups over TSVs compiled into
 * the extension; data at /root/reference/data/ cities.tsv + countries.tsv).
 *
 * Spark-first shape: DataFrame factories over classpath TSV resources.
 * Each table is split into `min(rows, defaultParallelism)` partitions in
 * TSV row order, so a join that streams it (the flagship spatial join,
 * reference README.md:14-19) runs its refine on every core. The leaf
 * carries its exact row count (243 cities / 177 countries), which the
 * cover-then-refine join reads to place the dwithin neighbour ring, but
 * no size: a blob-sized estimate would make the tables broadcast
 * candidates, and a broadcast covering explode copies the full geography
 * blob into every exploded row.
 */
object S2Data {
  private case class RawRow(cols: Array[String])

  private def readTsv(resource: String): Seq[Array[String]] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing resource $resource")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().drop(1).map(_.split('\t')).toList
    finally src.close()
  }

  private lazy val cityRows: Seq[(String, Int, String)] =
    readTsv("/graft/cities.tsv").map(a => (a(0), a(1).toInt, a(2)))
  private lazy val countryRows: Seq[(String, String, String)] =
    readTsv("/graft/countries.tsv").map(a => (a(0), a(1), a(2)))

  private val citySchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("population", IntegerType, nullable = false),
    StructField("geog", BinaryType, nullable = false)))

  private val countrySchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("continent", StringType, nullable = false),
    StructField("geog", BinaryType, nullable = false)))

  /** `rows` over `min(rows, defaultParallelism)` partitions, in order,
    * with the row count in the leaf statistics and the size left unknown. */
  private def table(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    val slices = math.max(1, math.min(rows.size, spark.sparkContext.defaultParallelism))
    GraftShim.withRowCount(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema), rows.size)
  }

  /** 243 rows: name, population, geog (POINT). */
  def cities(spark: SparkSession): DataFrame =
    table(spark, cityRows.map { case (n, p, wkt) =>
      Row(n, p, GeoCodec.encode(Wkt.read(wkt)))
    }, citySchema)

  /** 177 rows: name, continent, geog (POLYGON / MULTIPOLYGON). */
  def countries(spark: SparkSession): DataFrame =
    table(spark, countryRows.map { case (n, c, wkt) =>
      Row(n, c, GeoCodec.encode(Wkt.read(wkt)))
    }, countrySchema)

  /** Scalar lookup; unknown name errors with the reference's message
    * (reference: src/s2_data.cpp:182-184, data.test:8-11). */
  def city(name: String): Array[Byte] =
    cityRows.find(_._1 == name) match {
      case Some((_, _, wkt)) => GeoCodec.encode(Wkt.read(wkt))
      case None => throw new IllegalArgumentException(s"No entry for item '$name'")
    }

  def country(name: String): Array[Byte] =
    countryRows.find(_._1 == name) match {
      case Some((_, _, wkt)) => GeoCodec.encode(Wkt.read(wkt))
      case None => throw new IllegalArgumentException(s"No entry for item '$name'")
    }

  /** Version/diagnostic rows (reference: src/s2_dependencies.cpp:22-62). */
  def dependencies(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("spark", org.apache.spark.SPARK_VERSION),
      ("scala", scala.util.Properties.versionNumberString),
      ("graft", "0.2.0"),
      ("graft.kernel", "s2-scala"),
      ("jvm", System.getProperty("java.version"))
    ).toDF("dependency", "version")
  }

  /** Register the scalar lookups + temp views so SQL can reach the data. */
  def register(spark: SparkSession): Unit = {
    SqlFunctions.install(spark, SqlFunctions.data, replace = true)
    cities(spark).createOrReplaceTempView("s2_data_cities")
    countries(spark).createOrReplaceTempView("s2_data_countries")
    dependencies(spark).createOrReplaceTempView("s2_dependencies")
  }
}
