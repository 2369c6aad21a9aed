package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter, ParquetOutputFormat}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/**
 * GeoParquet interop: the standard `geo` footer key-value metadata
 * (GeoParquet spec, version 1.1.0) on Spark-written parquet, so external
 * readers (GeoPandas, GDAL, DuckDB spatial) recognize the WKB geometry
 * column without out-of-band schema knowledge — the Spark-native
 * equivalent of the reference's GeoArrow extension-type registration
 * (src/s2_geoarrow.cpp:18-93: the reference tags Arrow columns with
 * geoarrow.wkb extension metadata; parquet's channel for the same
 * contract is the `geo` footer entry).
 *
 * [[writeGeoParquet]] is one Spark write: each write task puts the `geo`
 * entry into the footer of the file it writes ([[GeoParquetFileFormat]]),
 * so the metadata is written with the data and Spark's commit protocol
 * makes the dataset appear whole or not at all. [[stampGeoMetadata]] adds
 * the entry to parquet written elsewhere. [[readGeoParquet]] takes the
 * schema and the `geo` entry from one footer opened on the driver, so
 * building the DataFrame runs no job. Edges are declared "spherical": S2
 * geographies interpolate on great circles, which is exactly
 * GeoParquet's spherical edge model.
 */
object GeoParquet {

  /** Write option (and task Hadoop conf key) carrying the `geo` footer
    * JSON to the write tasks of [[GeoParquetFileFormat]]. */
  private[spark] val GeoJsonOption = "graft.geoparquet.geo"

  /** The `geo` footer JSON for one WKB geometry column. */
  def geoMetadataJson(geometryColumn: String): String =
    s"""{"version":"1.1.0","primary_column":"$geometryColumn",""" +
      s""""columns":{"$geometryColumn":{"encoding":"WKB",""" +
      """"geometry_types":[],"edges":"spherical"}}}"""

  /** Write `df` to parquet at `path` (overwrite) in one Spark write whose
    * tasks give every part file the `geo` footer for `geometryColumn` (a
    * WKB BinaryType column, e.g. from s2_aswkb). */
  def writeGeoParquet(df: DataFrame, path: String, geometryColumn: String): Unit = {
    require(df.schema.fieldNames.contains(geometryColumn),
      s"geometry column $geometryColumn not in schema")
    df.write.mode("overwrite").format(classOf[GeoParquetFileFormat].getName)
      .option(GeoJsonOption, geoMetadataJson(geometryColumn)).save(path)
  }

  /** Recursively list the data part files under `p` (descends into
    * partitionBy subdirectories; skips _SUCCESS/_metadata and hidden
    * files). */
  private[spark] def partFiles(fs: org.apache.hadoop.fs.FileSystem, p: Path): Array[Path] = {
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).filter(s => !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .flatMap(s => partFiles(fs, s.getPath))
    else if (p.getName.endsWith(".parquet")) Array(p)
    else Array.empty
  }

  /** Add the `geo` entry to the footer of every part file under `dir` —
    * including partitionBy subdirectories — (or of `dir` itself when it
    * is a single file): the tool for parquet written without
    * [[writeGeoParquet]]. Each file's row groups are appended
    * byte-for-byte into a sibling file via parquet-mr's appendFile (no
    * decode or re-encode), the footer is written with the merged
    * key-value map, and the original is swapped aside (a dot-prefixed
    * `.geo-bak` sibling) before the sibling is renamed into place. A crash
    * mid-swap always leaves a recoverable full copy, and because both
    * siblings are dot-prefixed, directory reads (which skip '.'/'_'
    * files) never double-count a leftover copy. */
  def stampGeoMetadata(spark: SparkSession, dir: String, geometryColumn: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val parts =
      if (fs.getFileStatus(root).isDirectory) partFiles(fs, root)
      else Array(root)
    val geoJson = geoMetadataJson(geometryColumn)
    parts.foreach { part =>
      val in = HadoopInputFile.fromPath(part, conf)
      val reader = ParquetFileReader.open(in)
      val (schema, kv) =
        try {
          val md = reader.getFooter.getFileMetaData
          val m = new java.util.HashMap[String, String](md.getKeyValueMetaData)
          m.put("geo", geoJson)
          (md.getSchema, m)
        } finally reader.close()
      // DOT-PREFIXED sibling names: Spark/Hadoop directory listings skip
      // files starting with '.' or '_', so a crash mid-swap can never
      // leave a byte-complete copy that a directory read double-counts
      val tmp = new Path(part.getParent, "." + part.getName + ".geo-tmp")
      val bak = new Path(part.getParent, "." + part.getName + ".geo-bak")
      // build the stamped sibling first; on any failure drop the partial
      // tmp so a retry starts clean and the original is never touched
      var done = false
      val writer = new ParquetFileWriter(
        HadoopOutputFile.fromPath(tmp, conf), schema,
        ParquetFileWriter.Mode.OVERWRITE,
        128L * 1024 * 1024, 0)
      try {
        writer.start()
        writer.appendFile(in)
        writer.end(kv)
        done = true
      } finally if (!done) {
        try writer.close() catch { case _: Throwable => () }
        try fs.delete(tmp, false) catch { case _: Throwable => () }
      }
      // swap: original -> .geo-bak, tmp -> original, drop .geo-bak.
      // A crash between the renames leaves the full copy at .geo-bak
      // (never a directory missing the part with only a tmp sibling).
      fs.delete(bak, false)
      if (!fs.rename(part, bak))
        throw new java.io.IOException(s"failed to move $part aside to $bak")
      if (!fs.rename(tmp, part)) {
        fs.rename(bak, part)  // roll back so the dataset stays readable
        throw new java.io.IOException(s"failed to replace $part with geo-stamped copy")
      }
      fs.delete(bak, false)
    }
  }

  /** Read a GeoParquet dataset with the geometry column self-described:
    * a plain parquet scan (full pushdown/pruning/vectorized scan), plus
    * the `geo` footer's primary column surfaced as Spark column metadata
    * (key `geoparquet` = the footer JSON, mirroring how
    * [[GeoArrow.readGeoArrow]] surfaces the Arrow extension tags), so
    * downstream code can locate the WKB column without out-of-band
    * knowledge and feed it to s2_geogfromwkb. Datasets without a `geo`
    * footer read unchanged.
    *
    * The data schema comes from the first part file's footer, read on
    * the driver by Spark's own converter — the file Spark's inference
    * would read, so building the frame runs no schema-inference job.
    * Partition columns are still inferred from the paths. Spark infers the
    * schema itself only where its answer can differ: no part file was
    * found, or the session merges schemas across files
    * (`spark.sql.parquet.mergeSchema`). */
  def readGeoParquet(spark: SparkSession, dir: String): DataFrame = {
    val footer = firstFooter(spark, dir)
    val df = footer match {
      case Some(f) if !spark.sessionState.conf.isParquetSchemaMergingEnabled =>
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(f,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(dir)
      case _ => spark.read.parquet(dir)
    }
    footer.flatMap(geoOf) match {
      case None => df
      case Some(json) =>
        val primary = "\"primary_column\"\\s*:\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(json).map(_.group(1))
        primary.filter(df.schema.fieldNames.contains) match {
          case None => df
          case Some(geomCol) =>
            val meta = new org.apache.spark.sql.types.MetadataBuilder()
              .putString("geoparquet", json).build()
            df.select(df.schema.fieldNames.map { f =>
              if (f == geomCol) org.apache.spark.sql.functions.col(f).as(f, meta)
              else org.apache.spark.sql.functions.col(f)
            }.toIndexedSeq: _*)
        }
    }
  }

  /** Read back the `geo` footer JSON of the first part file under `dir`
    * (None when absent) — the read half of the interop contract. */
  def readGeoMetadata(spark: SparkSession, dir: String): Option[String] =
    firstFooter(spark, dir).flatMap(geoOf)

  private def geoOf(f: Footer): Option[String] =
    Option(f.getParquetMetadata.getFileMetaData.getKeyValueMetaData.get("geo"))

  /** The footer of the first part file under `dir` (of `dir` itself when
    * it is a single file); None when there is no part file. */
  private def firstFooter(spark: SparkSession, dir: String): Option[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val part =
      if (fs.getFileStatus(root).isDirectory) partFiles(fs, root).headOption
      else Some(root)
    part.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try new Footer(p, reader.getFooter)
      finally reader.close()
    }
  }
}

/** Spark's parquet file format with one change to the write path: every
  * write task uses [[GeoParquetWriteSupport]], which adds the `geo` entry
  * given as the [[GeoParquet.GeoJsonOption]] write option to the footer of
  * the file it writes. Reads are plain parquet. */
class GeoParquetFileFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val geo = options.getOrElse(GeoParquet.GeoJsonOption,
      throw new IllegalArgumentException(s"write option ${GeoParquet.GeoJsonOption} is required"))
    val factory = super.prepareWrite(spark, job, options, dataSchema)
    val conf = job.getConfiguration
    conf.setClass(ParquetOutputFormat.WRITE_SUPPORT_CLASS, classOf[GeoParquetWriteSupport],
      classOf[WriteSupport[_]])
    conf.set(GeoParquet.GeoJsonOption, geo)
    factory
  }
}

/** Spark's parquet write support plus the `geo` footer entry: `init`
  * returns Spark's write context with `geo` added to its extra key-value
  * metadata, which parquet writes into the file footer. */
class GeoParquetWriteSupport extends ParquetWriteSupport {
  override def init(conf: Configuration): WriteSupport.WriteContext = {
    val ctx = super.init(conf)
    val kv = new java.util.HashMap[String, String](ctx.getExtraMetaData)
    kv.put("geo", conf.get(GeoParquet.GeoJsonOption))
    new WriteSupport.WriteContext(ctx.getSchema, kv)
  }
}
