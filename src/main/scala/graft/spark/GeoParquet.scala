package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * GeoParquet interop: stamp the standard `geo` footer key-value metadata
 * (GeoParquet spec, version 1.1.0) onto Spark-written parquet so external
 * readers (GeoPandas, GDAL, DuckDB spatial) recognize the WKB geometry
 * column without out-of-band schema knowledge — the Spark-native
 * equivalent of the reference's GeoArrow extension-type registration
 * (src/s2_geoarrow.cpp:18-93: the reference tags Arrow columns with
 * geoarrow.wkb extension metadata; parquet's channel for the same
 * contract is the `geo` footer entry).
 *
 * The stamp is a footer rewrite, not a data rewrite: each part file's
 * row groups are appended BYTE-FOR-BYTE into a sibling file via
 * parquet-mr's appendFile (no decode/re-encode — at 100 TB the stamp
 * cost is a file copy, and sits in the writer's commit path, not per
 * row), then the footer is written with the merged key-value map and the
 * original swapped aside (a dot-prefixed `.geo-bak` sibling) before the
 * sibling is renamed into place — a crash mid-swap always leaves a
 * recoverable full copy, and because both siblings are dot-prefixed,
 * directory reads (which skip '.'/'_' files) never double-count a
 * leftover copy. Edges are declared
 * "spherical": S2 geographies interpolate on great circles, which is
 * exactly GeoParquet's spherical edge model.
 */
object GeoParquet {

  /** The `geo` footer JSON for one WKB geometry column. */
  def geoMetadataJson(geometryColumn: String): String =
    s"""{"version":"1.1.0","primary_column":"$geometryColumn",""" +
      s""""columns":{"$geometryColumn":{"encoding":"WKB",""" +
      """"geometry_types":[],"edges":"spherical"}}}"""

  /** Write `df` to parquet at `path` (overwrite) and stamp every part
    * file with the `geo` footer for `geometryColumn` (a WKB BinaryType
    * column, e.g. from s2_aswkb). */
  def writeGeoParquet(df: DataFrame, path: String, geometryColumn: String): Unit = {
    require(df.schema.fieldNames.contains(geometryColumn),
      s"geometry column $geometryColumn not in schema")
    df.write.mode("overwrite").parquet(path)
    stampGeoMetadata(df.sparkSession, path, geometryColumn)
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
    * is a single file). */
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
    * plain `spark.read.parquet` (full pushdown/pruning/vectorized scan —
    * the footer stamp changed no data pages), plus the `geo` footer's
    * primary column surfaced as Spark column metadata (keys
    * `geoparquet` = the footer JSON, mirroring how
    * [[GeoArrow.readGeoArrow]] surfaces the Arrow extension tags), so
    * downstream code can locate the WKB column without out-of-band
    * knowledge and feed it to s2_geogfromwkb. Datasets without a `geo`
    * footer read unchanged. */
  def readGeoParquet(spark: SparkSession, dir: String): DataFrame = {
    val df = spark.read.parquet(dir)
    readGeoMetadata(spark, dir) match {
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
  def readGeoMetadata(spark: SparkSession, dir: String): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val part =
      if (fs.getFileStatus(root).isDirectory) partFiles(fs, root).headOption
      else Some(root)
    part.flatMap { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get("geo"))
      finally reader.close()
    }
  }
}
