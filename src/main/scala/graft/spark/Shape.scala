package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** SHAPE DISPATCH: every size-adaptive choice in [[Queries]] between
  * exact-identical SQL shapes. A choice reads three facts about the
  * dataset: the layout (whether a table carries ScaleUp's bucket marker),
  * parquet footer row counts, and whether broadcasts are enabled
  * (`autoBroadcastJoinThreshold > 0`; off disables every forced-BROADCAST
  * shape). Row counts, not on-disk bytes, so a re-encoded copy of the
  * same data (tools/Reencode) takes the same plan.
  *
  * Each pick is pure and returns a branch name. The row thresholds sit
  * between the measured scale points (sf0.1: orders 150k, lineitem 600k,
  * events 100k rows; ScaleUp copies multiply them), where the byte keys
  * they replace used to sit, so every dispatcher keeps its branch on the
  * datasets it runs on. A row count of None (an unreadable footer) picks
  * the branch that is correct and bounded at any size: salted q1,
  * unforced joins, staged funnel, two-level hourly. */
private[spark] object Shape {

  /** Largest orders/supplier table a forced BROADCAST hint may build:
    * ~20 MB of orders parquet, twice the default broadcast threshold. */
  val BcastMaxRows = 1000000L
  /** q3 filter-first while its ~1/5 orders key set still broadcasts. */
  val KeySetMaxRows = 5000000L
  /** q1 single-level sums overflow BIGINT cents only past ~9.2e9 rows in
    * ONE group; salting from 1e9 total rows keeps a 9x margin with no
    * assumption about how rows spread over the groups. */
  val Q1SaltRows = 1000000000L
  /** Funnel array-fold while flat events stay this small (its per-user
    * collect_list buffer is unbounded in the hot-user dimension). */
  val FunnelFoldMaxRows = 3000000L
  /** Hourly rollup as one partition below this many flat events rows. */
  val HourlyOneMaxRows = 800000L

  private def forced(rows: Option[Long], bcast: Boolean): Boolean =
    bcast && rows.exists(_ <= BcastMaxRows)

  def q1(lineitem: Option[Long]): String =
    if (lineitem.exists(_ <= Q1SaltRows)) "flat" else "salted"

  def q3(bucketed: Boolean, orders: Option[Long], bcast: Boolean): String =
    if (bucketed) "filter-first"
    else if (forced(orders, bcast)) "bcast-both"
    else if (bcast && orders.exists(_ <= KeySetMaxRows)) "filter-first"
    else "pre-agg-first"

  def q4(bucketed: Boolean, orders: Option[Long], bcast: Boolean): String =
    if (bucketed) "exists" else if (forced(orders, bcast)) "bcast-orders" else "in-distinct"

  def q12(bucketed: Boolean, orders: Option[Long], bcast: Boolean): String =
    if (!bucketed && forced(orders, bcast)) "narrow" else "body"

  def q5(supplier: Option[Long], bcast: Boolean): String =
    if (forced(supplier, bcast)) "supp-bcast" else "supp"

  /** A forced-broadcast pin row's guard: its forced shape or the fallback. */
  def guarded(orders: Option[Long], bcast: Boolean): String =
    if (forced(orders, bcast)) "bcast" else "fallback"

  def funnel(bucketed: Boolean, events: Option[Long]): String =
    if (!bucketed && events.exists(_ <= FunnelFoldMaxRows)) "fold" else "staged"

  def hourly(bucketed: Boolean, events: Option[Long]): String =
    if (!bucketed && events.exists(_ < HourlyOneMaxRows)) "one-partition" else "two-level"

  /** Whether every one of `tables` under `dir` carries the bucket marker. */
  def bucketed(dir: String, tables: String*): Boolean =
    tables.forall(t => Queries.bucketMarker(dir, t).isDefined)

  def bcast(s: SparkSession): Boolean = s.sessionState.conf.autoBroadcastJoinThreshold > 0

  /** Footer row count of table `t` under `dir`, read once per dataset
    * version: keyed by (path, total file length, latest mtime), not by
    * SparkSession (a session key pins sessions for the JVM lifetime and
    * returns stale counts when the path is regenerated in-session). */
  def rows(dir: String, t: String): Option[Long] = {
    val path = s"$dir/$t.parquet"
    val (len, mtime) = dirFingerprint(path)
    rowCache.getOrElseUpdate((path, len, mtime), footerRows(path))
  }
  private val rowCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Option[Long]]

  /** Sum of the footer row counts of the part files at `path`, listed as
    * [[GeoParquet.partFiles]] lists them (`_`/`.`-prefixed entries —
    * markers, `_SUCCESS`, checksums — skipped). None when the path is
    * missing or any footer fails to read. */
  def footerRows(path: String): Option[Long] = try {
    val conf = new Configuration()
    val root = new Path(new java.io.File(path).toURI)
    Some(GeoParquet.partFiles(root.getFileSystem(conf), root).map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try reader.getRecordCount finally reader.close()
    }.sum)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** (total length, latest mtime) of the top-level files at `path`. */
  def dirFingerprint(path: String): (Long, Long) = {
    val files = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile)
    if (files.isEmpty) {
      val f = new java.io.File(path); (f.length, f.lastModified)
    } else (files.map(_.length).sum, files.map(_.lastModified).max)
  }
}
