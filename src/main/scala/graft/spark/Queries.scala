package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Ann, Boilerplate, Bpe, Classifier, Dedup, Multimodal, Sampling, TextAnalysis}

/**
 * The driver-facing query inventory: one entry per operator
 * (SURVEY.md §2 + the LLM-pipeline operators), each with DuckDB oracle SQL.
 *
 * Two kinds of checks:
 *  - golden-fixture queries (VALUES-based): port of the reference's own
 *    sqllogictests; the oracle is the literal golden.
 *  - scale queries over the sf parquet tables: data-dependent results the
 *    oracle recomputes arithmetically (point-in-box counts, cell
 *    round-trips, md5 dedup, decimal TPC-H aggregates).
 *
 * Output discipline (driver hash-compares values): integers, strings,
 * booleans, decimals, or doubles that are exact copies of inputs /
 * rounded far from boundaries. Every multi-row result has a total ORDER BY.
 */
object Queries {
  type Q = (SparkSession, String) => DataFrame

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  @volatile private var preppedFor: (SparkSession, String) = null

  /** Catalog-name prefix for bucketed copies of `name` under `dir` —
    * unique per directory so multiple scale dirs coexist in one session's
    * catalog. */
  def bucketTablePrefix(name: String, dir: String): String = {
    val tail = dir.split('/').filter(_.nonEmpty).lastOption.getOrElse("d")
      .replaceAll("[^A-Za-z0-9]", "_")
    s"graft_bk_${name}_${tail}_${(dir.hashCode & 0x7fffffff).toHexString}"
  }

  /** Catalog name for a bucketed copy of `name` under `dir`. The BUCKET
    * SPEC (key, count) is part of the name (ADVICE r15): tableSource
    * short-circuits on catalog.tableExists, so if the dataset at the path
    * were regenerated in-session under a DIFFERENT spec, a spec-less name
    * would resurrect the stale CLUSTERED BY entry and bucketed joins
    * would assume co-location that no longer holds — wrong results, not
    * just wrong perf. Spec-in-name makes that collision impossible; the
    * writer additionally drops every `bucketTablePrefix` sibling. */
  def bucketTableName(name: String, dir: String, key: String, buckets: Int): String =
    s"${bucketTablePrefix(name, dir)}_${key.replaceAll("[^A-Za-z0-9]", "_")}_$buckets"

  /** The marker-derived catalog name for `name` under `dir` — None when
    * the dir carries no `_graft_buckets.json` layout marker. */
  def markedBucketTableName(dir: String, name: String): Option[String] =
    bucketMarker(dir, name).map { case (k, n, _) => bucketTableName(name, dir, k, n) }

  /** `{"key":…,"buckets":…,"sorted":…}` marker written by tools/ScaleUp
    * next to a bucketed dataset, so a session that did not write the files
    * can still register the co-located layout (the files carry Spark
    * bucket-id names; only the catalog entry is session-scoped). The
    * `sorted` flag is written ONLY by the sortBy write path (ADVICE r17):
    * claiming SORTED BY for files that merely share the bucket spec would
    * make merge-joins/sort-aggs consume an ordering that is not there —
    * wrong results, not just wrong perf — so a marker without the flag is
    * registered bucketed-but-unsorted. */
  private[spark] def bucketMarker(dir: String, t: String): Option[(String, Int, Boolean)] = {
    val f = new java.io.File(s"$dir/$t.parquet/_graft_buckets.json")
    if (!f.exists) None
    else try {
      val src = scala.io.Source.fromFile(f)
      val txt = try src.mkString finally src.close()
      for {
        k <- "\"key\":\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
        n <- "\"buckets\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
      } yield (k, n, "\"sorted\":\\s*true".r.findFirstIn(txt).isDefined)
    } catch { case _: Throwable => None }
  }

  /** SQL-referencable relation for table `t` of `dir`: the bucketed
    * catalog table when the dir carries ScaleUp's layout marker (VERDICT
    * r14 item 1 — joins/windows on the bucket key then consume the layout
    * with zero feeding exchanges), else the raw parquet path. */
  private def tableSource(s: SparkSession, dir: String, t: String): String =
    bucketMarker(dir, t) match {
      case Some((key, n, sorted)) =>
        val tbl = bucketTableName(t, dir, key, n)
        if (!s.catalog.tableExists(tbl)) {
          val path = s"$dir/$t.parquet"
          val schema = s.read.parquet(path).schema.toDDL
          // SORTED BY only when the writer recorded the sortBy path —
          // see bucketMarker's scaladoc (ADVICE r17)
          val sortedBy = if (sorted) s"SORTED BY ($key) " else ""
          s.sql(s"CREATE TABLE $tbl ($schema) USING parquet " +
            s"CLUSTERED BY ($key) ${sortedBy}INTO $n BUCKETS LOCATION '$path'")
        }
        tbl
      case None => s"parquet.`$dir/$t.parquet`"
    }

  def prep(s: SparkSession, dir: String): Unit = synchronized {
    if (preppedFor == (s, dir)) return
    S2Functions.register(s)
    S2Data.register(s)
    S2Boxes.register(s)
    Dedup.register(s)
    TextAnalysis.register(s)
    // SORTED-LAYOUT PLAN PROFILE (r17): ScaleUp's co-located layout is one
    // SORTED file per bucket, but by default Spark neither reports the
    // scan's sort order nor exploits a sorted child for aggregation — so
    // every orderkey/user_id-grain SMJ re-sorted its inputs and the q3
    // per-order agg built a 15M-entry hash table. With the order reported,
    // the bucket joins become pure streaming merges (sf10 A/B: q4
    // 0.62→0.42 s, q12 0.73→0.54 s) and the on-join-key aggregate streams
    // as a SortAggregate (q3 filter-first 2.1→0.76 s). Both settings are
    // plan-only (no result change) and no-ops on flat storage:
    // replaceHashWithSortAgg fires only when the child is ALREADY sorted
    // on the group keys, never inserting a sort of its own. Both confs are
    // gated on the dir actually carrying a sorted layout (ADVICE r17):
    // SORTED BY registration itself is gated on the marker's sorted flag,
    // so a caller prepping only flat dirs keeps its session confs untouched.
    if (tables.exists(t => bucketMarker(dir, t).exists(_._3))) {
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      s.conf.set("spark.sql.execution.replaceHashWithSortAgg", "true")
    }
    // events.ts arrives as either parquet TIMESTAMP(NANOS) — which Spark
    // rejects unless read as long via the legacy flag — or TIMESTAMP(MICROS)
    // (read as TIMESTAMP_NTZ). Normalize both to a session-TZ TIMESTAMP at
    // micros (sessions run UTC, so the wall-clock value is identical).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach(t =>
      s.sql(s"CREATE OR REPLACE TEMP VIEW $t AS SELECT * FROM ${tableSource(s, dir, t)}"))
    val rawEvents = s.read.parquet(s"$dir/events.parquet")
    val tsExpr = rawEvents.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => "timestamp_micros(ts DIV 1000)"
      case _ => "CAST(ts AS TIMESTAMP)"
    }
    s.sql(s"""CREATE OR REPLACE TEMP VIEW events AS
      SELECT event_id, $tsExpr AS ts,
             user_id, event_type, value, props
      FROM ${tableSource(s, dir, "events")}""")
    // synthesized point table: deterministic lon/lat from customer keys
    s.sql("""CREATE OR REPLACE TEMP VIEW pts AS
      SELECT c_custkey AS id,
             CAST((c_custkey % 360) - 180 AS INT) AS lon_i,
             CAST((c_custkey % 160) - 80 AS INT) AS lat_i,
             (c_custkey % 360) - 180 + 0.25 AS lon,
             (c_custkey % 160) - 80 + 0.25 AS lat
      FROM customer""")
    // jittered point table for ranking oracles: the regular `pts` grid is
    // full of mirror-symmetric EXACTLY-equidistant pairs, which the
    // xyz-chord and haversine routes fp-tie-break differently; the
    // id-dependent jitter (pure integer arithmetic, engine-portable)
    // makes every cross-point distance comparison decisive
    s.sql("""CREATE OR REPLACE TEMP VIEW jpts AS
      SELECT c_custkey AS id,
             (c_custkey % 360) - 180 + 0.25 + ((c_custkey * 37) % 89) / 400.0 AS lon,
             (c_custkey % 160) - 80 + 0.25 + ((c_custkey * 53) % 79) / 500.0 AS lat
      FROM customer""")
    // duplicate-augmented docs (guaranteed exact dups for dedup oracles)
    s.sql("""CREATE OR REPLACE TEMP VIEW docs_aug AS
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0""")
    preppedFor = (s, dir)
  }

  private def sqlQ(q: String): Q = (s, dir) => { prep(s, dir); s.sql(q) }
  private def dfQ(f: SparkSession => DataFrame): Q = (s, dir) => { prep(s, dir); f(s) }

  /** Oracle-side CTEs matching the temp views above (DuckDB dialect). */
  private val oraclePts =
    """pts AS (SELECT c_custkey AS id,
      |  CAST((c_custkey % 360) - 180 AS INT) AS lon_i,
      |  CAST((c_custkey % 160) - 80 AS INT) AS lat_i,
      |  CAST((c_custkey % 360) - 180 + 0.25 AS DOUBLE) AS lon,
      |  CAST((c_custkey % 160) - 80 + 0.25 AS DOUBLE) AS lat FROM customer)""".stripMargin
  private val oracleJpts =
    """jpts AS (SELECT c_custkey AS id,
      |  (c_custkey % 360) - 180 + 0.25 + ((c_custkey * 37) % 89) / 400.0 AS lon,
      |  (c_custkey % 160) - 80 + 0.25 + ((c_custkey * 53) % 79) / 500.0 AS lat
      |  FROM customer)""".stripMargin
  private val oracleDocsAug =
    """docs_aug AS (SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  // ======================================================= golden fixtures

  private val ioFixtures = Seq(
    1 -> "POINT (-64 45)",
    2 -> "LINESTRING (0 1, 2 3)",
    3 -> "POLYGON ((0 0, 1 0, 0 1, 0 0))",
    4 -> "MULTIPOINT ((-64 45), (-64 46))",
    5 -> "GEOMETRYCOLLECTION (POINT (0 1), LINESTRING (0 0, 1 1))",
    6 -> "POINT EMPTY",
    7 -> "MULTIPOLYGON (((0 0, 1 0, 0 1, 0 0)), ((10 10, 11 10, 10 11, 10 10)))",
    8 -> "GEOMETRYCOLLECTION EMPTY")

  private def fixtureValues: String =
    ioFixtures.map { case (i, w) => s"($i, '$w')" }.mkString(", ")

  private val qIoText = sqlQ(
    s"""SELECT id, s2_format(s2_geogfromtext(wkt), 6) AS out
       |FROM (VALUES $fixtureValues) AS t(id, wkt) ORDER BY id""".stripMargin)
  private val oIoText =
    """SELECT * FROM (VALUES (1,'POINT (-64 45)'), (2,'LINESTRING (0 1, 2 3)'),
      | (3,'POLYGON ((0 0, 1 0, 0 1, 0 0))'), (4,'MULTIPOINT ((-64 45), (-64 46))'),
      | (5,'GEOMETRYCOLLECTION (POINT (0 1), LINESTRING (0 0, 1 1))'),
      | (6,'POINT EMPTY'),
      | (7,'MULTIPOLYGON (((0 0, 1 0, 0 1, 0 0)), ((10 10, 11 10, 10 11, 10 10)))'),
      | (8,'GEOMETRYCOLLECTION EMPTY')) t(id, out) ORDER BY id""".stripMargin

  /** Unrounded `s2_astext` parity (SURVEY §7.5 #5): full-precision WKT
    * after a blob round trip, no s2_format. The pinned values are this
    * engine's deterministic outputs. Investigation note (r5): the
    * reference's README golden `POINT (-64 44.99999999999999)` is NOT an
    * op-order artifact — every lat/lng<->XYZ op-order variant round-trips
    * (-64 45) exactly on the JVM; the reference's ulp loss comes from
    * glibc-vs-JVM libm differences on sin/cos/atan2. The same artifact
    * CLASS shows up here with JVM ulp placement (45 lng -> 44.99999999999999,
    * 60.25 lat -> 60.25000000000001), and the cell-center chain is pinned at
    * full precision. */
  private val qIoExact = sqlQ(
    """SELECT
      | s2_astext(s2_geogfromtext('POINT (-64 45)')) AS p_exact,
      | s2_astext(s2_geogfromtext('POINT (-30.5 60.25)')) AS p_ulp_lat,
      | s2_astext(s2_geogfromtext('POINT (45 35.26439)')) AS p_ulp_lng,
      | s2_astext(s2_geogfromtext('POINT EMPTY')) AS p_empty,
      | s2_astext(s2_geogfromtext('LINESTRING (0 0, -64 45, 10 20)')) AS ln_exact,
      | s2_astext(s2_geogfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))')) AS pg_ulp,
      | s2_astext(s2_geogfromtext('MULTIPOINT ((1.5 2.25), (-179.99 -89.5))')) AS mp_exact,
      | s2_astext(s2_cellcenter_to_geog(s2_cellfromlonlat(-64.0, 45.0))) AS cc_snap""".stripMargin)
  private val oIoExact =
    """SELECT 'POINT (-64 45)' AS p_exact,
      | 'POINT (-30.5 60.25000000000001)' AS p_ulp_lat,
      | 'POINT (44.99999999999999 35.26439)' AS p_ulp_lng,
      | 'POINT EMPTY' AS p_empty,
      | 'LINESTRING (0 0, -64 45, 10 20)' AS ln_exact,
      | 'POLYGON ((0 0, 10 0, 9.999999999999998 10, 0 10, 0 0))' AS pg_ulp,
      | 'MULTIPOINT ((1.5 2.25), (-179.99 -89.5))' AS mp_exact,
      | 'POINT (-63.99999997805 45.00000001161659)' AS cc_snap""".stripMargin

  private val qIoWkb = sqlQ(
    s"""SELECT id, s2_format(s2_geogfromwkb(s2_aswkb(s2_geogfromtext(wkt))), 6) AS out
       |FROM (VALUES $fixtureValues) AS t(id, wkt) WHERE id <= 7 ORDER BY id""".stripMargin)
  private val oIoWkb =
    """SELECT * FROM (VALUES (1,'POINT (-64 45)'), (2,'LINESTRING (0 1, 2 3)'),
      | (3,'POLYGON ((0 0, 1 0, 0 1, 0 0))'), (4,'MULTIPOINT ((-64 45), (-64 46))'),
      | (5,'GEOMETRYCOLLECTION (POINT (0 1), LINESTRING (0 0, 1 1))'),
      | (6,'POINT EMPTY'),
      | (7,'MULTIPOLYGON (((0 0, 1 0, 0 1, 0 0)), ((10 10, 11 10, 10 11, 10 10)))'))
      | t(id, out) ORDER BY id""".stripMargin

  private val qIoNovalidate = sqlQ(
    """SELECT s2_format(s2_geogfromtext_novalidate('LINESTRING (0 0, 0 0, 1 1)'), 6) AS wkt_out,
      | s2_is_valid(s2_geogfromtext_novalidate('LINESTRING (0 0, 0 0, 1 1)')) AS valid,
      | s2_is_valid_reason(s2_geogfromtext_novalidate('LINESTRING (0 0, 0 0, 1 1)')) AS reason,
      | s2_format(s2_geogfromwkb_novalidate(s2_aswkb(s2_geogfromtext_novalidate('LINESTRING (0 0, 0 0, 1 1)'))), 6) AS wkb_out,
      | s2_is_valid(s2_geogfromtext_novalidate('LINESTRING (0 0, 1 1)')) AS valid_ok,
      | s2_is_valid_reason(s2_geogfromtext_novalidate('LINESTRING (0 0, 1 1)')) = '' AS reason_ok""".stripMargin)
  private val oIoNovalidate =
    """SELECT 'LINESTRING (0 0, 0 0, 1 1)' AS wkt_out, false AS valid,
      | 'Vertices 0 and 1 are identical' AS reason,
      | 'LINESTRING (0 0, 0 0, 1 1)' AS wkb_out, true AS valid_ok, true AS reason_ok""".stripMargin

  /** Prepared print parity (reference functions_io.test:43-52: small
    * geographies pass through, bigger ones print the index form; the byte
    * count is encoding-specific). Predicates on the prepared blob must
    * still see the geometry through the attached index. */
  private val qPrepareGolden = sqlQ(
    """WITH p AS (SELECT s2_prepare(s2_geogfromtext('LINESTRING (0 0, 1 1, 2 2, 3 3, 4 4)')) AS g)
      |SELECT s2_format(s2_prepare(s2_geogfromtext('POINT (30 10)')), 6) AS small,
      | (SELECT s2_isempty(g) FROM p) AS prepared_empty,
      | (SELECT s2_format(g, 6) FROM p) AS prepared_wkt,
      | (SELECT s2_astext(s2_prepare(g)) FROM p) AS prepare_idempotent,
      | (SELECT s2_intersects(g, s2_geogfromtext('LINESTRING (0 4, 4 0)')) FROM p) AS prep_int,
      | (SELECT s2_intersects(g, s2_geogfromtext('LINESTRING (10 14, 14 10)')) FROM p) AS prep_far,
      | (SELECT CAST(round(s2_length(g) / 1000.0, 0) AS BIGINT) FROM p) AS prep_len_km""".stripMargin)
  private val oPrepareGolden =
    """SELECT 'POINT (30 10)' AS small, false AS prepared_empty,
      | '<S2ShapeIndex 233 b>' AS prepared_wkt, '<S2ShapeIndex 233 b>' AS prepare_idempotent,
      | true AS prep_int, false AS prep_far, 629 AS prep_len_km""".stripMargin

  /** Null propagation across the whole function surface (reference: DuckDB
    * executors skip null rows for every scalar — null in, null out, for
    * predicates too). Row 4 is the non-null control. */
  private val qNullsGolden = sqlQ(
    """WITH t AS (SELECT id, s2_geogfromtext(wkt) AS g, s2_geogfromtext(wkt2) AS g2 FROM
      | (VALUES (1, 'POINT (0 1)', CAST(NULL AS STRING)),
      |         (2, CAST(NULL AS STRING), 'LINESTRING (0 0, 0 2)'),
      |         (3, CAST(NULL AS STRING), CAST(NULL AS STRING)),
      |         (4, 'POINT (0 2)', 'LINESTRING (0 0, 0 2)')) AS v(id, wkt, wkt2))
      |SELECT id,
      | s2_astext(g) AS txt,
      | s2_format(g, 6) IS NULL AS fmt_null,
      | s2_aswkb(g) IS NULL AS wkb_null,
      | s2_prepare(g) IS NULL AS prep_null,
      | s2_isempty(g) AS empt,
      | s2_is_valid(g) AS valid,
      | s2_is_valid_reason(g) AS reason,
      | CAST(round(s2_area(g), 0) AS BIGINT) AS area_r,
      | CAST(round(s2_perimeter(g), 0) AS BIGINT) AS perim_r,
      | CAST(round(s2_length(g), 0) AS BIGINT) AS len_r,
      | CAST(round(s2_x(g), 0) AS BIGINT) AS gx,
      | CAST(round(s2_y(g), 0) AS BIGINT) AS gy,
      | s2_dimension(g) AS dim,
      | s2_num_points(g) AS np,
      | s2_distance(g, g2) IS NULL AS dist_null,
      | s2_max_distance(g, g2) IS NULL AS maxdist_null,
      | s2_dwithin(g, g2, 1000.0) AS dw,
      | s2_intersects(g, g2) AS inter,
      | s2_contains(g, g2) AS cont,
      | s2_equals(g, g) AS eq_self,
      | s2_mayintersect(g, g2) AS mayi,
      | s2_astext(s2_intersection(g, g2)) AS inter_txt,
      | s2_astext(s2_difference(g, g2)) AS diff_txt,
      | s2_astext(s2_union(g, g2)) AS union_txt,
      | s2_covering(g) IS NULL AS cov_null,
      | s2_covering_fixed_level(g, 4) IS NULL AS covf_null,
      | s2_cellfromwkb(s2_aswkb(g)) IS NULL AS cfw_null,
      | s2_cell_from_token(CAST(NULL AS STRING)) IS NULL AS tok_null,
      | s2_geog_to_cellcenter(g) IS NULL AS gcc_null,
      | s2_cellunion_normalize(CAST(NULL AS ARRAY<BIGINT>)) IS NULL AS norm_null
      |FROM t ORDER BY id""".stripMargin)
  private val oNullsGolden =
    """SELECT * FROM (VALUES
      | (1, 'POINT (0 1)', false, false, false, false, true, '', 0, 0, 0, 0, 1, 0, 1,
      |  true, true, CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN),
      |  true, CAST(NULL AS BOOLEAN), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
      |  CAST(NULL AS VARCHAR), false, false, false, true, false, true),
      | (2, CAST(NULL AS VARCHAR), true, true, true, CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN),
      |  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT),
      |  true, true, CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN),
      |  CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
      |  CAST(NULL AS VARCHAR), true, true, true, true, true, true),
      | (3, CAST(NULL AS VARCHAR), true, true, true, CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN),
      |  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT),
      |  true, true, CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN),
      |  CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
      |  CAST(NULL AS VARCHAR), true, true, true, true, true, true),
      | (4, 'POINT (0 2)', false, false, false, false, true, '', 0, 0, 0, 0, 2, 0, 1,
      |  false, false, true, true, false, true, true, 'POINT (0 2)',
      |  'GEOMETRYCOLLECTION EMPTY', 'LINESTRING (0 0, 0 2)', false, false, false, true,
      |  false, true)
      |) t(id, txt, fmt_null, wkb_null, prep_null, empt, valid, reason, area_r, perim_r,
      |    len_r, gx, gy, dim, np, dist_null, maxdist_null, dw, inter, cont, eq_self, mayi,
      |    inter_txt, diff_txt, union_txt, cov_null, covf_null, cfw_null, tok_null,
      |    gcc_null, norm_null)
      |ORDER BY id""".stripMargin

  /** Reference error parity (FIXTURES §5): constant-argument contracts and
    * per-cell cast validation raise the reference's exact messages
    * (src/s2_functions_io.cpp:166-169, src/s2_bounds.cpp:91-99,
    * src/s2_cell_ops.cpp:113-117). Error text checked as data. */
  private val qErrorsGolden: Q = (s, dir) => {
    prep(s, dir)
    import s.implicits._
    def msgOf(sql: String): String =
      try { s.sql(sql).collect(); "NO ERROR" }
      catch {
        case e: Throwable =>
          val sb = new StringBuilder
          var t: Throwable = e
          while (t != null) { sb.append(Option(t.getMessage).getOrElse("")).append(" | "); t = t.getCause }
          sb.toString
      }
    val cases = Seq(
      (1, "SELECT s2_format(s2_geogfromtext('POINT (0 1)'), CAST(id AS INT)) FROM range(3)",
        "Can't use s2_format() with non-constant precision"),
      (2, "SELECT s2_covering_fixed_level(s2_geogfromtext('POINT (0 1)'), CAST(id AS INT)) FROM range(3)",
        "s2_covering_fixed_level(): level must be a constant"),
      (3, "SELECT s2_covering_fixed_level(s2_geogfromtext('POINT (0 1)'), 31)",
        "s2_covering_fixed_level(): level must be between 0 and 30"),
      (4, "SELECT s2_covering_fixed_level(s2_geogfromtext('POINT (0 1)'), -1)",
        "s2_covering_fixed_level(): level must be between 0 and 30"),
      (5, "SELECT s2_cellunion_from_list(array(CAST(0 AS BIGINT)))",
        "Cell not valid <Invalid: 0000000000000000>"),
      (6, "SELECT s2_geog_to_cellcenter(s2_geogfromtext('LINESTRING (0 0, 1 1)'))",
        "Can't convert geography that is not empty nor a single point to S2_CELL_CENTER"),
      (7, "SELECT s2_cellfromwkb(s2_aswkb(s2_geogfromtext('MULTIPOINT ((-64 45), (0 0))')))",
        "Can't parse WKB with more than one point to S2_CELL_CENTER"),
      (8, "SELECT s2_cellfromwkb(s2_aswkb(s2_geogfromtext('LINESTRING (-64 45, 0 0)')))",
        "Can't parse WKB with non-point input to S2_CELL_CENTER"),
      // data-lookup misses pin the reference text exactly (data.test:8-11)
      (9, "SELECT s2_data_city('Halifax')", "No entry for item 'Halifax'"),
      (10, "SELECT s2_data_country('Atlantis')", "No entry for item 'Atlantis'"),
      // WKT/WKB parse + validation errors (engine-deterministic texts; the
      // reference's sqllogictests don't pin parser messages)
      (11, "SELECT s2_geogfromtext('FOO (0 1)')", "Unsupported WKT tag: FOO"),
      (12, "SELECT s2_geogfromtext('POINT (0 1) x')", "Trailing characters in WKT"),
      (13, "SELECT s2_geogfromtext('LINESTRING (0 0, 0 0, 1 1)')",
        "Vertices 0 and 1 are identical"),
      (14, "SELECT s2_geogfromwkb(unhex('016300000000'))",
        "Unsupported WKB geometry type: 99"),
      (15, "SELECT s2_covering_fixed_level_with_ring(s2_geogfromtext('POINT (0 1)'), 31, 1)",
        "s2_covering_fixed_level_with_ring(): level must be between 0 and 30"))
    cases.map { case (id, sql, want) => (id, want, msgOf(sql).contains(want)) }
      .toDF("id", "want", "ok").orderBy("id")
  }
  private val oErrorsGolden =
    """SELECT * FROM (VALUES
      | (1, 'Can''t use s2_format() with non-constant precision', true),
      | (2, 's2_covering_fixed_level(): level must be a constant', true),
      | (3, 's2_covering_fixed_level(): level must be between 0 and 30', true),
      | (4, 's2_covering_fixed_level(): level must be between 0 and 30', true),
      | (5, 'Cell not valid <Invalid: 0000000000000000>', true),
      | (6, 'Can''t convert geography that is not empty nor a single point to S2_CELL_CENTER', true),
      | (7, 'Can''t parse WKB with more than one point to S2_CELL_CENTER', true),
      | (8, 'Can''t parse WKB with non-point input to S2_CELL_CENTER', true),
      | (9, 'No entry for item ''Halifax''', true),
      | (10, 'No entry for item ''Atlantis''', true),
      | (11, 'Unsupported WKT tag: FOO', true),
      | (12, 'Trailing characters in WKT', true),
      | (13, 'Vertices 0 and 1 are identical', true),
      | (14, 'Unsupported WKB geometry type: 99', true),
      | (15, 's2_covering_fixed_level_with_ring(): level must be between 0 and 30', true)
      |) t(id, want, ok) ORDER BY id""".stripMargin

  private val qAccessorsGolden = sqlQ(
    """SELECT id,
      | CAST(round(s2_area(s2_geogfromtext(wkt)), 0) AS BIGINT) AS area_r,
      | CAST(round(s2_perimeter(s2_geogfromtext(wkt)), 0) AS BIGINT) AS perim_r,
      | CAST(round(s2_length(s2_geogfromtext(wkt)), 0) AS BIGINT) AS len_r,
      | s2_dimension(s2_geogfromtext(wkt)) AS dim,
      | s2_num_points(s2_geogfromtext(wkt)) AS np,
      | s2_isempty(s2_geogfromtext(wkt)) AS empty
      |FROM (VALUES
      | (1, 'POINT EMPTY'), (2, 'POINT (0 1)'), (3, 'LINESTRING (0 1, 2 3)'),
      | (4, 'POLYGON ((0 0, 0 1, 1 0, 0 0))'),
      | (5, 'GEOMETRYCOLLECTION (POINT (0 1), LINESTRING (0 0, 1 1))'),
      | (6, 'GEOMETRYCOLLECTION EMPTY')) AS t(id, wkt) ORDER BY id""".stripMargin)
  private val oAccessorsGolden =
    """SELECT * FROM (VALUES
      | (1, 0, 0, 0, 0, 0, true),
      | (2, 0, 0, 0, 0, 1, false),
      | (3, 0, 0, 314403, 1, 2, false),
      | (4, 6182489131, 379640, 0, 2, 3, false),
      | (5, 0, 0, 157250, 1, 3, false),
      | (6, 0, 0, 0, -1, 0, true))
      | t(id, area_r, perim_r, len_r, dim, np, empty) ORDER BY id""".stripMargin

  private val qXyGolden = sqlQ(
    """SELECT CAST(round(s2_x(s2_geogfromtext('POINT (-64 45)')), 0) AS BIGINT) AS x_r,
      | CAST(round(s2_y(s2_geogfromtext('POINT (-64 45)')), 0) AS BIGINT) AS y_r,
      | isnan(s2_x(s2_geogfromtext('POINT EMPTY'))) AS x_empty_nan,
      | isnan(s2_x(s2_geogfromtext('LINESTRING (0 1, 1 2)'))) AS x_line_nan,
      | CAST(round(s2_x(s2_cellcenter_to_geog(s2_cellfromlonlat(-64.0, 45.0))), 0) AS BIGINT) AS cc_x_r,
      | CAST(round(s2_y(s2_cellcenter_to_geog(s2_cellfromlonlat(-64.0, 45.0))), 0) AS BIGINT) AS cc_y_r""".stripMargin)
  private val oXyGolden =
    "SELECT -64 AS x_r, 45 AS y_r, true AS x_empty_nan, true AS x_line_nan, -64 AS cc_x_r, 45 AS cc_y_r"

  private val qPredicatesGolden = sqlQ(
    """SELECT
      | s2_intersects(s2_data_city('Vancouver'), s2_data_country('Canada')) AS van_can,
      | s2_mayintersect(s2_data_city('Chicago'), s2_data_country('Canada')) AS chi_may,
      | s2_intersects(s2_data_city('Chicago'), s2_data_country('Canada')) AS chi_can,
      | s2_contains(s2_data_city('Toronto'), s2_data_country('Canada')) AS tor_contains_can,
      | s2_contains(s2_data_country('Canada'), s2_data_city('Toronto')) AS can_contains_tor,
      | s2_equals(s2_data_country('Canada'), s2_data_country('Canada')) AS can_eq,
      | s2_mayintersect(s2_geogfromtext('POINT (-64 45)'), s2_geogfromtext('POINT (-64 46)')) AS may_far,
      | s2_mayintersect(s2_geogfromtext('POINT (-64 45)'), s2_geogfromtext('POINT (-64 45)')) AS may_same,
      | s2_mayintersect(s2_geogfromtext('POINT (-64 45)'), s2_geogfromtext('POINT EMPTY')) AS may_empty,
      | s2_intersects(s2_geogfromtext('POINT EMPTY'), s2_data_city('Toronto')) AS int_empty,
      | s2_equals(s2_geogfromtext('POINT EMPTY'), s2_geogfromtext('POINT EMPTY')) AS eq_empty,
      | s2_dwithin(s2_data_city('Vancouver'), s2_data_city('Toronto'), 3000000.0) AS dw3m,
      | s2_dwithin(s2_data_city('Vancouver'), s2_data_city('Toronto'), 4000000.0) AS dw4m,
      | s2_dwithin(s2_cellcenter_to_geog(s2_geog_to_cellcenter(s2_data_city('Vancouver'))),
      |            s2_cellcenter_to_geog(s2_geog_to_cellcenter(s2_data_city('Toronto'))), 3000000.0) AS dw3m_cc,
      | s2_dwithin(s2_cellcenter_to_geog(s2_geog_to_cellcenter(s2_data_city('Vancouver'))),
      |            s2_cellcenter_to_geog(s2_geog_to_cellcenter(s2_data_city('Toronto'))), 4000000.0) AS dw4m_cc,
      | s2_dwithin(s2_geogfromtext('POINT EMPTY'), s2_data_city('Toronto'), CAST('Infinity' AS DOUBLE)) AS dw_empty,
      | s2_contains(s2_geogfromtext('LINESTRING (0 0, 0 10)'), s2_geogfromtext('LINESTRING (0 2, 0 8)')) AS line_sub,
      | s2_contains(s2_geogfromtext('MULTILINESTRING ((0 0, 0 4), (0 6, 0 10))'), s2_geogfromtext('LINESTRING (0 2, 0 8)')) AS line_gap,
      | s2_equals(s2_geogfromtext('LINESTRING (0 0, 0 10)'), s2_geogfromtext('LINESTRING (0 0, 0 5, 0 10)')) AS line_eq_dense,
      | s2_intersects(s2_geogfromtext('LINESTRING (0 0, 0 10)'), s2_geogfromtext('LINESTRING (0 2, 0 8)')) AS line_overlap_int""".stripMargin)
  private val oPredicatesGolden =
    """SELECT true AS van_can, true AS chi_may, false AS chi_can, false AS tor_contains_can,
      | true AS can_contains_tor, true AS can_eq, false AS may_far, true AS may_same,
      | false AS may_empty, false AS int_empty, false AS eq_empty,
      | false AS dw3m, true AS dw4m, false AS dw3m_cc, true AS dw4m_cc, false AS dw_empty,
      | true AS line_sub, false AS line_gap, true AS line_eq_dense, true AS line_overlap_int""".stripMargin

  private val qDistanceGolden = sqlQ(
    """SELECT
      | CAST(round(s2_distance(s2_data_city('Vancouver'), s2_data_city('Toronto')), 0) AS BIGINT) AS d_r,
      | CAST(round(s2_distance(s2_cellcenter_to_geog(s2_geog_to_cellcenter(s2_data_city('Vancouver'))),
      |   s2_cellcenter_to_geog(s2_geog_to_cellcenter(s2_data_city('Toronto')))), 0) AS BIGINT) AS d_cc_r,
      | CAST(s2_distance(s2_geogfromtext('POINT EMPTY'), s2_data_city('Toronto')) = CAST('Infinity' AS DOUBLE) AS BOOLEAN) AS d_empty_inf,
      | CAST(round(s2_max_distance(s2_cellcenter_to_geog(s2_geog_to_cellcenter(s2_data_city('Vancouver'))),
      |   s2_data_city('Toronto')), 0) AS BIGINT) AS dmax_r,
      | s2_max_distance(s2_data_city('Vancouver'), s2_data_country('Fiji')) >
      |   s2_distance(s2_data_city('Vancouver'), s2_data_country('Fiji')) AS max_gt_min""".stripMargin)
  private val oDistanceGolden =
    """SELECT 3354018 AS d_r, 3354018 AS d_cc_r, true AS d_empty_inf,
      | 3354018 AS dmax_r, true AS max_gt_min""".stripMargin

  private val qCellsGolden = sqlQ(
    """SELECT
      | s2_cell_debug(s2_cellfromlonlat(-64.0, 45.0)) AS c1,
      | s2_cell_token(s2_cellfromlonlat(-64.0, 45.0)) AS tok,
      | s2_cell_debug(s2_cell_from_token('4b59a0cd83b5de49')) AS from_tok,
      | s2_cell_debug(s2_cell_from_token('foofy')) AS bad_tok,
      | s2_cell_level(s2_cellfromlonlat(-64.0, 45.0)) AS lvl_leaf,
      | s2_cell_level(s2_cell_from_debug('5/33120')) AS lvl5,
      | s2_cell_level(s2_cell_from_debug('not valid')) AS lvl_bad,
      | s2_cell_debug(s2_cellfromlonlat(CAST('NaN' AS DOUBLE), CAST('NaN' AS DOUBLE))) AS nan_cell,
      | s2_cell_debug(s2_cell_parent(s2_cellfromlonlat(-64.0, 45.0), 0)) AS par0,
      | s2_cell_debug(s2_cell_parent(s2_cellfromlonlat(-64.0, 45.0), -30)) AS par_neg,
      | s2_cell_debug(s2_cell_parent(s2_cell_from_debug('2/'), 1)) AS par_above,
      | s2_cell_debug(s2_cell_child(s2_cell_from_debug('2/'), 0)) AS child0,
      | s2_cell_debug(s2_cell_child(s2_cell_from_debug('2/'), -1)) AS child_bad,
      | s2_cell_debug(s2_cell_edge_neighbor(s2_cell_from_debug('2/'), 0)) AS nbr0,
      | s2_cell_debug(s2_cell_edge_neighbor(s2_cell_from_debug('2/'), -1)) AS nbr_bad,
      | s2_cell_debug(s2_cell_range_min(s2_cell_from_debug('2/'))) AS rmin,
      | s2_cell_debug(s2_cell_range_max(s2_cell_from_debug('2/'))) AS rmax,
      | s2_cell_debug(s2_cell_range_min(s2_cell_from_debug('foofy'))) AS rmin_bad,
      | s2_cell_contains(s2_cell_from_debug('2/'), s2_cell_from_debug('2/0')) AS cont1,
      | s2_cell_contains(s2_cell_from_debug('2/0'), s2_cell_from_debug('2/')) AS cont2,
      | s2_cell_contains(s2_cell_from_debug('invalid'), s2_cell_from_debug('2/')) AS cont_bad,
      | s2_cell_intersects(s2_cell_from_debug('2/'), s2_cell_from_debug('2/0')) AS int1,
      | s2_cell_intersects(s2_cell_from_debug('2/'), s2_cell_from_debug('3/')) AS int2,
      | s2_cell_intersects(s2_cell_from_debug('2/'), s2_cell_from_debug('invalid')) AS int_bad""".stripMargin)
  private val oCellsGolden =
    """SELECT '2/112230310012123001312232330210' AS c1, '4b59a0cd83b5de49' AS tok,
      | '2/112230310012123001312232330210' AS from_tok,
      | 'Invalid: 0000000000000000' AS bad_tok, 30 AS lvl_leaf, 5 AS lvl5, -1 AS lvl_bad,
      | 'Invalid: ffffffffffffffff' AS nan_cell,
      | '2/' AS par0, '2/' AS par_neg, 'Invalid: ffffffffffffffff' AS par_above,
      | '2/0' AS child0, 'Invalid: ffffffffffffffff' AS child_bad,
      | '1/' AS nbr0, 'Invalid: ffffffffffffffff' AS nbr_bad,
      | '2/000000000000000000000000000000' AS rmin, '2/333333333333333333333333333333' AS rmax,
      | 'Invalid: ffffffffffffffff' AS rmin_bad,
      | true AS cont1, false AS cont2, false AS cont_bad,
      | true AS int1, false AS int2, false AS int_bad""".stripMargin

  private val qCellCastsGolden = sqlQ(
    """SELECT
      | s2_format(s2_cellcenter_to_geog(s2_cellfromlonlat(-64.0, 45.0)), 6) AS cc_geog,
      | s2_cell_debug(s2_geog_to_cellcenter(s2_geogfromtext('POINT (-64 45)'))) AS geog_cc,
      | s2_format(s2_cell_to_geog(s2_cell_from_debug('2/0')), 6) AS cell_poly,
      | s2_format(s2_cell_to_geog(s2_cell_from_debug('2/1122303')), 6) AS cell_poly7,
      | s2_format(s2_cellunion_to_geog(array(s2_cell_from_debug('2/0'))), 6) AS union_poly,
      | s2_cell_debug(s2_cellfromwkb(s2_aswkb(s2_geogfromtext('POINT (-64 45)')))) AS wkb_cell,
      | s2_cell_debug(s2_cellfromwkb(s2_aswkb(s2_geogfromtext('GEOMETRYCOLLECTION (POLYGON EMPTY, POINT (-64 45))')))) AS wkb_cell_gc,
      | s2_cell_debug(s2_cellfromwkb(s2_aswkb(s2_geogfromtext('POINT EMPTY')))) AS wkb_cell_empty,
      | s2_cell_debug(s2_arbitrarycellfromwkb(s2_aswkb(s2_geogfromtext('LINESTRING (-64 45, 0 0)')))) AS arb_cell,
      | s2_cell_debug(s2_arbitrarycellfromwkb(s2_aswkb(s2_geogfromtext('GEOMETRYCOLLECTION (POINT EMPTY, LINESTRING EMPTY, POLYGON EMPTY)')))) AS arb_empty,
      | concat_ws(',', transform(s2_cellunion_normalize(array(s2_cell_from_debug('1/'), s2_cell_from_debug('0/'))), c -> s2_cell_debug(c))) AS norm_union,
      | concat_ws(',', transform(s2_cellunion_from_list(array(
      |   s2_cell_child(s2_cell_from_debug('2/'), 0), s2_cell_child(s2_cell_from_debug('2/'), 1),
      |   s2_cell_child(s2_cell_from_debug('2/'), 2), s2_cell_child(s2_cell_from_debug('2/'), 3))),
      |   c -> s2_cell_debug(c))) AS from_list_merged,
      | s2_format(s2_cell_vertex(s2_cell_from_debug('2/0'), 0), 6) AS vertex0""".stripMargin)
  private val oCellCastsGolden =
    """SELECT 'POINT (-64 45)' AS cc_geog, '2/112230310012123001312232330210' AS geog_cc,
      | 'POLYGON ((45 35.26439, 90 45, 0 90, 0 45, 45 35.26439))' AS cell_poly,
      | 'POLYGON ((-63.470273 44.898834, -64.286611 45.098989, -64.779066 44.581998, -63.973842 44.388923, -63.470273 44.898834))' AS cell_poly7,
      | 'POLYGON ((45 35.26439, 90 45, 0 90, 0 45, 45 35.26439))' AS union_poly,
      | '2/112230310012123001312232330210' AS wkb_cell,
      | '2/112230310012123001312232330210' AS wkb_cell_gc,
      | 'Invalid: ffffffffffffffff' AS wkb_cell_empty,
      | '2/112230310012123001312232330210' AS arb_cell,
      | 'Invalid: ffffffffffffffff' AS arb_empty,
      | '0/,1/' AS norm_union,
      | '2/' AS from_list_merged,
      | 'POINT (45 35.26439)' AS vertex0""".stripMargin

  private val qOverlayGolden = sqlQ(
    """WITH sq AS (SELECT
      |  s2_geogfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))') AS a,
      |  s2_geogfromtext('POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))') AS b),
      |mp AS (SELECT
      |  s2_geogfromtext('MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), ((30 30, 40 30, 40 40, 30 40, 30 30)))') AS a,
      |  s2_geogfromtext('MULTIPOLYGON (((5 5, 15 5, 15 15, 5 15, 5 5)), ((35 35, 45 35, 45 45, 35 45, 35 35)))') AS b),
      |hp AS (SELECT
      |  s2_geogfromtext('POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (5 5, 15 5, 15 15, 5 15, 5 5))') AS a,
      |  s2_geogfromtext('POLYGON ((10 10, 30 10, 30 30, 10 30, 10 10))') AS b)
      |SELECT
      | s2_format(s2_intersection(s2_geogfromtext('POINT (-64 45)'), s2_geogfromtext('POINT (-64 46)')), 6) AS int_disjoint,
      | s2_format(s2_intersection(s2_geogfromtext('POINT (-64 45)'), s2_geogfromtext('POINT EMPTY')), 6) AS int_rhs_empty,
      | s2_format(s2_intersection(s2_geogfromtext('POINT EMPTY'), s2_geogfromtext('POINT (-64 45)')), 6) AS int_lhs_empty,
      | s2_format(s2_intersection(s2_geogfromtext('POINT (-64 45)'), s2_geogfromtext('POINT (-64 45)')), 6) AS int_same,
      | s2_format(s2_difference(s2_geogfromtext('POINT (-64 45)'), s2_geogfromtext('POINT (-64 46)')), 6) AS diff_disjoint,
      | s2_format(s2_difference(s2_geogfromtext('POINT (-64 45)'), s2_geogfromtext('POINT EMPTY')), 6) AS diff_rhs_empty,
      | s2_format(s2_difference(s2_geogfromtext('POINT EMPTY'), s2_geogfromtext('POINT (-64 45)')), 6) AS diff_lhs_empty,
      | s2_format(s2_difference(s2_geogfromtext('POINT (-64 45)'), s2_geogfromtext('POINT (-64 45)')), 6) AS diff_same,
      | s2_format(s2_union(s2_geogfromtext('POINT (-64 45)'), s2_geogfromtext('POINT EMPTY')), 6) AS un_rhs_empty,
      | s2_format(s2_union(s2_geogfromtext('POINT EMPTY'), s2_geogfromtext('POINT (-64 45)')), 6) AS un_lhs_empty,
      | s2_format(s2_union(s2_geogfromtext('POINT (-64 45)'), s2_geogfromtext('POINT (-64 46)')), 6) AS un_two,
      | (SELECT abs(s2_area(s2_intersection(a, b)) + s2_area(s2_difference(a, b)) - s2_area(a)) / s2_area(a) < 1e-9 FROM sq) AS area_add,
      | (SELECT abs(s2_area(s2_union(a, b)) - (s2_area(a) + s2_area(b) - s2_area(s2_intersection(a, b)))) / s2_area(a) < 1e-9 FROM sq) AS area_un,
      | (SELECT s2_contains(s2_intersection(a, b), s2_geogfromtext('POINT (7 7)')) FROM sq) AS int_has_77,
      | (SELECT NOT s2_contains(s2_intersection(a, b), s2_geogfromtext('POINT (3 3)')) FROM sq) AS int_not_33,
      | (SELECT s2_contains(s2_difference(a, b), s2_geogfromtext('POINT (3 3)')) FROM sq) AS diff_has_33,
      | (SELECT NOT s2_contains(s2_difference(a, b), s2_geogfromtext('POINT (7 7)')) FROM sq) AS diff_not_77,
      | (SELECT s2_contains(s2_union(a, b), s2_geogfromtext('POINT (12 12)')) AND
      |         s2_contains(s2_union(a, b), s2_geogfromtext('POINT (3 3)')) FROM sq) AS un_has_both,
      | (SELECT abs(s2_area(s2_union(a, b)) - (s2_area(a) + s2_area(b) - s2_area(s2_intersection(a, b)))) / s2_area(a) < 1e-9 FROM mp) AS mp_un_ie,
      | (SELECT s2_contains(s2_union(a, b), s2_geogfromtext('POINT (14 14)')) AND
      |         s2_contains(s2_union(a, b), s2_geogfromtext('POINT (38 38)')) FROM mp) AS mp_un_has,
      | (SELECT NOT s2_contains(s2_union(a, b), s2_geogfromtext('POINT (20 20)')) FROM mp) AS mp_un_not,
      | (SELECT abs(s2_area(s2_union(a, b)) - (s2_area(a) + s2_area(b) - s2_area(s2_intersection(a, b)))) / s2_area(a) < 1e-9 FROM hp) AS hp_un_ie,
      | (SELECT s2_contains(s2_union(a, b), s2_geogfromtext('POINT (12 12)')) FROM hp) AS hp_un_fill,
      | (SELECT NOT s2_contains(s2_union(a, b), s2_geogfromtext('POINT (7 7)')) FROM hp) AS hp_un_hole,
      | (SELECT s2_format(s2_union(a, b), 6) FROM sq) AS un_sq_wkt,
      | (SELECT s2_format(s2_union(a, b), 6) FROM mp) AS un_mp_wkt,
      | (SELECT s2_format(s2_union(a, b), 6) FROM hp) AS un_hp_wkt,
      | s2_format(s2_union(
      |   s2_geogfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 3 7, 7 7, 7 3, 3 3))'),
      |   s2_geogfromtext('POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))')), 6) AS un_hf_wkt""".stripMargin)
  private val oOverlayGolden =
    """SELECT 'GEOMETRYCOLLECTION EMPTY' AS int_disjoint, 'POINT (-64 45)' AS int_rhs_empty,
      | 'POINT (-64 45)' AS int_lhs_empty, 'POINT (-64 45)' AS int_same,
      | 'POINT (-64 45)' AS diff_disjoint, 'POINT (-64 45)' AS diff_rhs_empty,
      | 'GEOMETRYCOLLECTION EMPTY' AS diff_lhs_empty, 'GEOMETRYCOLLECTION EMPTY' AS diff_same,
      | 'POINT (-64 45)' AS un_rhs_empty, 'POINT (-64 45)' AS un_lhs_empty,
      | 'MULTIPOINT ((-64 45), (-64 46))' AS un_two,
      | true AS area_add, true AS area_un, true AS int_has_77, true AS int_not_33,
      | true AS diff_has_33, true AS diff_not_77, true AS un_has_both,
      | true AS mp_un_ie, true AS mp_un_has, true AS mp_un_not,
      | true AS hp_un_ie, true AS hp_un_fill, true AS hp_un_hole,
      | 'POLYGON ((15 15, 5 15, 5 10.037423, 0 10, 0 0, 10 0, 10 5.019002, 15 5, 15 15))' AS un_sq_wkt,
      | 'MULTIPOLYGON (((45 45, 35 45, 35 40.107598, 30 40, 30 30, 40 30, 40 35.102702, 45 35, 45 45)), ((15 15, 5 15, 5 10.037423, 0 10, 0 0, 10 0, 10 5.019002, 15 5, 15 15)))' AS un_mp_wkt,
      | 'POLYGON ((30 30, 10 30, 10 20.283559, 0 20, 0 0, 20 0, 20 10.151082, 30 10, 30 30), (15 10.113253, 10 10, 10 15.054701, 5 15, 5 5, 15 5, 15 10.113253))' AS un_hp_wkt,
      | 'MULTIPOLYGON (((10 10, 0 10, 0 0, 10 0, 10 10), (7 7, 3 7, 3 3, 7 3, 7 7)), ((6 6, 4 6, 4 4, 6 4, 6 6)))' AS un_hf_wkt""".stripMargin

  // Degenerate-input overlay golden (VERDICT r7 item 1): B re-digitizes
  // A's right border with sub-snap-tolerance drift (1e-13..5e-14 deg ~
  // 1e-15 rad) and carries a midpoint vertex ulp-near the interior of A's
  // edge — the exact class the legacy clipper corrupted. The snap-aligned
  // planar overlay must dissolve the border cleanly: area identities,
  // containment probes, and a pinned canonical union WKT.
  private val qOverlaySnap = sqlQ(
    """WITH d AS (SELECT
      |  s2_geogfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))') AS a,
      |  s2_geogfromtext('POLYGON ((10.0000000000001 0, 20 0, 20 10, 9.9999999999999 10, 10.00000000000005 5, 10.0000000000001 0))') AS b)
      |SELECT
      | (SELECT abs(s2_area(s2_union(a, b)) - (s2_area(a) + s2_area(b) - s2_area(s2_intersection(a, b)))) / (s2_area(a) + s2_area(b)) < 1e-6 FROM d) AS snap_un_ie,
      | (SELECT abs(s2_area(s2_intersection(a, b)) + s2_area(s2_difference(a, b)) - s2_area(a)) / s2_area(a) < 1e-6 FROM d) AS snap_area_add,
      | (SELECT abs(s2_area(s2_intersection(a, b)) + s2_area(s2_difference(b, a)) - s2_area(b)) / s2_area(b) < 1e-6 FROM d) AS snap_area_add_b,
      | (SELECT s2_contains(s2_union(a, b), s2_geogfromtext('POINT (5 5)')) AND
      |         s2_contains(s2_union(a, b), s2_geogfromtext('POINT (15 5)')) FROM d) AS snap_un_has,
      | (SELECT NOT s2_contains(s2_union(a, b), s2_geogfromtext('POINT (25 5)')) FROM d) AS snap_un_not,
      | (SELECT s2_contains(s2_difference(a, b), s2_geogfromtext('POINT (5 5)')) AND
      |         NOT s2_contains(s2_difference(a, b), s2_geogfromtext('POINT (15 5)')) FROM d) AS snap_diff_ok,
      | (SELECT s2_format(s2_union(a, b), 6) FROM d) AS snap_un_wkt""".stripMargin)
  private val oOverlaySnap =
    """SELECT true AS snap_un_ie, true AS snap_area_add, true AS snap_area_add_b,
      | true AS snap_un_has, true AS snap_un_not, true AS snap_diff_ok,
      | 'POLYGON ((20 10, 10 10, 0 10, 0 0, 10 0, 20 0, 20 10))' AS snap_un_wkt""".stripMargin

  // Degenerate-overlay golden batch (VERDICT r8 items 7+8): T-junction,
  // collinear redundant vertex, corner-touch, drift-digitized T, and the
  // MIXED-DIMENSION closed-model cases — point/line exactly on a polygon
  // boundary (reference semantics: S2BooleanOperation with CLOSED polygon
  // AND polyline models, src/include/global_options.hpp:12-13, dispatched
  // from src/s2_binary_index_ops.cpp:157-448). Every value is a pinned
  // canonical output, so the snap engine's robustness claims are
  // oracle-pinned, not just invariant-pinned (the invariants run in
  // SnapOverlaySpec over the OverlayFuzz classes, mixed dimension included).
  private val qOverlayDegen = sqlQ(
    """WITH sq AS (SELECT s2_geogfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))') AS a),
      |tj AS (SELECT a, s2_geogfromtext('POLYGON ((10 2, 18 2, 18 8, 10 8, 10 2))') AS b FROM sq),
      |co AS (SELECT a, s2_geogfromtext('POLYGON ((0 0, 10 0, 10 5, 10 10, 0 10, 0 0))') AS b FROM sq),
      |cn AS (SELECT a, s2_geogfromtext('POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))') AS b FROM sq),
      |td AS (SELECT a, s2_geogfromtext('POLYGON ((10.0000000000001 2, 18 2, 18 8, 9.9999999999999 8, 10.0000000000001 2))') AS b FROM sq)
      |SELECT
      | (SELECT s2_format(s2_union(a, b), 6) FROM tj) AS tj_un_wkt,
      | (SELECT s2_format(s2_intersection(a, b), 6) FROM tj) AS tj_int,
      | (SELECT s2_format(s2_difference(a, b), 6) FROM tj) AS tj_diff_wkt,
      | (SELECT s2_format(s2_union(a, b), 6) FROM co) AS collin_un,
      | (SELECT s2_format(s2_difference(a, b), 6) FROM co) AS collin_diff,
      | (SELECT s2_format(s2_union(a, b), 6) FROM cn) AS corner_un,
      | (SELECT s2_format(s2_union(a, b), 6) FROM td) AS tdrift_un_wkt,
      | (SELECT abs(s2_area(s2_union(a, b)) - (s2_area(a) + s2_area(b) - s2_area(s2_intersection(a, b)))) / (s2_area(a) + s2_area(b)) < 1e-6 FROM td) AS tdrift_ie,
      | (SELECT abs(s2_area(s2_intersection(a, b)) + s2_area(s2_difference(a, b)) - s2_area(a)) / s2_area(a) < 1e-6 FROM td) AS tdrift_part,
      | (SELECT s2_format(s2_intersection(s2_geogfromtext('POINT (10 5)'), a), 6) FROM sq) AS pt_edge_int,
      | (SELECT s2_format(s2_difference(s2_geogfromtext('POINT (10 5)'), a), 6) FROM sq) AS pt_edge_diff,
      | (SELECT s2_format(s2_union(s2_geogfromtext('POINT (10 5)'), a), 6) FROM sq) AS pt_edge_un,
      | (SELECT s2_format(s2_intersection(s2_geogfromtext('LINESTRING (10 2, 10 8)'), a), 6) FROM sq) AS line_edge_int,
      | (SELECT s2_format(s2_difference(s2_geogfromtext('LINESTRING (10 2, 10 8)'), a), 6) FROM sq) AS line_edge_diff,
      | (SELECT s2_format(s2_intersection(s2_geogfromtext('LINESTRING (5 5, 10 5, 15 5)'), a), 6) FROM sq) AS line_vertex_int,
      | (SELECT s2_format(s2_difference(s2_geogfromtext('LINESTRING (5 5, 10 5, 15 5)'), a), 6) FROM sq) AS line_vertex_diff""".stripMargin)
  private val oOverlayDegen =
    """SELECT
      | 'POLYGON ((18 8, 10 8, 10 10, 0 10, 0 0, 10 0, 10 2, 18 2, 18 8))' AS tj_un_wkt,
      | 'GEOMETRYCOLLECTION EMPTY' AS tj_int,
      | 'POLYGON ((10 10, 0 10, 0 0, 10 0, 10 2, 10 8, 10 10))' AS tj_diff_wkt,
      | 'POLYGON ((10 10, 0 10, 0 0, 10 0, 10 5, 10 10))' AS collin_un,
      | 'GEOMETRYCOLLECTION EMPTY' AS collin_diff,
      | 'MULTIPOLYGON (((20 20, 10 20, 10 10, 20 10, 20 20)), ((10 10, 0 10, 0 0, 10 0, 10 10)))' AS corner_un,
      | 'POLYGON ((18 8, 10 8, 10 10, 0 10, 0 0, 10 0, 10 2, 18 2, 18 8))' AS tdrift_un_wkt,
      | true AS tdrift_ie, true AS tdrift_part,
      | 'POINT (10 5)' AS pt_edge_int,
      | 'GEOMETRYCOLLECTION EMPTY' AS pt_edge_diff,
      | 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))' AS pt_edge_un,
      | 'LINESTRING (10 2, 10 8)' AS line_edge_int,
      | 'GEOMETRYCOLLECTION EMPTY' AS line_edge_diff,
      | 'LINESTRING (5 5, 10 5)' AS line_vertex_int,
      | 'LINESTRING (10 5, 15 5)' AS line_vertex_diff""".stripMargin

  private val qCoveringGolden = (s: SparkSession, dir: String) => {
    prep(s, dir)
    s.sql(
      """SELECT
        | concat_ws(', ', transform(s2_covering(s2_data_country('Fiji')), c -> s2_cell_debug(c))) AS fiji_cov,
        | concat_ws(', ', transform(s2_covering_fixed_level(s2_data_country('Fiji'), 5), c -> s2_cell_debug(c))) AS fiji_lvl5,
        | concat_ws(', ', transform(s2_covering(s2_cellcenter_to_geog(s2_cellfromlonlat(-64.0, 45.0))), c -> s2_cell_debug(c))) AS cc_cov,
        | concat_ws(', ', transform(s2_covering_fixed_level(s2_cellcenter_to_geog(s2_cellfromlonlat(-64.0, 45.0)), 5), c -> s2_cell_debug(c))) AS cc_lvl5,
        | size(s2_covering(s2_geogfromtext('POINT EMPTY'))) AS empty_cov""".stripMargin)
  }
  private val oCoveringGolden =
    """SELECT '3/13002011, 3/1300232, 3/130030, 3/130031, 3/130033, 3/130100, 3/2032333, 3/20330000000' AS fiji_cov,
      | '3/13002, 3/13003, 3/13010, 3/20323, 3/20330' AS fiji_lvl5,
      | '2/112230310012123001312232330210' AS cc_cov,
      | '2/11223' AS cc_lvl5, 0 AS empty_cov""".stripMargin

  private val qBoundsGolden = (s: SparkSession, dir: String) => {
    prep(s, dir)
    S2Data.cities(s).createOrReplaceTempView("cities_v")
    S2Data.countries(s).createOrReplaceTempView("countries_v")
    // Flat scalar columns (not structs): the driver's pandas hasher cannot sort
    // struct/dict cells, so every box is emitted as 4 rounded doubles.
    def rb(expr: String, name: String) =
      s"round(($expr).xmin, 9) AS ${name}_xmin, round(($expr).ymin, 9) AS ${name}_ymin, " +
        s"round(($expr).xmax, 9) AS ${name}_xmax, round(($expr).ymax, 9) AS ${name}_ymax"
    s.sql("SELECT " + Seq(
      rb("s2_bounds_box(s2_geogfromtext('POINT EMPTY'))", "empty_box"),
      rb("s2_bounds_box(s2_cellcenter_to_geog(s2_cellfromlonlat(-64.0, 45.0)))", "cc_box"),
      rb("s2_bounds_box(s2_geogfromtext('MULTIPOINT (0 1, 2 3)'))", "mp_box"),
      rb("(SELECT s2_bounds_box_agg(geog) FROM cities_v)", "cities_box"),
      rb("(SELECT s2_bounds_box_agg(geog) FROM countries_v)", "countries_box"),
      rb("s2_box_struct(s2_bounds_box(s2_data_country('Germany')))", "germany_box"),
      rb("s2_box(5.989, 47.302, 15.017, 54.983)", "box_ctor"),
      "s2_box_intersects(s2_bounds_box(s2_data_country('Germany')), s2_bounds_box(s2_data_country('France'))) AS de_fr",
      "s2_box_intersects(s2_bounds_box(s2_data_country('Germany')), s2_bounds_box(s2_data_country('Canada'))) AS de_ca",
      rb("s2_box_union(s2_box(0.0, 1.0, 2.0, 3.0), s2_box(4.0, 5.0, 6.0, 7.0))", "u1"),
      rb("s2_box_union(s2_box(179.0, 1.0, 180.0, 3.0), s2_box(-180.0, 5.0, -179.0, 7.0))", "u2"),
      // sparse-vertex arc: the geodesic interior tops out at atan(sqrt 2) deg,
      // poleward of both vertices (RectBounder edge expansion)
      rb("s2_bounds_box(s2_geogfromtext('LINESTRING (-45 45, 45 45)'))", "arc_box"),
      "s2_format(s2_geogfromwkb(s2_box_wkb(s2_bounds_box(s2_data_country('Germany')))), 4) AS de_wkb",
      "s2_format(s2_geogfromwkb(s2_box_wkb(s2_bounds_box(s2_data_country('Fiji')))), 4) AS fj_wkb"
    ).mkString(", "))
  }
  private val oBoundsGolden = {
    def b(x0: String, y0: String, x1: String, y1: String, name: String) =
      s"round(CAST($x0 AS DOUBLE), 9) AS ${name}_xmin, round(CAST($y0 AS DOUBLE), 9) AS ${name}_ymin, " +
        s"round(CAST($x1 AS DOUBLE), 9) AS ${name}_xmax, round(CAST($y1 AS DOUBLE), 9) AS ${name}_ymax"
    Seq(
      b("180.0", "57.29577951308232", "-180.0", "0.0", "empty_box"),
      b("-63.99999997805", "45.0000000116166", "-63.99999997805", "45.0000000116166", "cc_box"),
      b("0.0", "1.0", "1.9999999999999996", "3.0000000000000004", "mp_box"),
      b("-123.12359", "-41.29998789999999", "-171.738642", "64.1500236", "cities_box"),
      b("-180.0", "-90.0", "180.0", "83.64513000000002", "countries_box"),
      b("5.988658", "47.30248799999997", "15.016996000000002", "54.983104000000026", "germany_box"),
      b("5.989", "47.302", "15.017", "54.983", "box_ctor"),
      "true AS de_fr", "false AS de_ca",
      b("0.0", "1.0", "6.000000000000001", "7.0", "u1"),
      b("179.0", "1.0", "-179.0", "7.0", "u2"),
      b("-44.99999999999999", "45.0", "45.0", "54.735610317245346", "arc_box"),
      "'POLYGON ((5.9887 47.3025, 15.017 47.3025, 15.017 54.9831, 5.9887 54.9831, 5.9887 47.3025))' AS de_wkb",
      "'MULTIPOLYGON (((177.285 -18.288, 180 -18.288, 180 -16.0209, 177.285 -16.0209, 177.285 -18.288)), ((-180 -18.288, -179.7933 -18.288, -179.7933 -16.0209, -180 -16.0209, -180 -18.288)))' AS fj_wkb"
    ).mkString("SELECT ", ", ", "")
  }

  private val qDataGolden = (s: SparkSession, dir: String) => {
    prep(s, dir)
    val cities = S2Data.cities(s)
    val countries = S2Data.countries(s)
    cities.createOrReplaceTempView("cities_v")
    countries.createOrReplaceTempView("countries_v")
    s.sql(
      """SELECT
        | (SELECT count(*) FROM cities_v) AS n_cities,
        | (SELECT count(*) FROM countries_v) AS n_countries,
        | s2_format(s2_data_city('Vancouver'), 6) AS vancouver,
        | s2_dimension(s2_data_country('Canada')) AS canada_dim,
        | (SELECT count(DISTINCT continent) FROM countries_v) AS n_continents,
        | (SELECT count(*) FROM s2_dependencies) AS n_deps,
        | (SELECT CAST(sum(CAST(s2_intersects(s2_cell_to_geog(s2_cellfromlonlat(s2_x(geog), s2_y(geog))), geog) AS INT)) AS BIGINT) FROM cities_v) AS cities_cell_inv,
        | (SELECT CAST(sum(CAST(s2_intersects(s2_cell_to_geog(s2_cell_parent(s2_arbitrarycellfromwkb(s2_aswkb(geog)), 10)), geog) AS INT)) AS BIGINT) FROM countries_v) AS countries_cell_inv,
        | (SELECT CAST(sum(CAST(s2_intersects(s2_cell_to_geog(s2_cellfromwkb(s2_aswkb(geog))), geog) AS INT)) AS BIGINT) FROM cities_v) AS cities_wkb_inv""".stripMargin)
  }
  private val oDataGolden =
    """SELECT 243 AS n_cities, 177 AS n_countries, 'POINT (-123.12359 49.275362)' AS vancouver,
      | 2 AS canada_dim, 8 AS n_continents, 5 AS n_deps, 243 AS cities_cell_inv, 177 AS countries_cell_inv,
      | 243 AS cities_wkb_inv""".stripMargin

  private val qFlagshipJoin = dfQ { s =>
    import s.implicits._
    val countries = S2Data.countries(s).select($"name".as("country"), $"geog".as("cgeog"))
    val cities = S2Data.cities(s).select($"name".as("city"), $"geog")
    val joined = S2Join.intersects(countries, "cgeog", cities, "geog", level = 4)
    joined.agg(count(lit(1)).cast("long").as("n"))
  }
  private val oFlagshipJoin = "SELECT 210 AS n"

  private val qFlagshipBroadcast = dfQ { s =>
    import s.implicits._
    val countries = S2Data.countries(s).select($"name".as("country"), $"geog".as("cgeog"))
    val cities = S2Data.cities(s).select($"name".as("city"), $"geog")
    S2Join.broadcastIntersects(countries, "cgeog", cities, "geog")
      .agg(count(lit(1)).cast("long").as("n"))
  }

  // ========================================================= scale queries

  private val qScaleXy = sqlQ(
    """SELECT id, round(s2_x(s2_geogpoint(lon, lat)), 6) AS x, round(s2_y(s2_geogpoint(lon, lat)), 6) AS y
      |FROM pts ORDER BY id""".stripMargin)
  private val oScaleXy =
    s"WITH $oraclePts SELECT id, round(lon, 6) AS x, round(lat, 6) AS y FROM pts ORDER BY id"

  private val qScaleWkt = sqlQ(
    """SELECT id, s2_format(s2_geogfromtext(
      |   concat('POINT (', CAST(lon_i AS STRING), ' ', CAST(lat_i AS STRING), ')')), 6) AS out
      |FROM pts ORDER BY id""".stripMargin)
  private val oScaleWkt =
    s"""WITH $oraclePts
       |SELECT id, 'POINT (' || CAST(lon_i AS VARCHAR) || ' ' || CAST(lat_i AS VARCHAR) || ')' AS out
       |FROM pts ORDER BY id""".stripMargin

  private val qScaleWkb = sqlQ(
    """SELECT id, length(s2_aswkb(s2_geogfromtext(CASE CAST(id % 3 AS INT)
      |  WHEN 0 THEN concat('POINT (', lon_i, ' ', lat_i, ')')
      |  WHEN 1 THEN concat('MULTIPOINT (', lon_i, ' ', lat_i, ', ', lon_i + 1, ' ', lat_i, ')')
      |  ELSE concat('MULTIPOINT (', lon_i, ' ', lat_i, ', ', lon_i + 1, ' ', lat_i, ', ', lon_i + 2, ' ', lat_i, ')')
      |  END))) AS wkb_len
      |FROM pts ORDER BY id""".stripMargin)
  private val oScaleWkb =
    s"""WITH $oraclePts
       |SELECT id, CASE CAST(id % 3 AS INT) WHEN 0 THEN 21 WHEN 1 THEN 51 ELSE 72 END AS wkb_len
       |FROM pts ORDER BY id""".stripMargin

  private val qScaleValidity = sqlQ(
    """SELECT id, s2_is_valid(g) AS valid, s2_is_valid_reason(g) AS reason FROM (
      |  SELECT id, s2_geogfromtext_novalidate(CASE WHEN id % 3 = 0
      |    THEN concat('LINESTRING (', lon_i, ' ', lat_i, ', ', lon_i, ' ', lat_i, ', 0 89)')
      |    ELSE concat('LINESTRING (', lon_i, ' ', lat_i, ', 0 89)') END) AS g
      |  FROM pts) ORDER BY id""".stripMargin)
  private val oScaleValidity =
    s"""WITH $oraclePts
       |SELECT id, id % 3 <> 0 AS valid,
       |  CASE WHEN id % 3 = 0 THEN 'Vertices 0 and 1 are identical' ELSE '' END AS reason
       |FROM pts ORDER BY id""".stripMargin

  private val qScaleIsempty = sqlQ(
    """SELECT id, s2_isempty(CASE WHEN id % 5 = 0 THEN s2_geogfromtext('POINT EMPTY')
      |  ELSE s2_geogpoint(lon, lat) END) AS empty
      |FROM pts ORDER BY id""".stripMargin)
  private val oScaleIsempty =
    s"WITH $oraclePts SELECT id, id % 5 = 0 AS empty FROM pts ORDER BY id"

  private val qScaleCells = sqlQ(
    """SELECT id,
      | CAST(id % 31 AS INT) AS want_lvl,
      | s2_cell_level(s2_cell_parent(s2_cellfromlonlat(lon, lat), CAST(id % 31 AS INT))) AS lvl,
      | s2_cell_from_token(s2_cell_token(s2_cellfromlonlat(lon, lat))) = s2_cellfromlonlat(lon, lat) AS tok_rt,
      | s2_cell_from_debug(s2_cell_debug(s2_cellfromlonlat(lon, lat))) = s2_cellfromlonlat(lon, lat) AS dbg_rt,
      | s2_cell_contains(s2_cell_parent(s2_cellfromlonlat(lon, lat), 5), s2_cellfromlonlat(lon, lat)) AS par_contains,
      | s2_cell_sortkey(s2_cell_range_min(s2_cell_parent(s2_cellfromlonlat(lon, lat), 5))) <= s2_cell_sortkey(s2_cellfromlonlat(lon, lat))
      |   AND s2_cell_sortkey(s2_cellfromlonlat(lon, lat)) <= s2_cell_sortkey(s2_cell_range_max(s2_cell_parent(s2_cellfromlonlat(lon, lat), 5))) AS range_ok,
      | s2_cell_intersects(s2_cell_parent(s2_cellfromlonlat(lon, lat), 3), s2_cellfromlonlat(lon, lat)) AS anc_int,
      | s2_cell_level(s2_cell_child(s2_cell_parent(s2_cellfromlonlat(lon, lat), 5), 2)) AS child_lvl
      |FROM pts ORDER BY id""".stripMargin)
  private val oScaleCells =
    s"""WITH $oraclePts
       |SELECT id, CAST(id % 31 AS INT) AS want_lvl, CAST(id % 31 AS INT) AS lvl,
       | true AS tok_rt, true AS dbg_rt, true AS par_contains, true AS range_ok,
       | true AS anc_int, 6 AS child_lvl
       |FROM pts ORDER BY id""".stripMargin

  private val boxes = Seq(
    (1, 0, 0, 20, 20), (2, -20, -20, 0, 0), (3, 100, 30, 120, 50),
    (4, -120, -50, -100, -30), (5, 150, -10, 170, 10), (6, 40, 40, 60, 60))

  private def boxWkt(b: (Int, Int, Int, Int, Int)): String = {
    val (_, x0, y0, x1, y1) = b
    s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
  }

  private def boxValues: String =
    boxes.map(b => s"(${b._1}, '${boxWkt(b)}', ${b._2}, ${b._3}, ${b._4}, ${b._5})").mkString(", ")

  /** s2_contains data-dependent check: arithmetic-inside-with-margin points
    * must be contained; arithmetic-outside-with-margin must not. The 0.5 deg
    * margin dominates the geodesic-vs-planar edge bulge for these box sizes. */
  /** The 6 test boxes pre-encoded driver-side: literal blobs in the plan,
    * so the WKT parse/encode happens once, not per joined row (Catalyst
    * collapses projections up through joins otherwise). */
  private def boxBlobDf(s: SparkSession) = {
    import s.implicits._
    boxes.map { b =>
      (b._1, graft.core.GeoCodec.prepare(graft.core.GeoCodec.encode(graft.core.Wkt.read(boxWkt(b)))),
        b._2.toDouble, b._3.toDouble, b._4.toDouble, b._5.toDouble)
    }.toDF("box_id", "bgeog", "xmin", "ymin", "xmax", "ymax")
  }

  private val qPointInPoly = (s: SparkSession, dir: String) => {
    prep(s, dir)
    boxBlobDf(s).createOrReplaceTempView("boxes")
    s.sql(
    s"""SELECT b.box_id,
       | CAST(sum(CASE WHEN p.lon > b.xmin + 0.5 AND p.lon < b.xmax - 0.5
       |   AND p.lat > b.ymin + 0.5 AND p.lat < b.ymax - 0.5
       |   AND s2_contains(b.bgeog, s2_geogpoint(p.lon, p.lat)) THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
       | CAST(sum(CASE WHEN (p.lon < b.xmin - 0.5 OR p.lon > b.xmax + 0.5
       |   OR p.lat < b.ymin - 0.5 OR p.lat > b.ymax + 0.5)
       |   AND s2_contains(b.bgeog, s2_geogpoint(p.lon, p.lat)) THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
       |FROM boxes b
       |CROSS JOIN pts p
       |GROUP BY b.box_id ORDER BY b.box_id""".stripMargin)
  }
  private val oPointInPoly =
    s"""WITH $oraclePts
       |SELECT b.box_id,
       | CAST(sum(CASE WHEN p.lon > b.xmin + 0.5 AND p.lon < b.xmax - 0.5
       |   AND p.lat > b.ymin + 0.5 AND p.lat < b.ymax - 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
       | CAST(0 AS BIGINT) AS n_fp
       |FROM (VALUES ${boxes.map(b => s"(${b._1}, ${b._2}, ${b._3}, ${b._4}, ${b._5})").mkString(", ")})
       |  b(box_id, xmin, ymin, xmax, ymax)
       |CROSS JOIN pts p
       |GROUP BY b.box_id ORDER BY b.box_id""".stripMargin

  /** Same counts through the scalable cover-then-refine join. */
  private val qCoverRefineJoin = (s: SparkSession, dir: String) => {
    prep(s, dir)
    import s.implicits._
    val boxDf = boxBlobDf(s)
    val ptsDf = s.sql("SELECT id, lon, lat, s2_geogpoint(lon, lat) AS pgeog FROM pts")
    val joined = S2Join.contains(boxDf, "bgeog", ptsDf, "pgeog", level = 3)
    joined.where($"lon" > $"xmin" + 0.5 && $"lon" < $"xmax" - 0.5 &&
        $"lat" > $"ymin" + 0.5 && $"lat" < $"ymax" - 0.5)
      .groupBy("box_id").agg(count(lit(1)).cast("long").as("n_in"))
      .orderBy("box_id")
  }
  private val oCoverRefineJoin =
    s"""WITH $oraclePts
       |SELECT b.box_id,
       | CAST(sum(CASE WHEN p.lon > b.xmin + 0.5 AND p.lon < b.xmax - 0.5
       |   AND p.lat > b.ymin + 0.5 AND p.lat < b.ymax - 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_in
       |FROM (VALUES ${boxes.map(b => s"(${b._1}, ${b._2}, ${b._3}, ${b._4}, ${b._5})").mkString(", ")})
       |  b(box_id, xmin, ymin, xmax, ymax)
       |CROSS JOIN pts p
       |WHERE p.lon > b.xmin + 0.5 AND p.lon < b.xmax - 0.5
       |  AND p.lat > b.ymin + 0.5 AND p.lat < b.ymax - 0.5
       |GROUP BY b.box_id ORDER BY b.box_id""".stripMargin

  private val dwithinMeters: Double = Math.toRadians(5.5) * 6371010.0

  private val qDwithinScale = sqlQ(
    s"""SELECT id, s2_dwithin(s2_geogpoint(CAST(lon_i AS DOUBLE), 0.0), s2_geogpoint(0.0, 0.0),
       |  CAST($dwithinMeters AS DOUBLE)) AS within
       |FROM pts ORDER BY id""".stripMargin)
  private val oDwithinScale =
    s"WITH $oraclePts SELECT id, abs(lon_i) <= 5 AS within FROM pts ORDER BY id"

  private val qDistanceScale = sqlQ(
    """SELECT id, CAST(round(s2_distance(s2_geogpoint(CAST(lon_i AS DOUBLE), 0.0),
      |  s2_geogpoint(0.0, 0.0)) / 1000.0, 0) AS BIGINT) AS km
      |FROM pts ORDER BY id""".stripMargin)
  private val oDistanceScale =
    s"""WITH $oraclePts
       |SELECT id, CAST(round(radians(abs(lon_i)) * 6371010.0 / 1000.0, 0) AS BIGINT) AS km
       |FROM pts ORDER BY id""".stripMargin

  /** Distance join at scale: all point pairs within 300km through
    * S2Join.dwithin (cell + 8-neighborhood buckets); the oracle recomputes
    * with haversine (min boundary margin on this grid is ~150m, far above
    * cross-engine fp noise). */
  private val qDwithinJoin = (s: SparkSession, dir: String) => {
    prep(s, dir)
    import s.implicits._
    val pts = s.sql("SELECT id, s2_geogpoint(lon, lat) AS g FROM pts")
    S2Join.dwithin(
        pts.select($"id".as("id_a"), $"g".as("ga")), "ga",
        pts.select($"id".as("id_b"), $"g".as("gb")), "gb", 300000.0,
        pairFilter = Some($"id_a" < $"id_b"))
      .agg(count(lit(1)).cast("long").as("n"))
  }
  private val oDwithinJoin =
    s"""WITH $oraclePts
       |SELECT CAST(count(*) AS BIGINT) AS n FROM pts a JOIN pts b ON a.id < b.id
       |WHERE 2*6371010*asin(sqrt(sin(radians(b.lat-a.lat)/2)^2 +
       |  cos(radians(a.lat))*cos(radians(b.lat))*sin(radians(b.lon-a.lon)/2)^2)) <= 300000""".stripMargin

  /** Same join THROUGH THE SQL SURFACE: a theta join on s2_dwithin with an
    * extra conjunct — exercises SpatialJoinRewrite end-to-end against the
    * DuckDB oracle (Verify runs with the extension installed). */
  private val qDwithinJoinSql = sqlQ(
    """SELECT CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT id, s2_geogpoint(lon, lat) AS g FROM pts) a
      |JOIN (SELECT id, s2_geogpoint(lon, lat) AS g FROM pts) b
      |  ON s2_dwithin(a.g, b.g, 300000.0) AND a.id < b.id""".stripMargin)

  /** kNN join through the certified expanding-neighborhood search
    * ([[KnnJoin.knn]]): 3 nearest neighbors per jittered customer point,
    * self-matches excluded. The oracle recomputes all-pairs haversine with
    * the identical (distance, id) tie-break; the jittered `jpts` grid has
    * no mirror-symmetric equidistant pairs, so both engines rank
    * decisively (see the jpts view comment). */
  private val qKnnJoin = (s: SparkSession, dir: String) => {
    prep(s, dir)
    val pts = s.sql("SELECT id, s2_geogpoint(lon, lat) AS g FROM jpts")
    KnnJoin.knn(pts, "id", "g", pts, "id", "g", k = 3,
        pairFilter = Some(col("id") =!= col("nbr_id")))
      .select(col("id"), col("nbr_id"), col("rank").cast("int").as("rank"))
      .orderBy("id", "nbr_id")
  }
  private val oKnnJoin =
    s"""WITH $oracleJpts,
       |d AS (SELECT a.id, b.id AS nbr_id,
       |  2*6371010*asin(sqrt(sin(radians(b.lat-a.lat)/2)^2 +
       |    cos(radians(a.lat))*cos(radians(b.lat))*sin(radians(b.lon-a.lon)/2)^2)) AS dist
       |  FROM jpts a JOIN jpts b ON a.id <> b.id)
       |SELECT id, nbr_id, rank FROM (
       |  SELECT id, nbr_id,
       |    CAST(row_number() OVER (PARTITION BY id ORDER BY dist, nbr_id) AS INTEGER) AS rank
       |  FROM d) r
       |WHERE rank <= 3 ORDER BY id, nbr_id""".stripMargin

  /** Bench-shaped kNN: a bounded query side (1/149 of the points) against
    * the full corpus keeps the all-pairs haversine oracle tractable at
    * bench SFs, so the artifact records a Spark-vs-DuckDB ratio for the
    * operator; aggregated output (count + id/rank sums) stays one row. */
  private val qKnnBench = (s: SparkSession, dir: String) => {
    prep(s, dir)
    val pts = s.sql("SELECT id, s2_geogpoint(lon, lat) AS g FROM jpts")
    val queries = pts.where(col("id") % 149 === 0)
    KnnJoin.knn(queries, "id", "g", pts, "id", "g", k = 3,
        pairFilter = Some(col("id") =!= col("nbr_id")))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("nbr_id")).cast("long").as("sum_nbr"),
        sum(col("rank")).cast("long").as("sum_rank"))
  }
  private val oKnnBench =
    s"""WITH $oracleJpts,
       |d AS (SELECT a.id, b.id AS nbr_id,
       |  2*6371010*asin(sqrt(sin(radians(b.lat-a.lat)/2)^2 +
       |    cos(radians(a.lat))*cos(radians(b.lat))*sin(radians(b.lon-a.lon)/2)^2)) AS dist
       |  FROM jpts a JOIN jpts b ON a.id % 149 = 0 AND a.id <> b.id),
       |r AS (SELECT id, nbr_id,
       |    row_number() OVER (PARTITION BY id ORDER BY dist, nbr_id) AS rk
       |  FROM d)
       |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(nbr_id) AS BIGINT) AS sum_nbr,
       |  CAST(sum(rk) AS BIGINT) AS sum_rank
       |FROM r WHERE rk <= 3""".stripMargin

  /** Batch twin of the STREAM-STREAM distance join
    * (graft.streaming.GeoEnrich.dwithinJoin): on batch frames the
    * watermark nodes fold away and the identical plan runs — cell-ring
    * equi-join + two-sided event-time range + chord-band refine. Points
    * derive deterministically from event_id (same grid as `pts`); pairs
    * must be within 300 km AND 1 hour of event time. The oracle recomputes
    * with haversine + exact microsecond arithmetic. */
  private val qStreamDwithin = (s: SparkSession, dir: String) => {
    prep(s, dir)
    val ev = s.table("events")
    def side(tag: String): DataFrame = ev.select(
      col("event_id").as(s"id_$tag"),
      (col("event_id") % 360 - 180 + 0.25).cast("double").as(s"lon_$tag"),
      (col("event_id") % 160 - 80 + 0.25).cast("double").as(s"lat_$tag"),
      col("ts").as(s"ts_$tag"))
    graft.streaming.GeoEnrich.dwithinJoin(
        side("a"), "lon_a", "lat_a", "ts_a",
        side("b"), "lon_b", "lat_b", "ts_b",
        meters = 300000.0, windowSeconds = 3600L,
        pairFilter = Some(col("id_a") < col("id_b")))
      .agg(count(lit(1)).cast("long").as("n"))
  }
  private val oStreamDwithin =
    """WITH epts AS (SELECT event_id AS id, ts,
      |  CAST((event_id % 360) - 180 + 0.25 AS DOUBLE) AS lon,
      |  CAST((event_id % 160) - 80 + 0.25 AS DOUBLE) AS lat FROM events)
      |SELECT CAST(count(*) AS BIGINT) AS n FROM epts a JOIN epts b ON a.id < b.id
      |WHERE abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 3600000000
      |  AND 2*6371010*asin(sqrt(sin(radians(b.lat-a.lat)/2)^2 +
      |    cos(radians(a.lat))*cos(radians(b.lat))*sin(radians(b.lon-a.lon)/2)^2)) <= 300000""".stripMargin

  /** The STREAMING funnel state machine replayed over the batch events
    * table (flatMapGroupsWithState executes in batch mode with each
    * user's full history in one sorted iterator — exactly the stream's
    * in-order contract), checked against the same three-CTE min-timestamp
    * SQL as b_events_funnel. Proves stream semantics == batch semantics
    * on real data, not just the spec fixtures. */
  private val qStreamFunnel = (s: SparkSession, dir: String) => {
    prep(s, dir)
    import s.implicits._
    val ev = s.table("events")
      .select(col("ts"), col("user_id"), col("event_type"))
      .as[graft.streaming.Funnel.FunnelEvent]
    graft.streaming.Funnel.funnelStream(
        ev, Seq("view", "click", "purchase"), 86400L)
      .groupBy(col("stage").cast("int").as("stage"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy("stage")
  }
  private val oStreamFunnel =
    """WITH v AS (SELECT user_id, min(ts) AS t FROM events
      |     WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN v ON e.user_id = v.user_id
      |     WHERE e.event_type = 'click' AND e.ts > v.t
      |       AND epoch(e.ts) - epoch(v.t) <= 86400 GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN c ON e.user_id = c.user_id
      |     WHERE e.event_type = 'purchase' AND e.ts > c.t
      |       AND epoch(e.ts) - epoch(c.t) <= 86400 GROUP BY e.user_id)
      |SELECT stage, n FROM (
      |  SELECT 1 AS stage, (SELECT CAST(count(*) AS BIGINT) FROM v) AS n
      |  UNION ALL SELECT 2, (SELECT CAST(count(*) AS BIGINT) FROM c)
      |  UNION ALL SELECT 3, (SELECT CAST(count(*) AS BIGINT) FROM p)) t
      |WHERE n > 0 ORDER BY stage""".stripMargin

  /** The buffered funnel driven as a REAL streaming query inside the
    * gate: the whole events table delivered in REVERSE event-time order
    * over two triggers (the cross-trigger disorder funnelStream's
    * contract excludes), a 10-year watermark slack so nothing drops, and
    * a far-future noise event to fire every horizon timeout — the memory
    * sink's stage counts must equal the batch 3-CTE SQL exactly. */
  private val qStreamFunnelBuf = (s: SparkSession, dir: String) => {
    prep(s, dir)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // CONTRACT (VERDICT r17 item 4): this is a correctness-gate STREAMING
    // REPLAY, not a scale query — the whole events table is fed through a
    // MemoryStream driver-side, so it is bounded to gate-SF inputs by an
    // explicit guard rather than by hope. The production path is
    // funnelStreamBuffered over readStream, which never collects.
    val nEvents = s.table("events").count()
    require(nEvents <= 5000000L,
      s"b_stream_funnel_buf is a gate-SF streaming replay (driver-side " +
        s"MemoryStream); refusing to collect $nEvents events (cap 5M)")
    val rows = s.table("events")
      .select(col("ts"), col("user_id"), col("event_type"))
      .as[graft.streaming.Funnel.FunnelEvent].collect()
    val reversed = rows.sortBy(-_.ts.getTime).toSeq
    val (b1, b2) = reversed.splitAt(reversed.length / 2)
    val maxTs = rows.iterator.map(_.ts.getTime).max
    val horizonMs = 3L * 86400000L * 2
    val slackMs = 3650L * 86400000L
    val flush = graft.streaming.Funnel.FunnelEvent(
      new java.sql.Timestamp(maxTs + horizonMs + slackMs + 60000L), 999999999L, "noise")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.Funnel.FunnelEvent]
    val name = s"q_funnelbuf_${System.nanoTime()}"
    val q = graft.streaming.Funnel.funnelStreamBuffered(
        input.toDS(), Seq("view", "click", "purchase"), 86400L,
        watermark = "3650 days")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      for (b <- Seq(b1, b2, Seq(flush))) {
        input.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    s.table(name).where(col("user_id") =!= 999999999L)
      .groupBy(col("stage").cast("int").as("stage"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy("stage")
  }

  /** Pole triangles (0 0, n 0, 0 90) have closed-form spherical measures:
    * area = R^2 * radians(n) (the spherical excess IS n at the pole) and
    * perimeter = R * radians(n + 180) — an independent arithmetic oracle
    * for s2_area / s2_perimeter over data-derived shapes. */
  private val qMeasuresScale = sqlQ(
    """SELECT id,
      | CAST(round(s2_area(s2_geogfromtext(
      |   concat('POLYGON ((0 0, ', CAST(id % 89 + 1 AS INT), ' 0, 0 90, 0 0))'))) / 1e6, 0) AS BIGINT) AS area_r,
      | CAST(round(s2_perimeter(s2_geogfromtext(
      |   concat('POLYGON ((0 0, ', CAST(id % 89 + 1 AS INT), ' 0, 0 90, 0 0))'))) / 1000.0, 0) AS BIGINT) AS perim_km,
      | CAST(round(s2_length(s2_geogfromtext(
      |   concat('LINESTRING (', lon_i, ' 0, ', lon_i, ' ', CAST(id % 80 + 1 AS INT), ')'))) / 1000.0, 0) AS BIGINT) AS merid_km,
      | s2_dimension(s2_geogfromtext(concat('POLYGON ((0 0, ', CAST(id % 89 + 1 AS INT), ' 0, 0 90, 0 0))'))) AS dim,
      | s2_num_points(s2_geogfromtext(concat('POLYGON ((0 0, ', CAST(id % 89 + 1 AS INT), ' 0, 0 90, 0 0))'))) AS np
      |FROM pts ORDER BY id""".stripMargin)
  private val oMeasuresScale =
    s"""WITH $oraclePts
       |SELECT id,
       | CAST(round(6371010.0 * 6371010.0 * radians(id % 89 + 1) / 1e6, 0) AS BIGINT) AS area_r,
       | CAST(round(6371010.0 * radians(id % 89 + 1 + 180) / 1000.0, 0) AS BIGINT) AS perim_km,
       | CAST(round(6371010.0 * radians(id % 80 + 1) / 1000.0, 0) AS BIGINT) AS merid_km,
       | 2 AS dim, 3 AS np
       |FROM pts ORDER BY id""".stripMargin

  private val qCoveringScale = sqlQ(
    """SELECT id,
      | size(s2_covering(s2_geogpoint(lon, lat))) AS cov_size,
      | s2_covering_fixed_level(s2_geogpoint(lon, lat), 5)[0]
      |   = s2_cell_parent(s2_cellfromlonlat(lon, lat), 5) AS fixed_is_parent,
      | s2_mayintersect(s2_geogpoint(lon, lat), s2_geogpoint(lon, lat)) AS may_self,
      | s2_mayintersect(s2_geogpoint(lon, lat), s2_geogpoint(lon - 20.0, lat)) AS may_far
      |FROM pts WHERE lat BETWEEN -60 AND 60 ORDER BY id""".stripMargin)
  private val oCoveringScale =
    s"""WITH $oraclePts
       |SELECT id, 1 AS cov_size, true AS fixed_is_parent, true AS may_self, false AS may_far
       |FROM pts WHERE lat BETWEEN -60 AND 60 ORDER BY id""".stripMargin

  private val qPrepareScale = dfQ { s =>
    import s.implicits._
    val countries = S2Data.countries(s).select($"name".as("country"), $"geog".as("cgeog"))
    val cities = S2Data.cities(s).select($"name".as("city"), $"geog")
    S2Join.broadcastIntersects(countries, "cgeog", cities, "geog")
      .agg(count(lit(1)).cast("long").as("n"))
  }
  private val oPrepareScale = "SELECT 210 AS n"

  // ====================================================== LLM-pipeline ops

  private val qDedupExact = dfQ { s =>
    val docs = s.table("docs_aug")
    val g = Dedup.exactDedup(docs, "doc_id", "text")
    g.agg(count(lit(1)).cast("long").as("n_groups"),
      sum("group_size").cast("long").as("n_rows"),
      max("group_size").cast("long").as("max_group"))
  }
  private val oDedupExact =
    s"""WITH $oracleDocsAug
       |SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_groups,
       |       CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(max(cnt) AS BIGINT) AS max_group
       |FROM docs_aug, (SELECT max(c) AS cnt FROM (SELECT count(*) c FROM docs_aug GROUP BY md5(text)))""".stripMargin

  private val qDedupPairs = dfQ { s =>
    Dedup.exactDupPairs(s.table("docs_aug"), "doc_id", "text")
      .orderBy("id_a", "id_b")
  }
  private val oDedupPairs =
    s"""WITH $oracleDocsAug
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM docs_aug a JOIN docs_aug b
       |  ON md5(a.text) = md5(b.text) AND a.text = b.text AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  /** MinHash-LSH candidates restricted to word-set-identical pairs: LSH must
    * find every such pair (identical signatures collide in every band). */
  private val qDedupMinhash = dfQ { s =>
    // r21: the canon tag rides through the candidate expansion
    // (minhashCandidatePairsTagged) instead of being joined onto the
    // emitted pair stream — same rows (the old id-equijoins were 1:1
    // attachments of a per-doc column), but the pair stream, which at
    // sf10 is ~600M rows against a 550k-doc corpus, now never meets a
    // join: the r20 plan sort-merge-joined it TWICE once canon outgrew
    // the broadcast threshold (the r19 sf10 livelock was one of those
    // sorts). Guide §8 / §3.3.
    val docs = s.table("docs_aug")
    val canon =
      md5(array_join(array_sort(array_distinct(split(trim(col("text")), "\\s+"))), " "))
    Dedup.minhashCandidatePairsTagged(docs, "doc_id", "text", canon,
        numHashes = 64, bands = 4)
      .where(col("tag_a") === col("tag_b"))
      .select("id_a", "id_b")
  }
  /** LIKE-FOR-LIKE minhash oracle (VERDICT r7 item 4): DuckDB computes the
    * SAME 64-hash/4-band MinHash-LSH as the Spark side — bit-exact FNV-1a
    * word hashes (64-bit wraparound emulated via HUGEINT; the murmur
    * finalizer runs as a CTE cascade of single steps so the SQL stays
    * small), signed-min signatures, band sub-signature bucket join, then
    * the word-set-identical filter. Rows are identical to the previous
    * canon-equality shortcut (identical word sets collide in every band),
    * but the oracle now performs the same WORK, so a bench ratio of this
    * query compares engines running the same algorithm. */
  /** DuckDB replay of the Spark 64-hash MinHash + 4-band LSH chain over
    * relation `rel`(doc_id, text): CTE cascade ending in
    * `sigl`(doc_id, sig) and `bands`(doc_id, band, bucket, sub). Shared
    * by the self-join (l_dedup_minhash) and cross-corpus
    * (l_decontam_fuzzy) like-for-like oracles. */
  private def oracleMinhashChain(rel: String): String =
    s"""words AS (
       |  SELECT doc_id, unnest(list_filter(list_distinct(regexp_split_to_array(trim(text), '\\s+')), w -> len(w) > 0)) AS w
       |  FROM $rel),
       |wh AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(-3750763034362895579 AS BIGINT),
       |        list_transform(range(1, len(w) + 1), i -> ascii(substr(w, i, 1)))),
       |      (h, c) -> CAST((((CASE WHEN (xor(h, CAST(c AS BIGINT))) < 0 THEN CAST((xor(h, CAST(c AS BIGINT))) AS HUGEINT) + 18446744073709551616 ELSE CAST((xor(h, CAST(c AS BIGINT))) AS HUGEINT) END) * 1099511628211) % 18446744073709551616) - ((((CASE WHEN (xor(h, CAST(c AS BIGINT))) < 0 THEN CAST((xor(h, CAST(c AS BIGINT))) AS HUGEINT) + 18446744073709551616 ELSE CAST((xor(h, CAST(c AS BIGINT))) AS HUGEINT) END) * 1099511628211) % 18446744073709551616) // 9223372036854775808) * 18446744073709551616 AS BIGINT)) AS h1
       |  FROM words),
       |f0 AS (SELECT doc_id, h1, (CASE WHEN (h1) < 0 THEN CAST((h1) AS HUGEINT) + 18446744073709551616 ELSE CAST((h1) AS HUGEINT) END) AS u0 FROM wh),
       |f1 AS (SELECT doc_id, h1, xor(CAST((u0) - ((u0) // 9223372036854775808) * 18446744073709551616 AS BIGINT), CAST((((u0) // 8589934592)) - ((((u0) // 8589934592)) // 9223372036854775808) * 18446744073709551616 AS BIGINT)) AS x1 FROM f0),
       |f2 AS (SELECT doc_id, h1, (CASE WHEN (x1) < 0 THEN CAST((x1) AS HUGEINT) + 18446744073709551616 ELSE CAST((x1) AS HUGEINT) END) AS ux1 FROM f1),
       |f3 AS (SELECT doc_id, h1, (((ux1) * 3981806797 + (((ux1) * 4283543511) % 4294967296) * 4294967296) % 18446744073709551616) AS u1 FROM f2),
       |f4 AS (SELECT doc_id, h1, xor(CAST((u1) - ((u1) // 9223372036854775808) * 18446744073709551616 AS BIGINT), CAST((((u1) // 8589934592)) - ((((u1) // 8589934592)) // 9223372036854775808) * 18446744073709551616 AS BIGINT)) AS x2 FROM f3),
       |f5 AS (SELECT doc_id, h1, (CASE WHEN (x2) < 0 THEN CAST((x2) AS HUGEINT) + 18446744073709551616 ELSE CAST((x2) AS HUGEINT) END) AS ux2 FROM f4),
       |f6 AS (SELECT doc_id, h1, (((ux2) * 444984403 + (((ux2) * 3301882366) % 4294967296) * 4294967296) % 18446744073709551616) AS u2 FROM f5),
       |wh2 AS (SELECT doc_id, (CASE WHEN (h1) < 0 THEN CAST((h1) AS HUGEINT) + 18446744073709551616 ELSE CAST((h1) AS HUGEINT) END) AS uh1,
       |               (CASE WHEN (xor(CAST((u2) - ((u2) // 9223372036854775808) * 18446744073709551616 AS BIGINT), CAST((((u2) // 8589934592)) - ((((u2) // 8589934592)) // 9223372036854775808) * 18446744073709551616 AS BIGINT))) < 0 THEN CAST((xor(CAST((u2) - ((u2) // 9223372036854775808) * 18446744073709551616 AS BIGINT), CAST((((u2) // 8589934592)) - ((((u2) // 8589934592)) // 9223372036854775808) * 18446744073709551616 AS BIGINT))) AS HUGEINT) + 18446744073709551616 ELSE CAST((xor(CAST((u2) - ((u2) // 9223372036854775808) * 18446744073709551616 AS BIGINT), CAST((((u2) // 8589934592)) - ((((u2) // 8589934592)) // 9223372036854775808) * 18446744073709551616 AS BIGINT))) AS HUGEINT) END) AS uh2 FROM f6),
       |sigk AS (
       |  SELECT doc_id, k, min(CAST(((uh1 + CAST(k AS HUGEINT) * uh2) % 18446744073709551616) - (((uh1 + CAST(k AS HUGEINT) * uh2) % 18446744073709551616) // 9223372036854775808) * 18446744073709551616 AS BIGINT)) AS s
       |  FROM wh2, range(0, 64) t(k) GROUP BY doc_id, k),
       |sigl AS (SELECT doc_id, list(s ORDER BY k) AS sig FROM sigk GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, band, md5(CAST(sig[band * 16 + 1 : band * 16 + 16] AS VARCHAR)) AS bucket,
       |         sig[band * 16 + 1 : band * 16 + 16] AS sub
       |  FROM sigl, range(0, 4) t(band))""".stripMargin

  private val oDedupMinhash =
    s"""WITH $oracleDocsAug,
       |${oracleMinhashChain("docs_aug")},
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub AND a.doc_id < b.doc_id),
       |canon AS (SELECT doc_id,
       |  md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\\s+'))), ' ')) AS canon
       |  FROM docs_aug)
       |SELECT id_a, id_b
       |FROM cands JOIN canon a ON cands.id_a = a.doc_id JOIN canon b ON cands.id_b = b.doc_id
       |WHERE a.canon = b.canon""".stripMargin

  /** Two-stage near-dedup: LSH candidates verified by EXACT word-set
    * Jaccard at 700 permille — the DuckDB oracle replays the identical
    * minhash chain AND the identical integer-permille cut, so the
    * verified pair set (with exact intersect/union sizes) must match
    * row-for-row. The Spark side uses 4 bands to match the shared chain. */
  private val qDedupVerified = dfQ { s =>
    Dedup.verifiedNearDupPairs(s.table("docs_aug"), "doc_id", "text",
        numHashes = 64, bands = 4, minJaccardPermille = 700)
      .orderBy("id_a", "id_b")
  }
  private val oDedupVerified =
    s"""WITH $oracleDocsAug,
       |${oracleMinhashChain("docs_aug")},
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub AND a.doc_id < b.doc_id),
       |wsets AS (SELECT doc_id,
       |  list_distinct(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> len(w) > 0)) AS ws
       |  FROM docs_aug)
       |SELECT id_a, id_b,
       |  CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_common,
       |  CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS BIGINT) AS n_union
       |FROM cands JOIN wsets a ON cands.id_a = a.doc_id JOIN wsets b ON cands.id_b = b.doc_id
       |WHERE len(list_intersect(a.ws, b.ws)) * 1000 >= 700 * len(list_distinct(list_concat(a.ws, b.ws)))""".stripMargin

  /** Shingle-MinHash candidates restricted to byte-identical pairs ==
    * exact dup set (identical texts share every shingle, so every planted
    * dup must surface as a candidate in all bands). */
  private val qDedupMinhashShingle = dfQ { s =>
    val docs = s.table("docs_aug")
    val cands = Dedup.minhashShingleCandidatePairs(docs, "doc_id", "text",
      numHashes = 64, bands = 4, shingleLen = 3)
    val t = docs.select(col("doc_id"), col("text"))
    cands.join(t.as("ta"), col("id_a") === col("ta.doc_id"))
      .join(t.as("tb"), col("id_b") === col("tb.doc_id"))
      .where(col("ta.text") === col("tb.text"))
      .select("id_a", "id_b").orderBy("id_a", "id_b")
  }

  /** SimHash candidates restricted to byte-identical pairs == exact dup set. */
  private val qDedupSimhash = dfQ { s =>
    val docs = s.table("docs_aug")
    val cands = Dedup.simhashCandidatePairs(docs, "doc_id", "text")
    val t = docs.select(col("doc_id"), col("text"))
    cands.join(t.as("ta"), col("id_a") === col("ta.doc_id"))
      .join(t.as("tb"), col("id_b") === col("tb.doc_id"))
      .where(col("ta.text") === col("tb.text"))
      .select("id_a", "id_b")
  }

  /** Cluster resolution: connected components over the exact-dup pair
    * graph (pairs -> transitively-closed clusters, cluster id = min id of
    * the component). Oracle: DuckDB recursive-CTE transitive closure over
    * the identical pair set. */
  private val qDedupClusters = dfQ { s =>
    val pairs = Dedup.exactDupPairs(s.table("docs_aug"), "doc_id", "text")
    Dedup.connectedComponents(pairs).orderBy("id")
  }
  private val oDedupClusters =
    s"""WITH RECURSIVE $oracleDocsAug,
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM docs_aug a JOIN docs_aug b
       |    ON md5(a.text) = md5(b.text) AND a.text = b.text AND a.doc_id < b.doc_id),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT s AS id, d AS r FROM edges
       |  UNION
       |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id)
       |SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** Dup-cluster SIZE HISTOGRAM (log2 buckets): the curation diagnostic
    * that tells a 100-TB pipeline whether duplication is a long tail of
    * pairs or a few megaclusters (which drive dedup cost and bias).
    * Singleton docs count in bucket 0; each bucket holds the number of
    * clusters with floor(log2(size)) = bucket. Derived entirely from the
    * component labels — texts never join the path. */
  private val qDedupClusterHist = dfQ { s =>
    val docs = s.table("docs_aug")
    val pairs = Dedup.exactDupPairs(docs, "doc_id", "text")
    val cc = Dedup.connectedComponents(pairs)
    // docs absent from any pair are singleton clusters of size 1
    val clustered = cc.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val nSingleton = docs.join(cc, docs("doc_id") === cc("id"), "left_anti")
      .agg(count(lit(1))).as[Long](org.apache.spark.sql.Encoders.scalaLong).head()
    val hist = clustered
      .select(floor(log2(col("sz"))).cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).cast("long").as("n_clusters"))
    val withSingletons = hist
      .union(s.range(1).select(lit(0).cast("int").as("bucket"),
        lit(nSingleton).cast("long").as("n_clusters")))
      .groupBy("bucket").agg(sum("n_clusters").cast("long").as("n_clusters"))
    withSingletons.orderBy("bucket")
  }
  private val oDedupClusterHist =
    s"""WITH RECURSIVE $oracleDocsAug,
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM docs_aug a JOIN docs_aug b
       |    ON md5(a.text) = md5(b.text) AND a.text = b.text AND a.doc_id < b.doc_id),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT s AS id, d AS r FROM edges
       |  UNION
       |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
       |comp AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
       |sizes AS (SELECT cluster_id, count(*) AS sz FROM comp GROUP BY cluster_id),
       |hist AS (SELECT CAST(floor(log2(sz)) AS INT) AS bucket,
       |         CAST(count(*) AS BIGINT) AS n_clusters FROM sizes GROUP BY 1
       |  UNION ALL
       |  SELECT 0, (SELECT CAST(count(*) AS BIGINT) FROM docs_aug
       |             WHERE doc_id NOT IN (SELECT id FROM comp)))
       |SELECT bucket, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
       |FROM hist GROUP BY bucket ORDER BY bucket""".stripMargin

  /** End-to-end dedup resolve: corpus size before/after keeping exactly
    * one representative per dup cluster, plus cluster-shape stats. */
  private val qDedupResolve = dfQ { s =>
    val docs = s.table("docs_aug")
    val pairs = Dedup.exactDupPairs(docs, "doc_id", "text")
    // resolve components ONCE (label propagation runs eager jobs), then
    // derive both the surviving corpus and the cluster-shape stats from it
    val cc = Dedup.connectedComponents(pairs)
    val drop = cc.where(col("id") =!= col("cluster_id")).select(col("id").as("__drop_id"))
    val kept = docs.join(drop, docs("doc_id") === col("__drop_id"), "left_anti")
    val clusterSizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    docs.agg(count(lit(1)).cast("long").as("n_docs"))
      .crossJoin(kept.agg(count(lit(1)).cast("long").as("n_kept")))
      .crossJoin(clusterSizes.agg(count(lit(1)).cast("long").as("n_clusters"),
        max("sz").cast("long").as("max_cluster")))
  }
  private val oDedupResolve =
    s"""WITH RECURSIVE $oracleDocsAug,
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM docs_aug a JOIN docs_aug b
       |    ON md5(a.text) = md5(b.text) AND a.text = b.text AND a.doc_id < b.doc_id),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT s AS id, d AS r FROM edges
       |  UNION
       |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
       |comp AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
       |SELECT (SELECT count(*) FROM docs_aug) AS n_docs,
       |       (SELECT count(*) FROM docs_aug)
       |         - (SELECT count(*) FROM comp WHERE id <> cluster_id) AS n_kept,
       |       (SELECT count(DISTINCT cluster_id) FROM comp) AS n_clusters,
       |       (SELECT max(c) FROM (SELECT count(*) AS c FROM comp GROUP BY cluster_id)) AS max_cluster""".stripMargin

  /** Quality-aware cluster resolution: keep the best-scoring doc per
    * exact-dup cluster (score desc, id asc) — planted copies share text,
    * so a deterministic md5-derived score differentiates them and the
    * winner often ISN'T the min id (n_swapped pins that the policy
    * really engaged). The oracle replays the closure recursively plus
    * the same ranking. */
  private val qDedupResolveBest = dfQ { s =>
    val docs = s.table("docs_aug")
      .withColumn("score", Sampling.hashBucket(col("doc_id"), 1000))
    val pairs = Dedup.exactDupPairs(docs, "doc_id", "text")
    val kept = Dedup.dedupByPairsBest(docs, "doc_id", pairs, "score")
    val comp = Dedup.connectedComponents(pairs)
      .join(docs.select(col("doc_id").as("id"), col("score")), Seq("id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
      .orderBy(col("score").desc, col("id").asc)
    val swapped = comp.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("id") =!= col("cluster_id"))
    docs.agg(count(lit(1)).as("n_docs")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept"))).crossJoin(
        swapped.agg(count(lit(1)).as("n_swapped")))
      .select(col("n_docs").cast("long"), col("n_kept").cast("long"),
        col("n_swapped").cast("long"))
  }
  private val oDedupResolveBest =
    s"""WITH RECURSIVE $oracleDocsAug,
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM docs_aug a JOIN docs_aug b
       |    ON md5(a.text) = md5(b.text) AND a.text = b.text AND a.doc_id < b.doc_id),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT s AS id, d AS r FROM edges
       |  UNION
       |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
       |comp AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
       |sc AS (SELECT doc_id, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 1000 AS score
       |  FROM docs_aug),
       |rank AS (SELECT comp.id, comp.cluster_id,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, id ASC) AS rn
       |  FROM comp JOIN sc ON comp.id = sc.doc_id)
       |SELECT (SELECT count(*) FROM docs_aug) AS n_docs,
       |  (SELECT count(*) FROM docs_aug) - (SELECT count(*) FROM rank WHERE rn > 1) AS n_kept,
       |  (SELECT count(*) FROM rank WHERE rn = 1 AND id <> cluster_id) AS n_swapped""".stripMargin

  /** End-to-end training-data pipeline: quality gate (token count +
    * integer-exact alpha-ratio threshold — no float boundary risk) →
    * exact-dup pairs → cluster resolution → representative-only corpus →
    * corpus stats. Every stage is the production operator; the oracle
    * replays the whole pipeline in SQL with a recursive-CTE closure. */
  private val qPipeline = dfQ { s =>
    val docs = s.table("docs_aug")
    val alphaLen = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
    val filtered = docs.where(TextAnalysis.tokenCount(col("text")) >= lit(20) &&
      alphaLen * 11 >= length(col("text")) * 9)
    val pairs = Dedup.exactDupPairs(filtered, "doc_id", "text")
    val cc = Dedup.connectedComponents(pairs)
    val drop = cc.where(col("id") =!= col("cluster_id")).select(col("id").as("__drop_id"))
    val kept = filtered.join(drop, col("doc_id") === col("__drop_id"), "left_anti")
    filtered.agg(count(lit(1)).cast("long").as("n_filtered"))
      .crossJoin(kept.agg(count(lit(1)).cast("long").as("n_kept"),
        sum(TextAnalysis.tokenCount(col("text"))).cast("long").as("n_tokens")))
  }
  private val oPipeline =
    s"""WITH RECURSIVE $oracleDocsAug,
       |filtered AS (SELECT doc_id, text,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok
       |  FROM docs_aug
       |  WHERE (CASE WHEN length(trim(text)) = 0 THEN 0
       |              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) >= 20
       |    AND 11 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')) >= 9 * length(text)),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM filtered a JOIN filtered b
       |    ON md5(a.text) = md5(b.text) AND a.text = b.text AND a.doc_id < b.doc_id),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT s AS id, d AS r FROM edges
       |  UNION
       |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
       |comp AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
       |kept AS (SELECT f.* FROM filtered f
       |  WHERE f.doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id))
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM filtered) AS n_filtered,
       |       (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_kept,
       |       (SELECT CAST(sum(n_tok) AS BIGINT) FROM kept) AS n_tokens""".stripMargin

  /** Capstone pipeline composing the round-12 operators end-to-end:
    * Gopher quality gate → two-stage verified near-dedup (greedy
    * keep-first: drop the higher id of every verified pair) → 8-gram
    * decontamination against the eval half → hash split → deterministic
    * global shuffle → per-split corpus stats. Every stage is the
    * production operator; the oracle replays the whole pipeline in one
    * DuckDB SQL from the proven per-stage fragments. */
  private val qPipeline2 = dfQ { s =>
    val docs = s.table("documents")
    val gated = docs.where(
      TextAnalysis.gopherSignals(col("text"), gopherCorpusWords).getField("passes"))
    val pairs = Dedup.verifiedNearDupPairs(gated, "doc_id", "text",
      numHashes = 64, bands = 4, minJaccardPermille = 950)
    val kept = gated.join(pairs.select(col("id_b").as("__drop")).distinct(),
      col("doc_id") === col("__drop"), "left_anti")
    val ev = docs.where(col("doc_id") % 2 === 0)
    val train = kept.where(col("doc_id") % 2 === 1)
    val contam = TextAnalysis.contaminationPairs(train, ev, "doc_id", "text", n = 8)
      .select(col("train_id").as("__cid")).distinct()
    val clean = train.join(contam, col("doc_id") === col("__cid"), "left_anti")
    // 150-permille shares (vs the production 50) so the ~90 surviving
    // docs populate all three splits and the oracle row tests them
    val split = Sampling.assignSplit(clean, "doc_id", valPermille = 150, testPermille = 150)
    val shuffled = Sampling.shufflePositions(split, "doc_id", "ep0")
    shuffled.groupBy("split").agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).cast("long").as("n_tokens"),
        min(col("pos")).cast("long").as("min_pos"))
      .orderBy("split")
  }
  private val oPipeline2 =
    s"""WITH gm AS (
       |  SELECT doc_id, text,
       |    CASE WHEN trim(coalesce(text,'')) = '' THEN 0
       |      ELSE len(regexp_split_to_array(trim(coalesce(text,'')), '\\s+')) END AS n_words,
       |    regexp_split_to_array(trim(coalesce(text,'')), '\\s+') AS gws,
       |    string_split(coalesce(text,''), chr(10)) AS glines,
       |    coalesce(text,'') AS gt
       |  FROM documents),
       |gs AS (
       |  SELECT doc_id, text, n_words,
       |    greatest(n_words, 1) AS denom,
       |    list_sum(list_transform(gws, x -> CAST(length(x) AS BIGINT))) AS sum_len,
       |    length(gt) - length(replace(gt, '#', '')) AS n_hash,
       |    (length(gt) - length(replace(gt, '...', ''))) // 3 AS n_ell,
       |    len(list_filter(glines, l -> substring(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
       |    len(list_filter(glines, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS n_ellline,
       |    greatest(len(glines), 1) AS n_lines,
       |    len(list_filter(gws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
       |    len(list_intersect(list_distinct(list_transform(gws, x -> lower(x))),
       |      ['join','hash','row','batch','scan','column','filter','merge'])) AS n_stop
       |  FROM gm),
       |gated AS (
       |  SELECT doc_id, text FROM gs
       |  WHERE n_words BETWEEN 50 AND 100000
       |    AND (CAST(sum_len AS DOUBLE) / denom) BETWEEN 3.0 AND 10.0
       |    AND (CAST(n_hash + n_ell AS DOUBLE) / denom) <= 0.1
       |    AND (CAST(n_bullet AS DOUBLE) / n_lines) <= 0.9
       |    AND (CAST(n_ellline AS DOUBLE) / n_lines) <= 0.3
       |    AND (CAST(n_alpha AS DOUBLE) / denom) >= 0.8
       |    AND n_stop >= 2),
       |${oracleMinhashChain("gated")},
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub AND a.doc_id < b.doc_id),
       |wsets AS (SELECT doc_id,
       |  list_distinct(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> len(w) > 0)) AS ws
       |  FROM gated),
       |vdrop AS (
       |  SELECT DISTINCT id_b FROM cands
       |  JOIN wsets a ON cands.id_a = a.doc_id JOIN wsets b ON cands.id_b = b.doc_id
       |  WHERE len(list_intersect(a.ws, b.ws)) * 1000 >= 950 * len(list_distinct(list_concat(a.ws, b.ws)))),
       |kept AS (SELECT doc_id, text FROM gated WHERE doc_id NOT IN (SELECT id_b FROM vdrop)),
       |dw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS dws
       |  FROM documents WHERE length(trim(text)) > 0),
       |dgrams AS (SELECT doc_id, array_to_string(dws[i:i+7], ' ') AS g
       |  FROM dw, LATERAL unnest(generate_series(1, greatest(len(dws) - 7, 0))) t(i)),
       |contam AS (
       |  SELECT DISTINCT t.doc_id FROM dgrams t JOIN dgrams e ON t.g = e.g
       |  WHERE t.doc_id % 2 = 1 AND e.doc_id % 2 = 0
       |    AND t.doc_id IN (SELECT doc_id FROM kept)),
       |clean AS (
       |  SELECT doc_id, text FROM kept
       |  WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM contam)),
       |lab AS (SELECT doc_id, text,
       |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '__split'), 1, 7))::BIGINT % 1000 < 150 THEN 'test'
       |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '__split'), 1, 7))::BIGINT % 1000 < 300 THEN 'val'
       |         ELSE 'train' END AS split
       |  FROM clean),
       |pos AS (SELECT doc_id, split, text,
       |    row_number() OVER (ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
       |  FROM lab)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens,
       |  CAST(min(pos) AS BIGINT) AS min_pos
       |FROM pos GROUP BY split ORDER BY split""".stripMargin

  /** Deterministic global shuffle: distributed md5-order positions must
    * equal DuckDB's single-node row_number over the same ordering. */
  private val qShuffle = dfQ { s =>
    Sampling.shufflePositions(s.table("documents"), "doc_id", "s42")
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
      .orderBy("doc_id")
  }
  private val oShuffle =
    """SELECT doc_id,
      |  CAST(row_number() OVER (ORDER BY md5('s42:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Deterministic hash split + sample: assignment depends only on the
    * key's md5, so both engines compute the identical row sets. */
  private val qSample = dfQ { s =>
    val docs = s.table("documents")
    val split = Sampling.assignSplit(docs, "doc_id", valPermille = 50, testPermille = 50)
      .groupBy("split").agg(count(lit(1)).cast("long").as("n"))
    val sampled = Sampling.sampleByHash(docs, "doc_id", 1, 10)
      .agg(count(lit(1)).cast("long").as("n_sampled"))
    split.crossJoin(sampled).orderBy("split")
  }
  private val oSample =
    """WITH b AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '__split'), 1, 7))::BIGINT AS hs
      |  FROM documents)
      |SELECT split, CAST(count(*) AS BIGINT) AS n,
      |  (SELECT CAST(count(*) AS BIGINT) FROM b WHERE h % 10 < 1) AS n_sampled
      |FROM (SELECT CASE WHEN hs % 1000 < 50 THEN 'test'
      |                  WHEN hs % 1000 < 100 THEN 'val'
      |                  ELSE 'train' END AS split FROM b)
      |GROUP BY split ORDER BY split""".stripMargin

  /** Per-group token-budget cap (data mixing): docs kept in id order
    * until each group's cumulative token count reaches the budget. */
  private val qTokenBudget = dfQ { s =>
    val docs = s.table("documents")
    val toks = docs.select(col("doc_id"),
      Sampling.hashBucket(col("doc_id"), 4).as("grp"),
      TextAnalysis.tokenCount(col("text")).as("n_tok"))
    Sampling.capTokenBudget(toks, "grp", "doc_id", "n_tok", 2000L)
      .groupBy("grp").agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n_tok").cast("long").as("tok"))
      .orderBy("grp")
  }
  /** Token-bounded shard export manifest: docs laid end-to-end in id
    * order, shard = floor(start_token / 5000); the oracle replays the
    * same window prefix sum with integer division, so shard boundaries,
    * counts and id ranges are engine-exact. */
  private val qExportShards = dfQ { s =>
    val docs = s.table("documents")
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
    val assigned = Sampling.assignShards(toks, "doc_id", "n_tok", 5000L)
    Sampling.shardManifest(assigned, "doc_id", "n_tok")
  }
  private val oExportShards =
    """WITH toks AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
      |  FROM documents),
      |cum AS (SELECT doc_id, n_tok,
      |    sum(n_tok) OVER (ORDER BY doc_id) AS c FROM toks),
      |assigned AS (SELECT doc_id, n_tok,
      |    CAST((c - n_tok) // 5000 AS BIGINT) AS shard FROM cum)
      |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS first_id, max(doc_id) AS last_id
      |FROM assigned GROUP BY shard""".stripMargin

  private val oTokenBudget =
    """WITH toks AS (SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 4 AS grp,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
      |  FROM documents),
      |capped AS (SELECT * FROM (
      |    SELECT grp, doc_id, n_tok,
      |           sum(n_tok) OVER (PARTITION BY grp ORDER BY doc_id) AS cum
      |    FROM toks) WHERE cum <= 2000)
      |SELECT grp, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok
      |FROM capped GROUP BY grp ORDER BY grp""".stripMargin

  /** Decontamination: 8-gram overlap between a train half and an eval
    * half of the corpus — exact pair set and shared-gram counts. */
  private val qDecontam = dfQ { s =>
    val docs = s.table("documents")
    val train = docs.where(col("doc_id") % 2 === 1)
    val ev = docs.where(col("doc_id") % 2 === 0)
    TextAnalysis.contaminationPairs(train, ev, "doc_id", "text", n = 8)
      .select(col("train_id"), col("eval_id"), col("n_shared").cast("long").as("n_shared"))
      .orderBy("train_id", "eval_id")
  }
  private val oDecontam =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
      |  FROM documents WHERE length(trim(text)) > 0),
      |grams AS (SELECT doc_id, array_to_string(words[i:i+7], ' ') AS g
      |  FROM w, LATERAL unnest(generate_series(1, greatest(len(words) - 7, 0))) t(i)),
      |train AS (SELECT * FROM grams WHERE doc_id % 2 = 1),
      |ev    AS (SELECT * FROM grams WHERE doc_id % 2 = 0)
      |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
      |       CAST(count(DISTINCT t.g) AS BIGINT) AS n_shared
      |FROM train t JOIN ev e ON t.g = e.g
      |GROUP BY 1, 2 ORDER BY train_id, eval_id""".stripMargin

  /** Per-doc top-5 TF-IDF terms; ranking on the 4-decimal-rounded score
    * with term tiebreak keeps the selection engine-stable (libm last-ulp
    * differences in ln cannot reorder). */
  private val qTfidf = dfQ { s =>
    TextAnalysis.tfidfTopTerms(s.table("documents"), "doc_id", "text", k = 5)
      .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"),
        col("score_r"), col("rnk").cast("int").as("rnk"))
      .orderBy("doc_id", "rnk")
  }
  private val oTfidf =
    """WITH occ AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents WHERE length(trim(text)) > 0),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM occ GROUP BY 1, 2),
      |n AS (SELECT count(*) AS n FROM documents WHERE length(trim(text)) > 0),
      |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
      |scored AS (SELECT doc_id, term, tf,
      |    round(CAST(tf AS DOUBLE) * (ln(CAST(1 + (SELECT n FROM n) AS DOUBLE) / CAST(1 + dfc AS DOUBLE)) + 1.0), 4) AS score_r
      |  FROM tf JOIN dfq USING (term)),
      |ranked AS (SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score_r,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_r DESC, term) AS INT) AS rnk
      |  FROM scored)
      |SELECT * FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin

  /** Pairwise source vocabulary overlap: exact word-set jaccard per
    * source pair — the data-mixing "how much do my components overlap"
    * diagnostic. Integer until the final division. */
  private val qSourceOverlap = dfQ { s =>
    TextAnalysis.sourceVocabOverlap(s.table("documents"), "source", "text")
      .select(col("src_a"), col("src_b"), col("shared").cast("long").as("shared"),
        col("jaccard_r"))
      .orderBy("src_a", "src_b")
  }
  private val oSourceOverlap =
    """WITH sw AS (SELECT DISTINCT source AS src, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents WHERE length(trim(text)) > 0),
      |vocab AS (SELECT src, count(*) AS nv FROM sw GROUP BY 1),
      |shared AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared
      |  FROM sw a JOIN sw b ON a.w = b.w AND a.src < b.src GROUP BY 1, 2)
      |SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared,
      |  round(CAST(shared AS DOUBLE) / CAST(va.nv + vb.nv - shared AS DOUBLE), 4) AS jaccard_r
      |FROM shared JOIN vocab va ON src_a = va.src JOIN vocab vb ON src_b = vb.src
      |ORDER BY src_a, src_b""".stripMargin

  /** Duplicate-text spans over the dup-injected corpus: cross-doc 8-gram
    * hits merged into maximal per-doc spans (Lee et al. 2021 substring
    * dedup, word-gram granularity). Planted exact dups must come out
    * fully covered (covered == n_tok, one span); the oracle replays the
    * identical integer span arithmetic with a lag window. */
  private val qDupSpans = dfQ { s =>
    Dedup.duplicateSpans(s.table("docs_aug"), "doc_id", "text", n = 8)
  }
  private val oDupSpans =
    s"""WITH $oracleDocsAug,
       |d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |      FROM docs_aug WHERE length(trim(text)) > 0
       |        AND len(regexp_split_to_array(trim(text), '\\s+')) >= 8),
       |g AS (SELECT doc_id, len(w) AS n_tok, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS g
       |      FROM d, LATERAL unnest(generate_series(1, len(w) - 7)) t(i)),
       |dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS c FROM g GROUP BY 1) WHERE c > 1),
       |diffs AS (SELECT doc_id, n_tok, pos,
       |            pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS dd
       |          FROM g JOIN dup USING (g))
       |SELECT doc_id, CAST(any_value(n_tok) AS BIGINT) AS n_tok,
       |  CAST(1 + sum(CASE WHEN dd > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       |  CAST(8 + sum(CASE WHEN dd IS NOT NULL THEN least(dd, 8) ELSE 0 END) AS BIGINT) AS covered
       |FROM diffs GROUP BY doc_id""".stripMargin

  /** Duplicate-span EXCISION (Lee et al. 2021's payoff step): every word
    * position covered by a cross-doc duplicated 8-gram is removed, except
    * in the keeper doc (min id among the gram's holders). Planted exact
    * copies (doc_id + 1000000) must come out empty while their originals
    * survive intact; the oracle replays the identical keep-first rewrite
    * word-by-word. */
  private val qDupSpanRemoval = dfQ { s =>
    Dedup.removeDuplicateSpans(s.table("docs_aug"), "doc_id", "text", n = 8)
  }
  private val oDupSpanRemoval =
    s"""WITH $oracleDocsAug,
       |d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |      FROM docs_aug WHERE length(trim(text)) > 0),
       |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS g
       |      FROM d, LATERAL unnest(generate_series(1, len(w) - 7)) t(i)
       |      WHERE len(w) >= 8),
       |keep AS (SELECT g, min(doc_id) AS keep_id FROM g GROUP BY g
       |         HAVING count(DISTINCT doc_id) > 1),
       |cov AS (SELECT DISTINCT h.doc_id, h.pos + o AS k
       |        FROM (SELECT g.doc_id, g.pos FROM g JOIN keep USING (g)
       |              WHERE g.doc_id <> keep.keep_id) h,
       |        LATERAL unnest(generate_series(0, 7)) t(o)),
       |words AS (SELECT doc_id, w[i] AS word, i - 1 AS k
       |          FROM d, LATERAL unnest(generate_series(1, len(w))) t(i)),
       |kept AS (SELECT w.doc_id, count(*) AS n_after,
       |           string_agg(w.word, ' ' ORDER BY w.k) AS text
       |         FROM words w LEFT JOIN cov c ON w.doc_id = c.doc_id AND w.k = c.k
       |         WHERE c.k IS NULL GROUP BY w.doc_id),
       |base AS (SELECT doc_id,
       |           CASE WHEN length(trim(text)) = 0 THEN 0
       |                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ntb
       |         FROM docs_aug)
       |SELECT b.doc_id, CAST(b.ntb AS BIGINT) AS n_tok_before,
       |       CAST(coalesce(k.n_after, 0) AS BIGINT) AS n_tok_after,
       |       coalesce(k.text, '') AS text
       |FROM base b LEFT JOIN kept k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** FUZZY decontamination: cross-corpus MinHash-LSH (train half vs eval
    * half) surfacing word-REORDERED near-copies that the exact 8-gram
    * `l_decontam` misses. Planted: every 7th train doc re-enters the eval
    * side with its word order reversed (same word SET → identical minhash
    * signature → collides in every band, so LSH must surface it). The
    * candidate set is then restricted to word-set-identical pairs, which
    * the oracle computes exactly; est_jaccard is 1.0 for such pairs by
    * construction, pinning the signature-agreement estimator too. */
  private val qDecontamFuzzy = dfQ { s =>
    val docs = s.table("documents").where(length(trim(col("text"))) > 0)
    val train = docs.where(col("doc_id") % 2 === 1)
    val planted = train.where(col("doc_id") % 7 === 1)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        array_join(reverse(split(trim(col("text")), "\\s+")), " ").as("text"))
    val ev = docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text")).unionByName(planted)
    val cands = Dedup.minhashCrossPairs(train, ev, "doc_id", "text",
      numHashes = 64, bands = 4)
    def canon(d: DataFrame) = d.select(col("doc_id"),
      md5(array_join(array_sort(array_distinct(split(trim(col("text")), "\\s+"))), " "))
        .as("canon"))
    cands.join(canon(train).as("ct"), col("id_a") === col("ct.doc_id"))
      .join(canon(ev).as("ce"), col("id_b") === col("ce.doc_id"))
      .where(col("ct.canon") === col("ce.canon"))
      .select(col("id_a").as("train_id"), col("id_b").as("eval_id"),
        round(col("est_jaccard"), 4).as("est_j"))
  }
  /** LIKE-FOR-LIKE fuzzy-decontam oracle (VERDICT r8 item 6): DuckDB runs
    * the SAME cross-corpus 64-hash/4-band MinHash-LSH chain as the Spark
    * side (shared [[oracleMinhashChain]]), restricts candidates to
    * train-side x eval-side, then applies the word-set-identical filter
    * and the signature-agreement estimate — so a bench ratio of this
    * query compares engines running the identical algorithm, not LSH vs
    * a canon-equality shortcut. */
  private val oDecontamFuzzy =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0),
       |train AS (SELECT doc_id, text FROM d WHERE doc_id % 2 = 1),
       |planted AS (SELECT doc_id + 10000000 AS doc_id,
       |    array_to_string(list_transform(range(len(w), 0, -1), i -> w[i]), ' ') AS text
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |        FROM train WHERE doc_id % 7 = 1)),
       |ev AS (SELECT doc_id, text FROM d WHERE doc_id % 2 = 0 UNION ALL SELECT * FROM planted),
       |allc AS (SELECT doc_id, text FROM train UNION ALL SELECT doc_id, text FROM ev),
       |${oracleMinhashChain("allc")},
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
       |  WHERE a.doc_id IN (SELECT doc_id FROM train)
       |    AND b.doc_id IN (SELECT doc_id FROM ev)),
       |canon AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\\s+'))), ' ')) AS canon FROM allc)
       |SELECT c.id_a AS train_id, c.id_b AS eval_id,
       |  round(len(list_filter(range(1, 65), k -> sa.sig[k] = sb.sig[k])) / 64.0, 4) AS est_j
       |FROM cands c
       |JOIN sigl sa ON c.id_a = sa.doc_id JOIN sigl sb ON c.id_b = sb.doc_id
       |JOIN canon ca ON c.id_a = ca.doc_id JOIN canon cb ON c.id_b = cb.doc_id
       |WHERE ca.canon = cb.canon""".stripMargin

  /** Incremental near-dedup: a NEW batch checked against the persisted
    * [[Dedup.bandIndex]] of the existing corpus — the production shape
    * for continuously updated corpora (the corpus text is never
    * re-read; each batch costs batch × collisions). Batch = exact
    * copies of every 10th doc (must flag dup, collide in all bands) +
    * salted variants of every (10k+5)th doc (one unique token appended).
    * The oracle replays the shared minhash chain and the same
    * min-collider aggregation, so dup/dup_of are engine-exact. */
  private val qDedupIncremental = dfQ { s =>
    val docs = s.table("documents").where(length(trim(col("text"))) > 0)
    val copies = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val salted = docs.where(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" zz"), col("doc_id").cast("string")).as("text"))
    val batch = copies.unionByName(salted)
    val index = Dedup.bandIndex(docs, "doc_id", "text", numHashes = 64, bands = 4)
    Dedup.nearDupAgainstIndex(batch, index, "doc_id", "text",
        numHashes = 64, bands = 4)
  }
  private val oDedupIncremental =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0),
       |copies AS (SELECT doc_id + 1000000 AS doc_id, text FROM d WHERE doc_id % 10 = 0),
       |salted AS (SELECT doc_id + 2000000 AS doc_id,
       |    text || ' zz' || CAST(doc_id AS VARCHAR) AS text FROM d WHERE doc_id % 10 = 5),
       |batch AS (SELECT * FROM copies UNION ALL SELECT * FROM salted),
       |allc AS (SELECT doc_id, text FROM d UNION ALL SELECT doc_id, text FROM batch),
       |${oracleMinhashChain("allc")},
       |hits AS (
       |  SELECT b.doc_id, min(i.doc_id) AS dup_of
       |  FROM bands b JOIN bands i
       |    ON b.band = i.band AND b.bucket = i.bucket AND b.sub = i.sub
       |  WHERE b.doc_id IN (SELECT doc_id FROM batch)
       |    AND i.doc_id IN (SELECT doc_id FROM d)
       |  GROUP BY b.doc_id)
       |SELECT bt.doc_id, h.dup_of IS NOT NULL AS dup, h.dup_of
       |FROM batch bt LEFT JOIN hits h ON bt.doc_id = h.doc_id""".stripMargin

  /** BLOOM decontamination: the zero-corpus-shuffle membership shape —
    * eval-side gram positions build a broadcast bitset, the train side is
    * scanned map-side-only. Planted: every 6th even (eval) doc re-enters
    * the train side verbatim, so all its grams must flag. False positives
    * are deterministic (same MD5 slicing mod the bitset size in both
    * engines), so the oracle's exact replay agrees bit-for-bit. The query
    * runs the library's AUTO-derived bitset size; at oracle scale the
    * eval gram count sits under the 2^22 floor, which is the constant the
    * oracle SQL replays. */
  private val qDecontamBloom = dfQ { s =>
    val docs = s.table("documents").where(length(trim(col("text"))) > 0)
    val planted = docs.where(col("doc_id") % 2 === 0 && col("doc_id") % 6 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val train = docs.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text")).unionByName(planted)
    val ev = docs.where(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    Dedup.bloomDecontam(train, ev, "doc_id", "text", n = 8)
      .select(col("doc_id").as("train_id"), col("n_flagged"))
  }
  private val oDecontamBloom =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0),
      |train AS (SELECT doc_id, text FROM d WHERE doc_id % 2 = 1
      |          UNION ALL
      |          SELECT doc_id + 20000000 AS doc_id, text FROM d WHERE doc_id % 2 = 0 AND doc_id % 6 = 0),
      |ev AS (SELECT doc_id, text FROM d WHERE doc_id % 2 = 0),
      |tw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM train
      |       WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 8),
      |tg AS (SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS hx
      |       FROM tw, LATERAL unnest(generate_series(1, len(w) - 7)) t(i)),
      |ew AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM ev
      |       WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 8),
      |eg AS (SELECT md5(array_to_string(w[i:i+7], ' ')) AS hx
      |       FROM ew, LATERAL unnest(generate_series(1, len(w) - 7)) t(i)),
      |ep AS (SELECT DISTINCT ('0x' || substr(hx, k * 8 + 1, 8))::BIGINT % 4194304 AS p
      |       FROM eg, range(0, 4) t(k)),
      |tp AS (SELECT doc_id, hx, ('0x' || substr(hx, k * 8 + 1, 8))::BIGINT % 4194304 AS p
      |       FROM tg, range(0, 4) t(k)),
      |hits AS (SELECT doc_id, hx FROM tp JOIN ep USING (p)
      |         GROUP BY doc_id, hx HAVING count(*) = 4)
      |SELECT doc_id AS train_id, CAST(count(*) AS BIGINT) AS n_flagged
      |FROM hits GROUP BY 1""".stripMargin

  /** DSIR importance weights: target = the corpus's English docs, raw =
    * everything else; each raw doc scored by the hashed-unigram
    * log-likelihood ratio (resampling by exp(weight) shifts the corpus
    * toward the target). The oracle replays the identical md5 bucketing,
    * Laplace smoothing, and per-doc sum. */
  private val qDsir = dfQ { s =>
    TextAnalysis.importanceWeights(s.table("documents"),
        col("lang") === "en", "doc_id", "text", buckets = 1024)
      .select(col("doc_id"), col("n_tok"), round(col("weight"), 4).as("weight_r"))
      .orderBy("doc_id")
  }
  private val oDsir =
    """WITH d AS (SELECT doc_id, (lang = 'en') AS t, text FROM documents WHERE length(trim(text)) > 0),
      |w AS (SELECT doc_id, t, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM d),
      |b AS (SELECT doc_id, t, ('0x' || substr(md5(tok), 1, 7))::BIGINT % 1024 AS bkt FROM w),
      |c AS (SELECT bkt, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
      |             sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cr FROM b GROUP BY 1),
      |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM c),
      |r AS (SELECT bkt, ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE))
      |           - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE)) AS lr FROM c, tot)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, round(sum(lr), 4) AS weight_r
      |FROM b JOIN r USING (bkt) WHERE NOT t
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val qJaccard = dfQ { s =>
    val docs = s.table("documents")
    docs.select(col("doc_id"),
        (Dedup.ngramJaccard(col("text"), col("text"), lit(3)) === 1.0).as("self_one"),
        (Dedup.wordJaccard(col("text"), col("text")) === 1.0).as("word_self_one"),
        Dedup.ngramJaccard(col("text"), reverse(col("text")), lit(3)).between(0.0, 1.0).as("bounded"))
      .orderBy("doc_id")
  }
  private val oJaccard =
    "SELECT doc_id, true AS self_one, true AS word_self_one, true AS bounded FROM documents ORDER BY doc_id"

  private val qAnnTop1 = dfQ { s =>
    val emb = s.table("embeddings")
    Ann.bruteForceTopK(emb.where(col("vec_id") % 50 === 0), emb, 1)
      .select(col("q_id"), col("c_id"), round(col("sim"), 4).as("sim_r"))
  }
  private val oAnnTop1 =
    """SELECT q.vec_id AS q_id,
      | arg_max(c.vec_id, list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) AS c_id,
      | round(max(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))), 4) AS sim_r
      |FROM embeddings q JOIN embeddings c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id
      |GROUP BY q.vec_id""".stripMargin

  /** IVF path: a planted exact copy assigns to the same coarse centroid as
    * its original, so top-1 through the IVF probe must recover it. */
  private val qAnnIvf = dfQ { s =>
    val emb = s.table("embeddings")
    val copies = emb.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionAll(copies)
    Ann.ivfTopK(copies, corpus, k = 1)
      .select(col("q_id"), col("c_id"))
  }
  private val oAnnIvf =
    """SELECT vec_id + 100000 AS q_id, vec_id AS c_id FROM embeddings
      |WHERE vec_id % 50 = 0""".stripMargin

  /** LSH multiprobe path: an exact copy hashes to the same SRP signature
    * bucket as its original, so top-1 through the bucketed join must
    * recover it (same planted-copy oracle as IVF). */
  private val qAnnLsh = dfQ { s =>
    val emb = s.table("embeddings")
    val copies = emb.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionAll(copies)
    Ann.lshTopK(copies, corpus, k = 1)
      .select(col("q_id"), col("c_id"))
  }

  /** Recall@10 of the approximate ANN paths against exact brute force —
    * quality reported as DATA (deterministic hashing -> pinned values) plus
    * a floor assertion, so an LSH/IVF regression trips the oracle. */
  private val qAnnRecall = dfQ { s =>
    val emb = s.table("embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
    val exact = Ann.bruteForceTopK(queries, emb, 10).select("q_id", "c_id")
    val lsh = Ann.lshTopK(queries, emb, 10).select("q_id", "c_id")
    val ivf = Ann.ivfTopK(queries, emb, 10).select("q_id", "c_id")
    val lshHits = exact.join(lsh, Seq("q_id", "c_id"), "left_semi")
      .agg(count(lit(1)).cast("double").as("lsh_hits"))
    val ivfHits = exact.join(ivf, Seq("q_id", "c_id"), "left_semi")
      .agg(count(lit(1)).cast("double").as("ivf_hits"))
    val total = exact.agg(count(lit(1)).cast("double").as("total"))
    lshHits.crossJoin(ivfHits).crossJoin(total)
      .select(
        round(col("lsh_hits") / col("total"), 4).as("lsh_recall"),
        round(col("ivf_hits") / col("total"), 4).as("ivf_recall"),
        (col("lsh_hits") / col("total") >= 0.10).as("lsh_floor"),
        (col("ivf_hits") / col("total") >= 0.30).as("ivf_floor"),
        col("total").cast("long").as("n_pairs"))
  }
  // measured at sf0.01 (the correctness SF): near-random synthetic
  // embeddings make SRP-LSH recall genuinely low (little cosine structure
  // to hash); IVF's 4/16 probe scans ~25% of the corpus. The floors trip
  // on regressions, the exact values pin determinism.
  private val oAnnRecall =
    """SELECT CAST(0.12 AS DOUBLE) AS lsh_recall, CAST(0.47 AS DOUBLE) AS ivf_recall,
      | true AS lsh_floor, true AS ivf_floor, CAST(100 AS BIGINT) AS n_pairs""".stripMargin

  /** Recall@10 of product-quantization ADC search (8 subspaces × 64
    * centroids: 64-float vectors → 8-byte codes, 32× compression — the
    * at-rest scale path for embedding search) against exact brute force.
    * Deterministic sample + driver Lloyd's pin the exact recall value;
    * the floor assertion trips on a quality regression. */
  private val qAnnPq = dfQ { s =>
    val emb = s.table("embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
    val exact = Ann.bruteForceTopK(queries, emb, 10).select("q_id", "c_id")
    val pq = Ann.pqTopK(queries, emb, 10, ksub = 64).select("q_id", "c_id")
    val hits = exact.join(pq, Seq("q_id", "c_id"), "left_semi")
      .agg(count(lit(1)).cast("double").as("pq_hits"))
    val total = exact.agg(count(lit(1)).cast("double").as("total"))
    hits.crossJoin(total)
      .select(
        round(col("pq_hits") / col("total"), 4).as("pq_recall"),
        (col("pq_hits") / col("total") >= 0.30).as("pq_floor"),
        lit(8).as("code_bytes"), lit(256).as("raw_bytes"),
        col("total").cast("long").as("n_pairs"))
  }
  private val oAnnPq =
    """SELECT CAST(0.41 AS DOUBLE) AS pq_recall, true AS pq_floor,
      | 8 AS code_bytes, 256 AS raw_bytes, CAST(100 AS BIGINT) AS n_pairs""".stripMargin

  /** IVF-PQ recall@10 vs brute force: coarse routing + residual product
    * quantization (the billion-scale index shape) must stay above the
    * floor; deterministic training pins the exact value. */
  private val qAnnIvfPq = dfQ { s =>
    val emb = s.table("embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
    val exact = Ann.bruteForceTopK(queries, emb, 10).select("q_id", "c_id")
    val apx = Ann.ivfPqTopK(queries, emb, 10).select("q_id", "c_id")
    val hits = exact.join(apx, Seq("q_id", "c_id"), "left_semi")
      .agg(count(lit(1)).cast("double").as("hits"))
    val total = exact.agg(count(lit(1)).cast("double").as("total"))
    hits.crossJoin(total)
      .select(
        round(col("hits") / col("total"), 4).as("ivfpq_recall"),
        (col("hits") / col("total") >= 0.25).as("ivfpq_floor"),
        col("total").cast("long").as("n_pairs"))
  }
  private val oAnnIvfPq =
    """SELECT CAST(0.3 AS DOUBLE) AS ivfpq_recall, true AS ivfpq_floor,
      | CAST(100 AS BIGINT) AS n_pairs""".stripMargin

  /** BENCH-shaped IVF-PQ: a FIXED 100-query panel against the growing
    * corpus, index end-to-end (train + encode + search), NO brute-force
    * side. r12's verdict flagged the old bench row (l_ann_ivfpq, kept
    * above as the correctness/recall audit) as superlinear BY ROW DESIGN —
    * its query set grew with the corpus and it embedded its own quadratic
    * exact-search oracle, so the bench measured the oracle, not the index.
    * Deterministic training pins the aggregate at the gate SF. */
  private val qAnnIvfPqBench = dfQ { s =>
    val emb = s.table("embeddings")
    val panel = emb.where(col("vec_id") < 100)
    Ann.ivfPqTopK(panel, emb, 10)
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(col("c_id")).cast("long").as("sum_c"))
  }
  private val oAnnIvfPqBench =
    """SELECT CAST(1000 AS BIGINT) AS n_pairs, CAST(257763 AS BIGINT) AS sum_c""".stripMargin

  /** IVF-PQ index AT REST: write the cell-partitioned codes + bounded
    * model sidecars, reload, search the fixed panel from the persisted
    * index, and prove it returns exactly the in-memory search's pairs.
    * The search's probe-union cell filter becomes partition pruning on
    * the loaded index (IvfPqPersistSpec pins the pruned-scan plan), so
    * query cost at rest is independent of corpus size — the production
    * serving shape. All actions are eager; the returned frame is a
    * materialized one-row literal, so the temp index dir never outlives
    * the build. */
  private val qAnnIvfPqPersist = dfQ { s =>
    import s.implicits._
    val emb = s.table("embeddings")
    val panel = emb.where(col("vec_id") < 100)
    val model = Ann.ivfPqTrain(emb)
    val codes = Ann.ivfPqEncode(model, emb)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx")
    try {
      Ann.ivfPqWriteIndex(model, codes, dir.toString)
      val (m2, c2) = Ann.ivfPqLoadIndex(s, dir.toString)
      val mem = Ann.ivfPqSearch(model, codes, panel, 10).select("q_id", "c_id")
      val disk = Ann.ivfPqSearch(m2, c2, panel, 10).select("q_id", "c_id")
      val onlyDisk = disk.exceptAll(mem).count()
      val onlyMem = mem.exceptAll(disk).count()
      val (n, sumC) = disk.agg(count(lit(1)).cast("long"),
        sum(col("c_id")).cast("long")).as[(Long, Long)].head()
      Seq((n, sumC, onlyDisk + onlyMem == 0L))
        .toDF("n_pairs", "sum_c", "disk_matches_memory")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
  private val oAnnIvfPqPersist =
    """SELECT CAST(1000 AS BIGINT) AS n_pairs, CAST(257763 AS BIGINT) AS sum_c,
      | true AS disk_matches_memory""".stripMargin

  /** Frozen-model incremental append to the persisted IVF-PQ index (the
    * daily-ingest serving path): build + persist on the even-id half,
    * append the odd-id half with the index's OWN loaded model, and prove
    * search-after-append equals search-after-full-rebuild under that
    * frozen model — then pin the appended search's exact pair aggregate.
    * Deterministic end to end (hash-ordered trainer sample, stateless
    * encode), so the values pin as literals; IvfPqPersistSpec carries the
    * structural twin. */
  private val qAnnIvfPqIncr = dfQ { s =>
    import s.implicits._
    val emb = s.table("embeddings")
    val base = emb.where(col("vec_id") % 2 === 0)
    val delta = emb.where(col("vec_id") % 2 === 1)
    val panel = emb.where(col("vec_id") < 100)
    val model = Ann.ivfPqTrain(base)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_incr")
    try {
      Ann.ivfPqWriteIndex(model, Ann.ivfPqEncode(model, base), dir.toString)
      Ann.ivfPqAppendIndex(s, dir.toString, delta)
      val (mA, cA) = Ann.ivfPqLoadIndex(s, dir.toString)
      val appended = Ann.ivfPqSearch(mA, cA, panel, 10).select("q_id", "c_id")
      val rebuilt = Ann.ivfPqSearch(model, Ann.ivfPqEncode(model, emb), panel, 10)
        .select("q_id", "c_id")
      val diff = appended.exceptAll(rebuilt).count() + rebuilt.exceptAll(appended).count()
      val (n, sumC) = appended.agg(count(lit(1)).cast("long"),
        sum(col("c_id")).cast("long")).as[(Long, Long)].head()
      Seq((n, sumC, diff == 0L))
        .toDF("n_pairs", "sum_c", "append_matches_rebuild")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
  private val oAnnIvfPqIncr =
    """SELECT CAST(1000 AS BIGINT) AS n_pairs, CAST(252703 AS BIGINT) AS sum_c,
      | true AS append_matches_rebuild""".stripMargin

  /** Distributed BPE tokenizer training (Sennrich et al. 2016): the first
    * 12 learned merges over the documents corpus. Exact integer pair
    * counts + deterministic (count desc, pair asc) tiebreak make the merge
    * table engine- and partitioning-exact, so it pins as literal values
    * (measured once at the correctness SF; BpeSpec separately proves the
    * distributed trainer equals a driver-side reference implementation). */
  private val qBpeTrain = dfQ { s =>
    Bpe.train(s.table("documents"), "text", numMerges = 12, minCount = 2)
  }
  /** Full 12-round DuckDB replay of the BPE merge loop (was pinned VALUES
    * until r13, which left the most expensive bench row with no oracle
    * ratio). Symbol sequences ride a double-spaced string so a plain
    * `replace(' l  r ', ' lr ')` is exactly the greedy left-to-right
    * non-overlapping merge; each round's argmax uses the same
    * (count desc, pair asc) tiebreak as Bpe.train. MATERIALIZED keeps the
    * chained CTEs from inlining exponentially. */
  private def bpeReplaySql(k: Int, minCount: Long): String = {
    val head =
      s"""WITH w AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '[^a-z]+')) AS w
         |    FROM documents) t
         |  WHERE length(w) > 0 GROUP BY w HAVING count(*) >= $minCount
         |),
         |v0 AS MATERIALIZED (
         |  SELECT ' ' || array_to_string(regexp_split_to_array(w, ''), '  ') || '  </w> ' AS s, cnt FROM w
         |)""".stripMargin
    val rounds = (1 to k).map { i =>
      val p = i - 1
      s"""p$i AS MATERIALIZED (
         |  SELECT l[i] AS a, l[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT str_split(trim(s), '  ') AS l, cnt FROM v$p) t,
         |       LATERAL unnest(generate_series(1, len(l)-1)) u(i)
         |  GROUP BY 1, 2
         |),
         |b$i AS MATERIALIZED (
         |  SELECT $i AS rank, a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1
         |),
         |v$i AS MATERIALIZED (
         |  SELECT replace(s,
         |    ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ',
         |    ' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ') AS s, cnt
         |  FROM v$p
         |)""".stripMargin
    }
    val sel = (1 to k)
      .map(i => s"""SELECT rank, a AS "left", b AS "right", c AS pair_count FROM b$i""")
      .mkString(" UNION ALL ")
    (head +: rounds).mkString(",\n") + "\n" + sel + " ORDER BY rank"
  }
  private val oBpeTrain = bpeReplaySql(12, 2)

  /** Byte-level BPE (GPT-2 contract: regex pre-tokenization, UTF-8 byte
    * alphabet, no EOW). Spark learns the merges; DuckDB replays ALL of it
    * from the same parquet: the lookahead `\s+(?!\S)` pre-tokenizer is
    * emulated lookahead-free for RE2 by inserting a \x01 sentinel before
    * the LAST space of each whitespace run that precedes a non-space
    * (str_split on the sentinel, then a plain alternation per segment —
    * provably the same token stream); pre-token bytes come from
    * to_hex(encode(w)) two-hex-digit slices; the GPT-2 printable byte
    * alphabet is the CASE over byte ranges (space -> chr(288) 'Ġ'); the
    * k merge rounds ride the same double-spaced replace replay as
    * [[bpeReplaySql]]. */
  private val qBpeBytes = dfQ { s =>
    Bpe.trainBytes(s.table("documents"), "text", numMerges = 12, minCount = 2)
      .orderBy("rank")
  }
  private def bpeBytesReplaySql(k: Int, minCount: Long,
                                encodeTotals: Boolean = false): String = {
    val byteCase =
      """CASE WHEN code BETWEEN 33 AND 126 THEN chr(code)
        |     WHEN code BETWEEN 161 AND 172 THEN chr(code)
        |     WHEN code BETWEEN 174 AND 255 THEN chr(code)
        |     WHEN code < 33 THEN chr(256 + code)
        |     WHEN code BETWEEN 127 AND 160 THEN chr(289 + code - 127)
        |     ELSE chr(323) END""".stripMargin
    val head =
      s"""WITH pt AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(flatten(list_transform(
         |      str_split(regexp_replace(text,
         |          '([\t\n\f\r ])([^\t\n\f\r ])', chr(1) || '\\1\\2', 'g'), chr(1)),
         |      seg -> regexp_extract_all(seg,
         |        '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\t\n\f\r \\p{L}\\p{N}]+|[\t\n\f\r ]+')))) AS w
         |    FROM documents WHERE text IS NOT NULL) t
         |  WHERE length(w) > 0 GROUP BY w HAVING count(*) >= $minCount
         |),
         |v0 AS MATERIALIZED (
         |  SELECT ' ' || string_agg(sym, '  ' ORDER BY i) || ' ' AS s, any_value(cnt) AS cnt
         |  FROM (
         |    SELECT w, cnt, i, $byteCase AS sym FROM (
         |      SELECT w, cnt, i, ('0x' || substr(to_hex(encode(w)), 2*i - 1, 2))::INT AS code
         |      FROM pt, LATERAL unnest(generate_series(1, octet_length(encode(w)))) u(i)) z) zz
         |  GROUP BY w
         |)""".stripMargin
    val rounds = (1 to k).map { i =>
      val p = i - 1
      s"""p$i AS MATERIALIZED (
         |  SELECT l[i] AS a, l[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT str_split(trim(s), '  ') AS l, cnt FROM v$p) t,
         |       LATERAL unnest(generate_series(1, len(l)-1)) u(i)
         |  GROUP BY 1, 2
         |),
         |b$i AS MATERIALIZED (
         |  SELECT $i AS rank, a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1
         |),
         |v$i AS MATERIALIZED (
         |  SELECT replace(s,
         |    ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ',
         |    ' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ') AS s, cnt
         |  FROM v$p
         |)""".stripMargin
    }
    val sel =
      if (encodeTotals)
        // v_k is the corpus with the k merges applied in rank order —
        // equivalent to the greedy lowest-rank-first encode, because a
        // merge can only CREATE pairs of strictly higher rank (its merged
        // symbol postdates them at train time), so in-order application
        // never misses a lower-rank merge. Totals over v_k therefore
        // equal Bpe.encodeBytes's output exactly.
        s"""SELECT CAST(sum(cnt * len(str_split(trim(s), '  '))) AS BIGINT) AS total_tokens,
           |  (SELECT CAST(count(DISTINCT sym) AS BIGINT) FROM
           |     (SELECT unnest(str_split(trim(s), '  ')) AS sym FROM v$k) z) AS vocab_size
           |FROM v$k""".stripMargin
      else (1 to k)
        .map(i => s"""SELECT rank, a AS "left", b AS "right", c AS pair_count FROM b$i""")
        .mkString(" UNION ALL ") + " ORDER BY rank"
    (head +: rounds).mkString(",\n") + "\n" + sel
  }
  private val oBpeBytes = bpeBytesReplaySql(12, 2)

  /** Byte-level ENCODE totals, fully replayed: train with minCount=1 (so
    * the replay vocabulary covers every pre-token), then the corpus
    * token total and distinct-subword vocab come from the replay's final
    * merged state — see the equivalence note in [[bpeBytesReplaySql]]. */
  private val qBpeBytesEncode = dfQ { s =>
    val docs = s.table("documents")
    val merges = Bpe.trainBytes(docs, "text", numMerges = 12, minCount = 1)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    Bpe.encodeBytes(docs, "text", merges)
      .select(explode(col("bpe_tokens")).as("tok"))
      .agg(count(lit(1)).cast("long").as("total_tokens"),
        countDistinct(col("tok")).cast("long").as("vocab_size"))
  }
  private val oBpeBytesEncode = bpeBytesReplaySql(12, 1, encodeTotals = true)

  /** The shipped tokenizer artifact: 256-byte alphabet + one row per
    * learned merge, ids in GPT-2's vocab layout. DuckDB rebuilds the
    * whole table — alphabet from the byte-map CASE over range(0,256),
    * merge tokens from the replay's per-round argmax rows. */
  private val qBpeVocab = dfQ { s =>
    import s.implicits._
    val merges = Bpe.trainBytes(s.table("documents"), "text", numMerges = 12, minCount = 2)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    Bpe.vocabBytes(merges).toDF("id", "token")
      .select(col("id").cast("long").as("id"), col("token")).orderBy("id")
  }
  private val oBpeVocab = {
    val byteCase =
      """CASE WHEN i BETWEEN 33 AND 126 THEN chr(CAST(i AS INT))
        |     WHEN i BETWEEN 161 AND 172 THEN chr(CAST(i AS INT))
        |     WHEN i BETWEEN 174 AND 255 THEN chr(CAST(i AS INT))
        |     WHEN i < 33 THEN chr(CAST(256 + i AS INT))
        |     WHEN i BETWEEN 127 AND 160 THEN chr(CAST(289 + i - 127 AS INT))
        |     ELSE chr(323) END""".stripMargin
    val replay = bpeBytesReplaySql(12, 2)
    // reuse the replay as a subquery for the merge tokens; the alphabet
    // is the byte-map CASE over range(0,256)
    s"""WITH mt AS ($replay)
       |SELECT CAST(i AS BIGINT) AS id, $byteCase AS token FROM range(0, 256) t(i)
       |UNION ALL
       |SELECT CAST(255 + rank AS BIGINT) AS id, "left" || "right" AS token FROM mt
       |ORDER BY id""".stripMargin
  }

  /** WebText-style linear quality/domain gate: hashed bag-of-words
    * logistic regression trained distributed (quantized-integer gradient
    * treeAggregate — partitioning-independent, so the learned weights and
    * every downstream count are exact), here on the lang=='en' label the
    * synthetic corpus provides. Pins corpus size, train accuracy, and the
    * kept-set size at threshold 0.5. */
  private val qQualityClassifier = dfQ { s =>
    val docs = s.table("documents").withColumn("y", col("text").rlike("\\bspark\\b"))
    val model = Classifier.train(docs, "text", "y", dim = 1 << 15, iters = 80, lr = 10.0, l2 = 0.0)
    Classifier.score(docs, "text", model)
      .select(col("y"), (col("quality_prob") >= 0.5).as("pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"),
        sum(when(col("pred"), 1L).otherwise(0L)).as("n_kept"))
  }
  private val oQualityClassifier =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(count(*) AS BIGINT) AS n_correct,
      | CAST(count(*) FILTER (WHERE regexp_matches(text, '\bspark\b')) AS BIGINT) AS n_kept
      |FROM documents""".stripMargin

  /** Apply the learned merges back to the corpus: total subword tokens and
    * distinct-subword vocabulary — the two numbers a tokenizer-training
    * pipeline reports. Exact integers, pinned. */
  private val qBpeEncode = dfQ { s =>
    val docs = s.table("documents")
    val merges = Bpe.train(docs, "text", numMerges = 12, minCount = 2)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    Bpe.encode(docs, "text", merges)
      .select(explode(col("bpe_tokens")).as("tok"))
      .agg(count(lit(1)).as("total_tokens"),
        countDistinct(col("tok")).as("vocab_size"))
  }
  private val oBpeEncode = "SELECT CAST(116798 AS BIGINT) AS total_tokens, CAST(35 AS BIGINT) AS vocab_size"

  /** Embedding near-dup: planted exact copies must be recovered by the
    * SRP-LSH bucketed pair generator (cosine(v, v) = 1 >= threshold). */
  private val qEmbedNearDup = dfQ { s =>
    val emb = s.table("embeddings")
    val aug = emb.select(col("vec_id"), col("embedding"))
      .unionAll(emb.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Ann.cosineNearDupPairs(aug, threshold = 0.999)
      .where(col("id_b") === col("id_a") + 100000)
      .select("id_a", "id_b").orderBy("id_a")
  }
  private val oEmbedNearDup =
    """SELECT vec_id AS id_a, vec_id + 100000 AS id_b FROM embeddings
      |WHERE vec_id % 25 = 0 ORDER BY id_a""".stripMargin

  /** Embedding-space decontamination: the eval side IS a subset of the
    * corpus (every 25th vector), so the cosine-1.0 self-matches make the
    * flagged set exactly that subset — float-free oracle, same planting
    * trick as l_embed_neardup (no natural pair in this table reaches the
    * 0.999 threshold). Exercises the stateless broadcast flag the
    * streaming ingest path uses. */
  private val qEmbedDecontam = dfQ { s =>
    val emb = s.table("embeddings")
    val ev = emb.where(col("vec_id") % 25 === 0).select(col("embedding"))
    emb.where(Ann.embeddingContaminationFlag(ev, "embedding", threshold = 0.999))
      .select(col("vec_id")).orderBy("vec_id")
  }
  private val oEmbedDecontam =
    """SELECT vec_id FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id""".stripMargin

  /** SemDeDup: planted exact copies must survive clustering (identical
    * vectors cannot split across k-means cells) and be reported as
    * within-cluster cosine pairs; the planted-pair filter keeps the
    * oracle float-free. */
  private val qSemanticDedup = dfQ { s =>
    val emb = s.table("embeddings")
    val aug = emb.select(col("vec_id"), col("embedding"))
      .unionAll(emb.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Ann.semanticDedupPairs(aug, threshold = 0.999, iters = 2)
      .where(col("id_b") === col("id_a") + 100000)
      .select("id_a", "id_b").orderBy("id_a")
  }

  private val qTextTokens = dfQ { s =>
    val docs = s.table("documents")
    docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
        org.apache.spark.sql.functions.length(col("text")).as("n_len"),
        (org.apache.spark.sql.functions.length(col("text")) === col("n_chars")).as("len_ok"))
  }
  private val oTextTokens =
    """SELECT doc_id,
      | CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
      | CAST(ceil(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / 4.0) AS BIGINT)
      |   + length(regexp_replace(text, '[A-Za-z\s]', '', 'g')) AS n_bpeish,
      | length(text) AS n_len, length(text) = n_chars AS len_ok
      |FROM documents""".stripMargin

  private val qTextQuality = dfQ { s =>
    val docs = s.table("documents")
    val f = TextAnalysis.qualityFeatures(col("text"))
    docs.select(col("doc_id"),
        round(f.getField("alpha_ratio"), 4).as("alpha_r"),
        round(f.getField("space_ratio"), 4).as("space_r"),
        f.getField("n_tokens").as("n_tok"))
      .orderBy("doc_id")
  }
  private val oTextQuality =
    """SELECT doc_id,
      | round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)::DOUBLE, 4) AS alpha_r,
      | round((length(text) - length(replace(text, ' ', ''))) / greatest(length(text), 1)::DOUBLE, 4) AS space_r,
      | CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
      |FROM documents ORDER BY doc_id""".stripMargin

  private val qTextLangid = dfQ { s =>
    val fixtures = Seq(
      (1, "the cat sat on the mat and it was happy with the sun"),
      (2, "der Hund und die Katze sind nicht mit dem Auto gefahren"),
      (3, "le chat est dans la maison avec les enfants pour la nuit"),
      (4, "el perro y el gato están en la casa con los niños para ser feliz"),
      (5, "这是一个中文句子用来测试语言识别功能"),
      (6, ""))
    import s.implicits._
    fixtures.toDF("id", "text")
      .select($"id", TextAnalysis.langId($"text").as("lang"))
      .orderBy("id")
  }
  private val oTextLangid =
    """SELECT * FROM (VALUES (1, 'en'), (2, 'de'), (3, 'fr'), (4, 'es'), (5, 'zh'), (6, 'und'))
      | t(id, lang) ORDER BY id""".stripMargin

  private val qTextFingerprint = dfQ { s =>
    val docs = s.table("docs_aug")
    val fps = docs.select(col("doc_id"), col("text"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val pairs = fps.as("a").join(fps.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (col("a.fp") === col("b.fp")).as("fp_eq"))
    pairs.orderBy("id_a", "id_b")
  }
  private val oTextFingerprint =
    s"""WITH $oracleDocsAug
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, true AS fp_eq
       |FROM docs_aug a JOIN docs_aug b ON a.text = b.text AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  /** Gopher rules (Rae et al. 2021 Table A1) over documents: every signal
    * recomputed in DuckDB list-lambda SQL; doubles rounded to 6 in both.
    * The required-word list is the corpus' own high-frequency vocabulary
    * (the synthetic corpus holds at most one English Gopher stop word per
    * doc, which would reject every row and leave the rule untested). */
  private val gopherCorpusWords =
    Seq("join", "hash", "row", "batch", "scan", "column", "filter", "merge")
  private val qGopherRules = dfQ { s =>
    s.table("documents")
      .select(col("doc_id"),
        TextAnalysis.gopherSignals(col("text"), gopherCorpusWords).as("g"))
      .select(col("doc_id"), col("g.n_words").as("n_words"),
        col("g.mean_word_len").as("mean_word_len"),
        col("g.symbol_ratio").as("symbol_ratio"),
        col("g.bullet_frac").as("bullet_frac"),
        col("g.ellipsis_frac").as("ellipsis_frac"),
        col("g.alpha_word_frac").as("alpha_word_frac"),
        col("g.n_stop").as("n_stop"), col("g.passes").as("passes"))
      .orderBy("doc_id")
  }
  private val oGopherRules =
    """WITH m AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(coalesce(text,'')) = '' THEN 0
      |      ELSE len(regexp_split_to_array(trim(coalesce(text,'')), '\s+')) END AS n_words,
      |    regexp_split_to_array(trim(coalesce(text,'')), '\s+') AS ws,
      |    string_split(coalesce(text,''), chr(10)) AS lines,
      |    coalesce(text,'') AS t
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_words,
      |    greatest(n_words, 1) AS denom,
      |    list_sum(list_transform(ws, x -> CAST(length(x) AS BIGINT))) AS sum_len,
      |    length(t) - length(replace(t, '#', '')) AS n_hash,
      |    (length(t) - length(replace(t, '...', ''))) // 3 AS n_ell,
      |    len(list_filter(lines, l -> substring(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
      |    len(list_filter(lines, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS n_ellline,
      |    greatest(len(lines), 1) AS n_lines,
      |    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
      |    len(list_intersect(list_distinct(list_transform(ws, x -> lower(x))),
      |      ['join','hash','row','batch','scan','column','filter','merge'])) AS n_stop
      |  FROM m)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |  round(CAST(sum_len AS DOUBLE) / denom, 6) AS mean_word_len,
      |  round(CAST(n_hash + n_ell AS DOUBLE) / denom, 6) AS symbol_ratio,
      |  round(CAST(n_bullet AS DOUBLE) / n_lines, 6) AS bullet_frac,
      |  round(CAST(n_ellline AS DOUBLE) / n_lines, 6) AS ellipsis_frac,
      |  round(CAST(n_alpha AS DOUBLE) / denom, 6) AS alpha_word_frac,
      |  CAST(n_stop AS BIGINT) AS n_stop,
      |  (n_words BETWEEN 50 AND 100000
      |    AND (CAST(sum_len AS DOUBLE) / denom) BETWEEN 3.0 AND 10.0
      |    AND (CAST(n_hash + n_ell AS DOUBLE) / denom) <= 0.1
      |    AND (CAST(n_bullet AS DOUBLE) / n_lines) <= 0.9
      |    AND (CAST(n_ellline AS DOUBLE) / n_lines) <= 0.3
      |    AND (CAST(n_alpha AS DOUBLE) / denom) >= 0.8
      |    AND n_stop >= 2) AS passes
      |FROM s ORDER BY doc_id""".stripMargin

  private val qMultimodal = dfQ { s =>
    val docs = s.table("documents")
    val media = Multimodal.fakeMediaFromText(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(media)
    feats.agg(count(lit(1)).cast("long").as("n"),
      sum(col("n_bytes")).cast("long").as("total_bytes"),
      min(size(col("features"))).as("min_dim"),
      max(size(col("features"))).as("max_dim"))
  }
  private val oMultimodal =
    """SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(length(text)) AS BIGINT) AS total_bytes,
      | 8 AS min_dim, 8 AS max_dim FROM documents""".stripMargin

  /** Deterministic in-memory PNG (JDK imageio encoder): the real-decode
    * fixture for l_multimodal_decode. */
  private def pngFixture(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Image NEAR-DEDUP over real PNG payloads: perceptual aHash fingerprints
    * (8x8 luma grid) band-joined on pigeonhole blocks (Multimodal
    * .imageNearDupPairs — the multimodal twin of SimHash near-dedup).
    * Fixtures: a checkerboard, a one-pixel edit of it (near-dup), a
    * half-split image (unrelated), and a non-image payload (dropped);
    * javax.imageio decode is deterministic so the pair list pins. */
  private val qImageNearDup = dfQ { s =>
    import s.implicits._
    val base = pngFixture(32, 32, (x, y) => if ((x / 4 + y / 4) % 2 == 0) 0 else 0xFFFFFF)
    // flip one ENTIRE 4x4 grid cell (not one pixel): exactly one aHash
    // bit moves, a genuinely nonzero perceptual distance
    val near = pngFixture(32, 32, (x, y) =>
      if (x < 4 && y < 4) 0xFFFFFF else if ((x / 4 + y / 4) % 2 == 0) 0 else 0xFFFFFF)
    val far = pngFixture(32, 32, (x, _) => if (x < 16) 0 else 0xFFFFFF)
    val junk = "not an image".getBytes("UTF-8")
    val media = Seq((1L, base), (2L, near), (3L, far), (4L, junk))
      .toDF("media_id", "payload")
    Multimodal.imageNearDupPairs(media, maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")
  }
  private val oImageNearDup =
    """SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT)))
      | t(id_a, id_b, hamming) ORDER BY id_a, id_b""".stripMargin

  /** REAL image decode through the Spark pipeline: width/height/format come
    * from javax.imageio reading actual PNG bytes (solid-color and
    * half-black/half-white fixtures), and the resize path re-encodes a real
    * PNG whose re-decode confirms the target dimensions and preserved pixel
    * statistics (nearest-neighbor of a solid/half image is itself). */
  /** Count-min sketch differential: both engines materialize the same
    * 4×256 sketch (md5 bucket hashing) and the exact top-10 tokens; the
    * CMS point estimates — and the ≥-true overestimate invariant — must
    * match cell-for-cell. */
  private val qCmsTokens = dfQ { s =>
    val docs = s.table("documents")
    val sk = TextAnalysis.countMinSketch(docs, "doc_id", "text", d = 4, w = 256)
    val est = udf((t: String) => TextAnalysis.cmsEstimate(sk, t))
    TextAnalysis.topTokens(docs, "doc_id", "text", 10)
      .select(col("token"), col("cnt").cast("long").as("n_true"),
        est(col("token")).as("n_cms"))
      .withColumn("overestimates", col("n_cms") >= col("n_true"))
      .orderBy(col("n_true").desc, col("token"))
  }
  private val oCmsTokens =
    """WITH occ AS (
      |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                            w -> len(w) > 0)) AS token
      |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      |cnt AS (SELECT token, count(*) AS n FROM occ GROUP BY token),
      |top AS (SELECT token, n FROM cnt ORDER BY n DESC, token LIMIT 10),
      |cell AS (
      |  SELECT r.r, ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || token), 1, 7))::BIGINT % 256 AS b,
      |         CAST(sum(n) AS BIGINT) AS tot
      |  FROM cnt CROSS JOIN range(0, 4) r(r) GROUP BY 1, 2),
      |tb AS (
      |  SELECT t.token, t.n, r.r,
      |         ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || t.token), 1, 7))::BIGINT % 256 AS b
      |  FROM top t CROSS JOIN range(0, 4) r(r))
      |SELECT tb.token, CAST(tb.n AS BIGINT) AS n_true,
      |  min(cell.tot) AS n_cms, min(cell.tot) >= tb.n AS overestimates
      |FROM tb JOIN cell ON tb.r = cell.r AND tb.b = cell.b
      |GROUP BY tb.token, tb.n
      |ORDER BY n_true DESC, token""".stripMargin

  /** Audio feature differential on the raw-PCM fallback path: the
    * documents corpus is pure ASCII, so payload bytes == char codes and
    * DuckDB can replay the ((byte − 128)/128) sample math, the RMS, the
    * peak and the integer duration exactly (all chars < 0x80 → every
    * sample negative → zcr = 0 by construction, also pinned). */
  private val qMultimodalAudio = dfQ { s =>
    val media = Multimodal.fakeMediaFromText(s.table("documents"), "doc_id", "text")
    Multimodal.audioFeatures(media)
      .select(col("media_id").as("doc_id"), col("format"), col("sample_rate"),
        col("n_samples"), col("duration_ms"),
        round(col("rms"), 6).as("rms"), col("zcr"),
        round(col("peak"), 6).as("peak"))
      .orderBy("doc_id")
  }
  private val oMultimodalAudio =
    """WITH ch AS (
      |  SELECT doc_id, unnest(range(1, length(text) + 1)) AS i FROM documents),
      |s AS (SELECT doc_id, (ascii(substr(text, i, 1)) - 128) / 128.0 AS v FROM ch),
      |agg AS (
      |  SELECT doc_id, count(*) AS n, sqrt(avg(v * v)) AS rms, max(abs(v)) AS pk
      |  FROM s GROUP BY doc_id)
      |SELECT d.doc_id, 'raw/8bit' AS format, 8000 AS sample_rate,
      |  CAST(coalesce(agg.n, 0) AS BIGINT) AS n_samples,
      |  coalesce(agg.n, 0) * 1000 // 8000 AS duration_ms,
      |  round(coalesce(agg.rms, 0.0), 6) AS rms, CAST(0.0 AS DOUBLE) AS zcr,
      |  round(coalesce(agg.pk, 0.0), 6) AS peak
      |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Video NEAR-DEDUP: per-frame perceptual hashes (synthetic GFV1 frame
    * container — no codec ships here; the container decode is guarded and
    * swappable, the Spark plumbing real) joined on shared frame hashes,
    * exact integer-permille Jaccard on candidates. Fixtures: two videos
    * sharing 2 of 4 distinct frames (500 permille), one sharing a single
    * frame (333 — below the 400 threshold), and a junk payload. */
  private val qVideoNearDup = dfQ { s =>
    import s.implicits._
    def frame(tag: Int) = pngFixture(16, 16, (x, y) =>
      if (((x / 2 + y / 2) ^ tag) % 3 == 0) 0 else 0xFFFFFF)
    val (f1, f2, f3, f4) = (frame(1), frame(2), frame(3), frame(4))
    val media = Seq(
      (1L, Multimodal.videoContainer(Seq(f1, f2, f3))),
      (2L, Multimodal.videoContainer(Seq(f1, f2, f4))),
      (3L, Multimodal.videoContainer(Seq(f4))),
      (4L, "junk".getBytes("UTF-8"))).toDF("media_id", "payload")
    Multimodal.videoNearDupPairs(media, minJaccardPermille = 400)
      .orderBy("id_a", "id_b")
  }
  private val oVideoNearDup =
    """SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT),
      |  CAST(2 AS BIGINT), CAST(500 AS BIGINT)))
      | t(id_a, id_b, n_shared, jaccard_permille) ORDER BY id_a, id_b""".stripMargin

  /** Canonical 44-byte-header 16-bit PCM WAV from float samples. */
  private def wavFixture(sampleRate: Int, samples: Array[Float]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(v => bb.putShort(math.round(v * 32767f).toShort))
    bb.array()
  }

  /** Audio NEAR-DEDUP over real WAV payloads: 64-frame loudness-envelope
    * hashes band-joined on pigeonhole blocks (Multimodal
    * .audioNearDupPairs) — a burst pattern, a gain-scaled edit of it
    * (near-dup), the inverted envelope (unrelated) and a non-audio
    * payload (dropped). Deterministic decode pins the pair list. */
  private val qAudioNearDup = dfQ { s =>
    import s.implicits._
    val sr = 8000; val n = 6400
    def tone(amp: Int => Double) = Array.tabulate(n)(i =>
      (amp(i) * math.sin(2 * math.Pi * 440 * i / sr)).toFloat)
    val a = tone(i => if (i < n / 2) 0.9 else 0.05)
    val b = tone(i => if (i < n / 2) 0.8 else 0.04)
    val c = tone(i => if (i < n / 2) 0.05 else 0.9)
    val media = Seq((1L, wavFixture(sr, a)), (2L, wavFixture(sr, b)),
      (3L, wavFixture(sr, c)), (4L, "junk".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    Multimodal.audioNearDupPairs(media, maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")
  }
  private val oAudioNearDup =
    """SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT)))
      | t(id_a, id_b, hamming) ORDER BY id_a, id_b""".stripMargin

  private val qMultimodalDecode = dfQ { s =>
    import s.implicits._
    val solid = pngFixture(6, 4, (_, _) => 0xFF8000) // R=255 G=128 B=0
    val halves = pngFixture(8, 8, (x, _) => if (x < 4) 0x000000 else 0xFFFFFF)
    val media = Seq((1L, solid), (2L, halves)).toDF("media_id", "payload")
      .withColumn("meta", struct(lit("image/png").as("format"),
        lit(0).as("width"), lit(0).as("height")))
    def shaped(df: org.apache.spark.sql.DataFrame, stage: String) =
      df.select(col("media_id"), lit(stage).as("stage"), col("format"),
        col("width"), col("height"),
        round(element_at(col("features"), 1).cast("double"), 5).as("mean_r"),
        round(element_at(col("features"), 2).cast("double"), 5).as("mean_g"),
        round(element_at(col("features"), 3).cast("double"), 5).as("mean_b"),
        round(element_at(col("features"), 4).cast("double"), 5).as("luma"),
        round(element_at(col("features"), 5).cast("double"), 5).as("q_tl"),
        round(element_at(col("features"), 6).cast("double"), 5).as("q_tr"))
    shaped(Multimodal.describeImages(media), "orig")
      .unionAll(shaped(Multimodal.describeImages(Multimodal.resize(media, 16, 12)), "resized"))
      .orderBy("media_id", "stage")
  }
  private val oMultimodalDecode =
    """SELECT media_id, stage, format, width, height,
      | CAST(mean_r AS DOUBLE) AS mean_r, CAST(mean_g AS DOUBLE) AS mean_g,
      | CAST(mean_b AS DOUBLE) AS mean_b, CAST(luma AS DOUBLE) AS luma,
      | CAST(q_tl AS DOUBLE) AS q_tl, CAST(q_tr AS DOUBLE) AS q_tr
      |FROM (VALUES
      | (1, 'orig',    'image/png',  6,  4, 1.0, 0.50196, 0.0, 0.59365, 0.59365, 0.59365),
      | (1, 'resized', 'image/png', 16, 12, 1.0, 0.50196, 0.0, 0.59365, 0.59365, 0.59365),
      | (2, 'orig',    'image/png',  8,  8, 0.5, 0.5, 0.5, 0.5, 0.0, 1.0),
      | (2, 'resized', 'image/png', 16, 12, 0.5, 0.5, 0.5, 0.5, 0.0, 1.0)
      |) t(media_id, stage, format, width, height, mean_r, mean_g, mean_b, luma, q_tl, q_tr)
      |ORDER BY media_id, stage""".stripMargin

  /** Resize plumbing: every payload lands at exactly targetW*targetH bytes
    * with the meta struct rewritten; content is the documented stub
    * subsample, so only shape/meta invariants are oracle-checked. */
  private val qMultimodalResize = dfQ { s =>
    val docs = s.table("documents")
    val media = Multimodal.fakeMediaFromText(docs, "doc_id", "text")
    Multimodal.resize(media, targetW = 16, targetH = 12)
      .agg(count(lit(1)).cast("long").as("n"),
        min(org.apache.spark.sql.functions.length(col("payload"))).cast("long").as("min_len"),
        max(org.apache.spark.sql.functions.length(col("payload"))).cast("long").as("max_len"),
        min(col("meta.width")).as("w"), max(col("meta.height")).as("h"))
  }
  private val oMultimodalResize =
    """SELECT CAST(count(*) AS BIGINT) AS n, CAST(192 AS BIGINT) AS min_len,
      | CAST(192 AS BIGINT) AS max_len, 16 AS w, 12 AS h FROM documents""".stripMargin

  private val qFrameSample = dfQ { s =>
    val docs = s.table("documents")
    val media = Multimodal.fakeMediaFromText(docs, "doc_id", "text")
    Multimodal.sampleFrames(media, frameBytes = 64, stride = 2)
      .groupBy("media_id").agg(count(lit(1)).cast("long").as("n_frames"))
      .orderBy("media_id")
  }
  private val oFrameSample =
    """SELECT doc_id AS media_id,
      | CAST((greatest(length(text) // 64, 1) + 1) // 2 AS BIGINT) AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin

  // ---------------------------------------------- PII redaction

  /** PII is INJECTED deterministically (email + phone + ip + ssn built
    * from doc_id) so every row exercises real redaction; both engines
    * build the identical corpus, so the oracle hash pins the exact
    * redacted strings and per-category counts. */
  /** Ingest canonicalization differential: both engines fabricate the
    * SAME dirty text (tabs, double spaces, a BEL control char, \u0301-decomposed
    * e-acute up front and the composed form at the back) and
    * normalize it (NFC + control strip + whitespace collapse + trim).
    * NFC must merge the two e-acute spellings, so clean text, codepoint count
    * and md5 are engine-exact. */
  private val qTextNormalize = dfQ { s =>
    val docs = s.table("documents")
    val dirty = concat(lit("\te\u0301  "), col("text"),
      lit("  \u0007ok \u00e9\u0301 "), col("doc_id").cast("string"), lit("\r\n"))
    docs.select(col("doc_id"), TextAnalysis.normalizeText(dirty).as("clean"))
      .select(col("doc_id"), length(col("clean")).as("n_cp"),
        md5(encode(col("clean"), "UTF-8")).as("clean_md5"))
  }
  private val oTextNormalize =
    """WITH inj AS (
      |  SELECT doc_id, chr(9) || 'e' || chr(769) || '  ' || text ||
      |    '  ' || chr(7) || 'ok ' || chr(233) || chr(769) || ' ' ||
      |    CAST(doc_id AS VARCHAR) || chr(13) || chr(10) AS t
      |  FROM documents),
      |n AS (SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(nfc_normalize(t),
      |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'), '\s+', ' ', 'g')) AS clean
      |  FROM inj)
      |SELECT doc_id, CAST(length(clean) AS INT) AS n_cp, md5(clean) AS clean_md5
      |FROM n""".stripMargin

  /** Third capstone: the round-13 ops composed end to end — NFC
    * canonicalize (native expr) -> quality-weighted rejection sampling
    * (md5 draw on the spread score) -> exact dedup resolve on the
    * NORMALIZED text -> token-bounded shard manifest. One SQL statement
    * replays the full chain, so every stage's cross-engine determinism
    * contract composes: normalize changes the dedup equality classes,
    * sampling changes the shard boundaries, and both engines still land
    * on the identical manifest. */
  private val qPipeline3 = dfQ { s =>
    val docs = s.table("documents")
      .withColumn("norm", TextAnalysis.normalizeText(col("text")))
    val sampled = Sampling.weightedSample(docs, "doc_id",
      greatest(TextAnalysis.qualityScore(col("norm")) * lit(10.0) - lit(9.0), lit(0.0)))
    val pairs = Dedup.exactDupPairs(sampled, "doc_id", "norm")
    val cc = Dedup.connectedComponents(pairs)
    val drop = cc.where(col("id") =!= col("cluster_id")).select(col("id").as("__d"))
    val kept = sampled.join(drop, col("doc_id") === col("__d"), "left_anti")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("norm")).cast("long").as("n_tok"))
    val assigned = Sampling.assignShards(kept, "doc_id", "n_tok", 2000L)
    Sampling.shardManifest(assigned, "doc_id", "n_tok").orderBy("shard")
  }
  private val oPipeline3 =
    s"""WITH RECURSIVE norm AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
       |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |feat AS (SELECT doc_id, t,
       |    CASE WHEN length(trim(t)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(t), '\\s+')) END AS n_tok,
       |    length(regexp_replace(t, '[^A-Za-z]', '', 'g')) / greatest(length(t), 1)::DOUBLE AS alpha,
       |    length(regexp_replace(t, '[A-Za-z0-9\\s]', '', 'g')) / greatest(length(t), 1)::DOUBLE AS punct
       |  FROM norm),
       |sampled AS (SELECT doc_id, t, n_tok FROM (
       |    SELECT *, greatest(greatest(least(alpha - 2 * punct + least(n_tok / 20.0, 1.0) * 0.2, 1.0), 0.0)
       |      * 10.0 - 9.0, 0.0) AS wt FROM feat) z
       |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '__wsample'), 1, 7))::BIGINT % 1000
       |        < CAST(floor(least(greatest(wt, 0.0), 1.0) * 1000) AS BIGINT)),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sampled a JOIN sampled b
       |    ON md5(a.t) = md5(b.t) AND a.t = b.t AND a.doc_id < b.doc_id),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT s AS id, d AS r FROM edges
       |  UNION
       |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
       |comp AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
       |kept AS (SELECT sa.doc_id, sa.n_tok FROM sampled sa
       |  WHERE sa.doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)),
       |cum AS (SELECT doc_id, n_tok,
       |    sum(n_tok) OVER (ORDER BY doc_id) AS c FROM kept),
       |assigned AS (SELECT doc_id, n_tok,
       |    CAST((c - n_tok) // 2000 AS BIGINT) AS shard FROM cum)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_id, max(doc_id) AS last_id
       |FROM assigned GROUP BY shard ORDER BY shard""".stripMargin

  private val qTextRedact = dfQ { s =>
    val docs = s.table("documents")
    val t = concat(col("text"), lit(" Contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
      ((col("doc_id") * 7) % 256).cast("string"),
      lit(" ssn 987-65-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    docs.select(col("doc_id"), TextAnalysis.redactPii(t).as("r"))
      .select(col("doc_id"), col("r.clean").as("clean"),
        col("r.n_email"), col("r.n_ssn"), col("r.n_ip"), col("r.n_phone"))
      .orderBy("doc_id")
  }
  private val oTextRedact =
    """WITH inj AS (
      |  SELECT doc_id, text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
      |    '@example.com or +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |    ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
      |    ' ssn 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      |  FROM documents),
      |s1 AS (SELECT doc_id,
      |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
      |  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM inj),
      |s2 AS (SELECT *, len(regexp_extract_all(t1, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssn,
      |  regexp_replace(t1, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS t2 FROM s1),
      |s3 AS (SELECT *, len(regexp_extract_all(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip,
      |  regexp_replace(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t3 FROM s2),
      |s4 AS (SELECT *, len(regexp_extract_all(t3, '\+?[0-9][0-9()\- \t]{6,}[0-9]')) AS n_phone,
      |  regexp_replace(t3, '\+?[0-9][0-9()\- \t]{6,}[0-9]', '<PHONE>', 'g') AS t4 FROM s3)
      |SELECT doc_id, t4 AS clean, CAST(n_email AS BIGINT) AS n_email,
      |  CAST(n_ssn AS BIGINT) AS n_ssn, CAST(n_ip AS BIGINT) AS n_ip,
      |  CAST(n_phone AS BIGINT) AS n_phone
      |FROM s4 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- repetition features

  private val qTextRepetition = dfQ { s =>
    TextAnalysis.repetitionReport(s.table("documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_lines"), col("dup_line_frac"),
        col("bullet_line_frac"), col("ellipsis_line_frac"), col("top_bigram_frac"))
      .orderBy("doc_id")
  }
  private val oTextRepetition =
    """WITH lines0 AS (SELECT doc_id,
      |  list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> length(x) > 0) AS ls
      |  FROM documents),
      |base AS (SELECT doc_id, len(ls) AS n_lines,
      |  CASE WHEN len(ls) > 0 THEN 1.0 - CAST(len(list_distinct(list_transform(ls, x -> lower(x)))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS dup_line_frac,
      |  CASE WHEN len(ls) > 0 THEN CAST(len(list_filter(ls, x -> starts_with(x, '-') OR starts_with(x, '*') OR starts_with(x, '•'))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS bullet_line_frac,
      |  CASE WHEN len(ls) > 0 THEN CAST(len(list_filter(ls, x -> ends_with(x, '...'))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS ellipsis_line_frac
      | FROM lines0),
      |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
      |  FROM documents WHERE length(trim(text)) > 0),
      |grams AS (SELECT doc_id, array_to_string(words[i:i+1], ' ') AS g
      |  FROM w, LATERAL unnest(generate_series(1, greatest(len(words)-1, 0))) t(i)),
      |gc AS (SELECT doc_id, g, count(*) AS n FROM grams GROUP BY 1, 2),
      |tg AS (SELECT doc_id, CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top_bigram_frac FROM gc GROUP BY 1)
      |SELECT b.doc_id, CAST(b.n_lines AS BIGINT) AS n_lines, b.dup_line_frac,
      |  b.bullet_line_frac, b.ellipsis_line_frac,
      |  coalesce(tg.top_bigram_frac, 0.0) AS top_bigram_frac
      |FROM base b LEFT JOIN tg USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- line-level corpus dedup

  /** Boilerplate is INJECTED (a banner on every doc, a footer on half) so
    * the strip provably fires at every SF; 'unique footer N' lines prove
    * rare lines survive. Output pins the exact cleaned text. */
  private val qLineDedup = dfQ { s =>
    val docs = s.table("documents")
    val corpus = docs.select(col("doc_id"),
      concat(lit("Subscribe to our newsletter!\n"), col("text"),
        when(col("doc_id") % 2 === 0, lit("\n(c) Example Corp. All rights reserved."))
          .otherwise(concat(lit("\nunique footer "), col("doc_id").cast("string")))).as("text"))
    Boilerplate.removeBoilerplate(corpus, "doc_id", "text", maxDocs = 50)
      .select(col("doc_id"), col("text"), col("n_lines_before"), col("n_lines_after"))
      .orderBy("doc_id")
  }
  private val oLineDedup =
    """WITH corpus AS (SELECT doc_id,
      |  'Subscribe to our newsletter!' || chr(10) || text || chr(10) ||
      |  CASE WHEN doc_id % 2 = 0 THEN '(c) Example Corp. All rights reserved.'
      |       ELSE 'unique footer ' || CAST(doc_id AS VARCHAR) END AS t FROM documents),
      |lines AS (SELECT doc_id, lower(trim(l)) AS norm
      |  FROM corpus, LATERAL unnest(string_split(t, chr(10))) u(l) WHERE length(trim(l)) > 0),
      |freq AS (SELECT norm, count(DISTINCT doc_id) AS nd FROM lines GROUP BY 1),
      |boiler AS (SELECT coalesce(list(norm), []) AS bs FROM freq WHERE nd > 50),
      |kept AS (SELECT c.doc_id, c.t,
      |  list_filter(string_split(c.t, chr(10)),
      |    x -> length(trim(x)) = 0 OR NOT list_contains(b.bs, lower(trim(x)))) AS kl
      |  FROM corpus c, boiler b)
      |SELECT doc_id, array_to_string(kl, chr(10)) AS text,
      |  CAST(len(list_filter(string_split(t, chr(10)), x -> length(trim(x)) > 0)) AS BIGINT) AS n_lines_before,
      |  CAST(len(list_filter(kl, x -> length(trim(x)) > 0)) AS BIGINT) AS n_lines_after
      |FROM kept ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- domain-mix rebalancing

  private val qDomainMix = dfQ { s =>
    Sampling.rebalanceByGroup(s.table("documents"), "lang", "doc_id",
      Map("en" -> 500, "de" -> 200, "fr" -> 150, "es" -> 100, "zh" -> 50))
      .select(col("lang"), col("doc_id")).orderBy("lang", "doc_id")
  }
  private val oDomainMix =
    """WITH tgt(grp, share) AS (VALUES ('en', 500), ('de', 200), ('fr', 150), ('es', 100), ('zh', 50)),
      |cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
      |j AS (SELECT t.grp, t.share, c.c FROM tgt t JOIN cnt c ON c.lang = t.grp),
      |tt AS (SELECT min((c * 1000) // share) AS T FROM j),
      |keeps AS (SELECT grp, (share * (SELECT T FROM tt)) // 1000 AS k FROM j),
      |ranked AS (SELECT lang, doc_id,
      |  row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
      |  FROM documents)
      |SELECT r.lang, r.doc_id FROM ranked r JOIN keeps k ON r.lang = k.grp
      |WHERE r.r <= k.k ORDER BY lang, doc_id""".stripMargin

  // ---------------------------------------------- sequence packing

  /** Concatenative packing of each source's token stream into 512-token
    * training sequences; the oracle replays the layout with a plain window
    * prefix sum — the Spark side computes the identical integers with the
    * distributed two-pass prefix sum (many tasks per group). */
  private val qPack = dfQ { s =>
    val toks = s.table("documents").select(col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
    Sampling.packSequences(toks, "source", "doc_id", "n_tok", 512L)
      .select(col("source"), col("doc_id"), col("tok_start"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
      .orderBy("source", "doc_id")
  }
  private val oPack =
    """WITH toks AS (SELECT doc_id, source,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
      |  FROM documents),
      |pos AS (SELECT source, doc_id, n_tok,
      |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      |  FROM toks WHERE n_tok > 0)
      |SELECT source, doc_id, CAST(cum - n_tok AS BIGINT) AS tok_start,
      |  CAST((cum - n_tok) // 512 AS BIGINT) AS seq_first,
      |  CAST((cum - 1) // 512 AS BIGINT) AS seq_last,
      |  CAST((cum - 1) // 512 - (cum - n_tok) // 512 + 1 AS BIGINT) AS n_seqs
      |FROM pos ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------- vocabulary / unigram LM

  private val qVocab = dfQ { s =>
    TextAnalysis.topTokens(s.table("documents"), "doc_id", "text", 20)
      .select(col("token"), col("cnt").cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }
  private val oVocab =
    """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0)
      |SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM w
      |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin

  /** Perplexity-style quality scoring against the corpus's own unigram
    * distribution; surprisal rounded to 4 dp so the cross-engine compare
    * is insensitive to summation order. */
  private val qUnigramPpl = dfQ { s =>
    TextAnalysis.unigramSurprisal(s.table("documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_tok"),
        round(col("surprisal"), 4).as("surprisal_r"))
      .orderBy("doc_id")
  }
  private val oUnigramPpl =
    """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |cnt AS (SELECT token, count(*) AS tc FROM w GROUP BY 1),
      |tot AS (SELECT count(*) AS N FROM w)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |  round(avg(ln(CAST((SELECT N FROM tot) AS DOUBLE) / CAST(tc AS DOUBLE))), 4) AS surprisal_r
      |FROM w JOIN cnt USING (token)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Interpolated bigram LM surprisal (λ = 0.7): the CCNet-style filter
    * one order above l_unigram_ppl; DuckDB replays the identical count
    * tables and interpolation formula. */
  private val qBigramPpl = dfQ { s =>
    TextAnalysis.bigramSurprisal(s.table("documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_big"),
        round(col("surprisal"), 4).as("surprisal_r"))
      .orderBy("doc_id")
  }
  private val oBigramPpl =
    """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents WHERE length(trim(text)) > 0),
      |ev AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      |  FROM d WHERE len(w) >= 2),
      |toks AS (SELECT doc_id, unnest(w) AS token FROM d),
      |uc AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
      |bc AS (SELECT w1, w2, count(*) AS c2 FROM ev GROUP BY 1, 2),
      |tot AS (SELECT count(*) AS N FROM toks)
      |SELECT ev.doc_id, CAST(count(*) AS BIGINT) AS n_big,
      |  round(avg(-ln(0.7 * CAST(bc.c2 AS DOUBLE) / u1.c
      |    + 0.3 * CAST(u2.c AS DOUBLE) / (SELECT N FROM tot))), 4) AS surprisal_r
      |FROM ev JOIN bc USING (w1, w2)
      |  JOIN uc u1 ON u1.token = ev.w1 JOIN uc u2 ON u2.token = ev.w2
      |GROUP BY ev.doc_id ORDER BY doc_id""".stripMargin

  /** Ingest-time unigram-LM gate: broadcast bounded model, stateless
    * scoring column (streams); with maxVocab covering the whole corpus
    * vocabulary the Laplace-smoothed formula replays exactly in SQL. */
  private val qSurprisalGate = dfQ { s =>
    val docs = s.table("documents")
    val score = TextAnalysis.unigramGateScore(docs, "text", maxVocab = 1 << 16)
    docs.select(col("doc_id"), round(score(col("text")), 4).as("surprisal_r"))
      .withColumn("flagged", col("surprisal_r") > 3.6)
      .orderBy("doc_id")
  }
  private val oSurprisalGate =
    """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |cnt AS (SELECT token, count(*) AS c FROM w GROUP BY 1),
      |tot AS (SELECT sum(c) AS N FROM cnt), v AS (SELECT count(*) AS V FROM cnt)
      |SELECT doc_id,
      |  round(avg(ln(CAST((SELECT N FROM tot) + (SELECT V FROM v) + 1 AS DOUBLE)
      |    / CAST(c + 1 AS DOUBLE))), 4) AS surprisal_r,
      |  round(avg(ln(CAST((SELECT N FROM tot) + (SELECT V FROM v) + 1 AS DOUBLE)
      |    / CAST(c + 1 AS DOUBLE))), 4) > 3.6 AS flagged
      |FROM w JOIN cnt USING (token)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Temperature-based domain mixing (p_g ∝ n_g^0.5, the multilingual
    * square-root sampling rule) composed with the permille rebalancer:
    * per-group quantized-integer share math is engine-exact, so DuckDB
    * replays shares, the water-level T, and the kept counts exactly. */
  private val qTempMix = dfQ { s =>
    val docs = s.table("documents")
    val shares = Sampling.temperatureShares(docs, "source", alphaPermille = 500)
    Sampling.rebalanceByGroup(docs, "source", "doc_id", shares)
      .groupBy("source").agg(count(lit(1)).as("kept"))
      .orderBy("source")
  }
  private val oTempMix =
    """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
      |q AS (SELECT source, cnt,
      |  CAST(floor(sqrt(CAST(cnt AS DOUBLE)) * 1048576) AS BIGINT) AS qi FROM c),
      |s AS (SELECT source, cnt, qi * 1000 // (SELECT sum(qi) FROM q) AS share FROM q),
      |s2 AS (SELECT * FROM s WHERE share > 0),
      |t AS (SELECT min(cnt * 1000 // share) AS T FROM s2)
      |SELECT source, CAST(share * (SELECT T FROM t) // 1000 AS BIGINT) AS kept
      |FROM s2 ORDER BY source""".stripMargin

  /** Model-free text embeddings (hashed features random-projected with
    * deterministic ±1 signs, L2-normalized) feeding the ANN near-dup
    * stack: planted exact text copies embed identically, so the SRP-LSH
    * pair generator must recover every one — the planted-copy oracle
    * transferred from l_embed_neardup to embeddings DERIVED from text. */
  private val qTextEmbed = dfQ { s =>
    val docs = s.table("documents")
    val emb = Classifier.textEmbedding(docs, "text")
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val aug = emb.unionAll(emb.where(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Ann.cosineNearDupPairs(aug, threshold = 0.9999)
      .where(col("id_b") === col("id_a") + 100000)
      .select("id_a", "id_b").orderBy("id_a")
  }
  private val oTextEmbed =
    """SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents
      |WHERE doc_id % 25 = 0 ORDER BY id_a""".stripMargin

  /** Corpus snapshot diff: old = full corpus; new drops doc_id%7==0,
    * rewrites text for %5==0, adds shifted ids — the operator must
    * classify every id by content hash exactly as the SQL replay does. */
  private val qCorpusDiff = dfQ { s =>
    val docs = s.table("documents")
    val newDf = docs.where(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [edited]")))
          .otherwise(col("text")).as("text"))
      .unionAll(docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    TextAnalysis.corpusDiff(docs, newDf, "doc_id", "text")
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }
  private val oCorpusDiff =
    """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents),
      |n AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [edited]' ELSE text END) AS h
      |  FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, md5(text) AS h
      |  FROM documents WHERE doc_id % 11 = 0),
      |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS id, o.h AS oh, n.h AS nh
      |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |SELECT CASE WHEN oh IS NULL THEN 'added' WHEN nh IS NULL THEN 'removed'
      |  WHEN oh <> nh THEN 'changed' ELSE 'unchanged' END AS status,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------- corpus data card

  /** Release-style per-source summary table. The oracle replays the
    * quality formula and DuckDB's quantile_cont matches Spark's exact
    * interpolated percentile; the approx_percentile scale path is
    * spec-tested (PipelineOpsSpec), not oracle-compared. */
  private val qDataCard = dfQ { s =>
    TextAnalysis.corpusStats(s.table("documents"),
        "source", "lang", "text", "n_chars", exact = true)
      .orderBy("source")
  }
  private val oDataCard =
    """WITH f AS (SELECT source, lang, n_chars,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
      |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)::DOUBLE AS alpha,
      |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / greatest(length(text), 1)::DOUBLE AS punct
      |  FROM documents),
      |q AS (SELECT *, greatest(least(alpha - 2 * punct + least(n_tok / 20.0, 1.0) * 0.2, 1.0), 0.0) AS qual FROM f)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
      |  round(quantile_cont(n_tok, 0.9), 4) AS p90_tok,
      |  round(avg(qual), 4) AS mean_quality
      |FROM q GROUP BY source ORDER BY source""".stripMargin

  /** Quantile gate: keep docs at/above their source's p25 quality. The
    * kept row set is integer ids, so the cross-engine compare is exact;
    * the threshold itself only ever lands ON a data value when both
    * engines return that element outright (no interpolation arithmetic),
    * so a 1-ulp quantile difference cannot flip membership. */
  private val qQualityGate = dfQ { s =>
    TextAnalysis.filterByQualityQuantile(s.table("documents"),
        "source", "text", 0.25, exact = true)
      .select(col("source"), col("doc_id")).orderBy("source", "doc_id")
  }
  private val oQualityGate =
    """WITH f AS (SELECT source, doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
      |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)::DOUBLE AS alpha,
      |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / greatest(length(text), 1)::DOUBLE AS punct
      |  FROM documents),
      |q AS (SELECT source, doc_id,
      |    greatest(least(alpha - 2 * punct + least(n_tok / 20.0, 1.0) * 0.2, 1.0), 0.0) AS qual FROM f),
      |thr AS (SELECT source, quantile_cont(qual, 0.25) AS t FROM q GROUP BY source)
      |SELECT q.source, q.doc_id FROM q JOIN thr ON q.source = thr.source
      |WHERE q.qual >= thr.t ORDER BY q.source, doc_id""".stripMargin

  /** Exact tie-aware ROC AUC of the heuristic quality score against the
    * contains-"spark" label — ranking-metric evaluation as a first-class
    * distributed operator (Classifier.auc: per-distinct-score groupBy,
    * prefix-sum window over the bounded score table). The oracle replays
    * the identical grouped-prefix formula, so the value matches to 6
    * decimals across engines. */
  private val qClassifierAuc = dfQ { s =>
    val docs = s.table("documents")
      .withColumn("y", col("text").rlike("\\bspark\\b"))
      .withColumn("score", TextAnalysis.qualityScore(col("text")))
    Classifier.auc(docs, "y", "score")
      .select(round(col("auc"), 6).as("auc"), col("n_pos"), col("n_neg"))
  }
  private val oClassifierAuc =
    """WITH f AS (SELECT doc_id,
      |    CASE WHEN regexp_matches(text, '\bspark\b') THEN 1 ELSE 0 END AS y,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
      |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)::DOUBLE AS alpha,
      |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / greatest(length(text), 1)::DOUBLE AS punct
      |  FROM documents),
      |q AS (SELECT y,
      |    greatest(least(alpha - 2 * punct + least(n_tok / 20.0, 1.0) * 0.2, 1.0), 0.0) AS s FROM f),
      |g AS (SELECT s, CAST(sum(y) AS BIGINT) AS p,
      |             CAST(sum(1 - y) AS BIGINT) AS n FROM q GROUP BY s),
      |cum AS (SELECT s, p, n,
      |    coalesce(sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
      |                          AND 1 PRECEDING), 0) AS negBelow FROM g)
      |SELECT round(sum(p * (negBelow + n / 2.0)) /
      |             (CAST(sum(p) AS DOUBLE) * CAST(sum(n) AS DOUBLE)), 6) AS auc,
      |  CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_neg
      |FROM cum""".stripMargin

  /** Doc-level quality-weighted rejection sampling: keep each doc with
    * probability ~= its quality score, via the engine-portable md5
    * permille draw (Sampling.weightedSample). The kept row set is exact
    * across engines: both compute the identical IEEE double score (the
    * same expression tree l_text_quality already pins to 4 decimals) and
    * the identical integer draw. */
  private val qWeightedSample = dfQ { s =>
    val docs = s.table("documents")
    // the synthetic corpus' scores cluster in [0.91, 1]; the x10-9
    // spread (exact IEEE +/* both engines, unlike pow) makes the keep
    // probability actually vary so the row proves the semantics
    Sampling.weightedSample(docs, "doc_id",
        greatest(TextAnalysis.qualityScore(col("text")) * lit(10.0) - lit(9.0), lit(0.0)))
      .select("doc_id").orderBy("doc_id")
  }
  private val oWeightedSample =
    """WITH f AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
      |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)::DOUBLE AS alpha,
      |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / greatest(length(text), 1)::DOUBLE AS punct
      |  FROM documents),
      |q AS (SELECT doc_id,
      |    greatest(least(alpha - 2 * punct + least(n_tok / 20.0, 1.0) * 0.2, 1.0), 0.0) AS qual FROM f),
      |w AS (SELECT doc_id, greatest(qual * 10.0 - 9.0, 0.0) AS wt FROM q)
      |SELECT doc_id FROM w
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '__wsample'), 1, 7))::BIGINT % 1000
      |      < CAST(floor(least(greatest(wt, 0.0), 1.0) * 1000) AS BIGINT)
      |ORDER BY doc_id""".stripMargin

  /** 120-char chunks with 30-char overlap; chunk counts are integer
    * arithmetic in both engines, substrings are char-based in both. */
  private val qChunk = dfQ { s =>
    TextAnalysis.chunkText(s.table("documents"), "doc_id", "text", 120, 30)
      .orderBy("doc_id", "chunk_ix")
  }
  private val oChunk =
    """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents
      |  WHERE text IS NOT NULL AND length(text) > 0),
      |n AS (SELECT doc_id, text,
      |    CASE WHEN len <= 120 THEN 1 ELSE 1 + (len - 120 + 89) // 90 END AS nc
      |  FROM d)
      |SELECT doc_id, CAST(i AS INT) AS chunk_ix, substr(text, CAST(i * 90 + 1 AS BIGINT), 120) AS chunk
      |FROM n, LATERAL unnest(generate_series(0, nc - 1)) t(i)
      |ORDER BY doc_id, chunk_ix""".stripMargin

  // ================================================== relational / bench

  // TPC-H money sums run as SCALED-INTEGER arithmetic: a 2-decimal price
  // is exact cents (BIGINT) and a discount an exact percent, so the
  // per-row work is one codegen long multiply-add — what DuckDB's decimal
  // engine does internally and an order of magnitude faster than Spark's
  // checked per-row DecimalType path (q3 at 30x SF: 18.8 s -> decimal tax
  // gone). A raw BIGINT sum would overflow 2^63 at ~9e9 rows per group
  // (cents*percent products reach ~1e9), so the sum is TWO-LEVEL: a salt
  // key (pmod(l_orderkey, 1024)) splits each group's integer partials
  // across 1024 cells — the hot loop stays pure long codegen, each cell
  // stays far below 2^63 until ~4e13 rows PER GROUP (petabyte scale), and
  // only the <=4096 cell partials are re-summed as DECIMAL(38,0), which
  // is overflow-free outright. ONE decimal division per group converts
  // the exact integer sum back; the final value/type is identical to the
  // oracle's DECIMAL path — the driver hash-compare pins that identity.
  // BOUNDED-RESULT LIMIT (r17): every ordered aggregate whose result
  // cardinality is bounded by SCHEMA (flag x status <= 9, 5 priorities,
  // region x nation <= 125, fixed event-type set) carries LIMIT 1000, so
  // Spark plans the final ordering as TakeOrderedAndProject — per-
  // partition top-K merged on the driver INSIDE the aggregate stage —
  // instead of a rangepartitioning exchange + global-sort stage. One
  // whole stage barrier saved per query at every SF (sf0.1 A/B: q1
  // 0.67 -> 0.45 s); the LIMIT is semantically inert (1000 >= any
  // possible group count by construction, enforced per query above each
  // shape). Oracles carry the same LIMIT so both engines run identical
  // SQL. Data-dependent-cardinality results (sessions, hourly,
  // top_order) keep the plain ORDER BY — a truncation there would be a
  // wrong answer, not an optimization.
  private[spark] val q1SaltedSql =
    """WITH p AS (
      | SELECT l_returnflag, l_linestatus, pmod(l_orderkey, 1024) AS s,
      |  sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c,
      |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_c,
      |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS disc_c,
      |  count(*) AS n
      | FROM lineitem
      | GROUP BY l_returnflag, l_linestatus, s)
      |SELECT l_returnflag, l_linestatus,
      | CAST(CAST(sum(CAST(qty_c AS DECIMAL(38,0))) / 100 AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      | CAST(CAST(sum(CAST(price_c AS DECIMAL(38,0))) / 100 AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
      | CAST(CAST(sum(CAST(disc_c AS DECIMAL(38,0))) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
      | CAST(sum(n) AS BIGINT) AS count_order
      |FROM p
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus LIMIT 1000""".stripMargin
  // single-level form (r18): one partial-agg + one exchange for the <= 9
  // schema-bounded groups. EXACTNESS BOUND, no distribution assumption:
  // the largest per-row term is disc_c <= round(price*100) * 100 ~ 1e9,
  // so a single BIGINT group sum overflows 2^63 only past ~9.2e9 rows IN
  // ONE GROUP. The dispatcher flips to the salted two-level shape at 1e9
  // lineitem rows (Shape.Q1SaltRows); below it the salt's 9x1024
  // partial groups + second exchange were pure stage floor (sf0.1 A/B:
  // 0.167 -> ~0.12 s; the sf10 section also keeps flat at 60M rows).
  private[spark] val q1FlatSql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(CAST(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DECIMAL(38,0)) / 100 AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      | CAST(CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DECIMAL(38,0)) / 100 AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
      | CAST(CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
      | CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus LIMIT 1000""".stripMargin
  /** SIZE-ADAPTIVE q1 (r18): flat single-level agg up to 1e9 lineitem
    * rows — 9x below the 9.2e9-rows-in-one-group BIGINT-cents overflow
    * point even if every row lands in one group — salted two-level beyond.
    * Both shapes stay registered against the same oracle. */
  private val qTpchQ1: Q = (s, dir) => {
    prep(s, dir)
    s.sql(if (Shape.q1(Shape.rows(dir, "lineitem")) == "flat") q1FlatSql else q1SaltedSql)
  }
  private val oTpchQ1 =
    """SELECT l_returnflag, l_linestatus,
      | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
      | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
      | CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus LIMIT 1000""".stripMargin

  // Same salted two-level sum as q1 (see comment there): exact far past
  // the 2^63 single-level BIGINT bound. coalesce keeps the empty-match
  // case identical to the single-level global agg (one row, n = 0).
  private val qTpchQ6 = sqlQ(
    """WITH p AS (
      | SELECT pmod(l_orderkey, 1024) AS s,
      |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * CAST(round(l_discount * 100) AS BIGINT)) AS rev_c,
      |  count(*) AS n
      | FROM lineitem
      | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |   AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |   AND l_discount >= 0.05 AND l_discount <= 0.07
      |   AND l_quantity < 24
      | GROUP BY s)
      |SELECT CAST(sum(CAST(rev_c AS DECIMAL(38,0))) / 10000 AS DECIMAL(18,4)) AS revenue,
      | CAST(coalesce(sum(n), 0) AS BIGINT) AS n
      |FROM p""".stripMargin)
  private val oTpchQ6 =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS revenue,
      | CAST(count(*) AS BIGINT) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  // q3 has two exact-identical shapes whose shuffle volumes invert with
  // scale. FILTER-FIRST joins lineitem against the BUILDING order keys
  // (~1/5 of orders) BEFORE the per-order revenue agg: while that key set
  // broadcasts, the lineitem pass is shuffle-free and the agg exchange is
  // matched-order-sized — the best shape by far. Past the broadcast
  // threshold it degrades to shuffling RAW lineitem rows into a sort-merge
  // join; there PRE-AGG-FIRST wins: aggregate lineitem per orderkey (the
  // group key IS the join key, so map-side combine collapses the exchange
  // to order grain, ~4x fewer rows than raw) and join the key set after.
  // The choice keys off the orders footer row count (Shape.q3):
  // filter-first while the ~1/5 key set plausibly broadcasts,
  // pre-agg-first beyond. Both shapes use the same BIGINT cents math (one
  // order <= 7 lineitems, far from 2^63, no salt) and produce identical rows.
  private[spark] val q3FilterFirst =
    """WITH bo AS (
      |  SELECT o.o_orderkey
      |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      |  WHERE c.c_mktsegment = 'BUILDING'),
      |lrev AS (
      |  SELECT l.l_orderkey, sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS cents
      |  FROM lineitem l JOIN bo ON l.l_orderkey = bo.o_orderkey
      |  GROUP BY l.l_orderkey)
      |SELECT l_orderkey AS o_orderkey,
      | CAST(CAST(CAST(cents AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
      |FROM lrev
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin
  private[spark] val q3PreAggFirst =
    """WITH bo AS (
      |  SELECT o.o_orderkey
      |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      |  WHERE c.c_mktsegment = 'BUILDING'),
      |lrev AS (
      |  SELECT l_orderkey, sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS cents
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT r.l_orderkey AS o_orderkey,
      | CAST(CAST(CAST(r.cents AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
      |FROM lrev r JOIN bo ON r.l_orderkey = bo.o_orderkey
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin
  /** SMALL-FLAT q3 (r17): both dims broadcast, so their builds
    * materialize CONCURRENTLY and the whole query is one lineitem stage
    * + TakeOrdered — the sequential customer-then-bo broadcast chain of
    * filter-first was the dominant sf0.1 cost (A/B: 0.75 -> 0.58 s).
    * Forced hints, so only dispatched when orders comfortably fits the
    * broadcast budget. */
  private[spark] val q3BcastBoth =
    """SELECT /*+ BROADCAST(o, c) */ l.l_orderkey AS o_orderkey,
      | CAST(CAST(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |   * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |GROUP BY l.l_orderkey
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin
  /** CO-LOCATED LAYOUT (r17): when lineitem AND orders are both bucketed
    * on orderkey, filter-first is the best shape at EVERY size — the
    * lineitem⋈bo join is a zero-exchange sorted-bucket merge and the
    * per-order agg streams as a SortAggregate on the merge output (sf10
    * A/B: 2.1 s pre-agg / 0.93 s hinted SHJ / 0.76 s sorted merge). Flat
    * inputs take both-dims broadcast while orders fits the forced-broadcast
    * budget, filter-first while its key set does, pre-agg-first beyond —
    * and pre-agg-first whenever broadcasts are disabled. */
  private val qTpchQ3: Q = (s, dir) => {
    prep(s, dir)
    s.sql(Shape.q3(Shape.bucketed(dir, "lineitem", "orders"), Shape.rows(dir, "orders"),
      Shape.bcast(s)) match {
      case "bcast-both" => q3BcastBoth
      case "filter-first" => q3FilterFirst
      case _ => q3PreAggFirst
    })
  }
  private val oTpchQ3 =
    """SELECT o.o_orderkey,
      | CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
      |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |GROUP BY o.o_orderkey
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  // Salted two-level sum like q1: 25 (region, nation) groups would hit
  // the 2^63 single-level BIGINT bound at large SF; the salt defers that
  // to petabyte-per-group scale with the hot loop still pure long codegen.
  /** TPC-H q4 SHAPE (order-priority check), LAYOUT-ADAPTIVE (r15): a
    * LEFT-SEMI join on l_orderkey — the one relational join shape the
    * bench set didn't cover. The synthetic schema has no l_commitdate,
    * so the correlated predicate is "has a returned item"
    * (l_returnflag = 'R'), preserving the query's structure: a filtered
    * fact-side semi-join feeding a small grouped count.
    *
    * On FLAT storage the IN(DISTINCT) form wins: the explicit DISTINCT
    * adds a map-side partial dedup BEFORE the lineitem side shuffles, so
    * the semi-join's shuffled volume drops to unique-orderkey grain
    * (A/B recorded in SCALEUP.md: 2.97 -> 2.70 s at unbucketed sf10,
    * 0.71 -> 0.60 s at sf0.1 vs bare EXISTS). On the CO-LOCATED bucketed
    * layout there is no shuffle to shrink — the distinct's two hash
    * aggregates are pure overhead AND destroy the buckets' sort order —
    * so the bare EXISTS form streams the sorted scans straight into the
    * zero-exchange sort-merge semi-join (r15 A/B at bucketed sf10:
    * 1.00 -> 0.71 s; with the scans' order REPORTED since r17 — prep's
    * outputOrdering profile — the merge drops its two Sorts too,
    * 0.62 -> 0.42 s). prep's layout marker picks the shape. */
  private val q4Exists =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 1000""".stripMargin
  private val q4InDistinct =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND o.o_orderkey IN (SELECT DISTINCT l_orderkey FROM lineitem
      |                       WHERE l_returnflag = 'R')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 1000""".stripMargin
  /** SMALL-FLAT q4 (r17): broadcast the date-filtered orders INTO the
    * lineitem scan — the semi-dedup happens as an IN-STAGE partial agg on
    * (orderkey, priority), so the only exchange carries matched-order
    * grain and the IN-DISTINCT form's separate distinct-aggregation
    * stage pair disappears (sf0.1 same-process A/B: 0.455 -> 0.325 s vs
    * IN-DISTINCT, 0.550 for the broadcast-keys semi form). Forced hint,
    * so only dispatched while the whole orders relation comfortably
    * clears the broadcast budget — the filtered side is what broadcasts,
    * but the guard stays conservative on the unfiltered size. Same
    * EXISTS semantics: o_orderkey is unique, and the inner GROUP BY
    * collapses per-order lineitem multiplicity. */
  private val q4BcastOrders =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT /*+ BROADCAST(o) */ o.o_orderkey, o.o_orderpriority
      |  FROM lineitem l
      |  JOIN (SELECT o_orderkey, o_orderpriority FROM orders
      |        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00') o
      |    ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_returnflag = 'R'
      |  GROUP BY o.o_orderkey, o.o_orderpriority)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 1000""".stripMargin
  private val qTpchQ4: Q = (s, dir) => {
    prep(s, dir)
    s.sql(Shape.q4(Shape.bucketed(dir, "lineitem"), Shape.rows(dir, "orders"),
      Shape.bcast(s)) match {
      case "exists" => q4Exists
      case "bcast-orders" => q4BcastOrders
      case _ => q4InDistinct
    })
  }
  private val oTpchQ4 =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 1000""".stripMargin

  /** TPC-H q12 SHAPE (shipping-mode lateness): fact-dimension join with
    * conditional aggregation. No l_shipmode/l_commitdate in the synthetic
    * schema, so lateness = shipped more than 60 days after the order date,
    * split by high/low priority — the same join + CASE-sum structure.
    * LAYOUT-ADAPTIVE history: on the co-located bucketed layout the join
    * is exchange-free either way. r15 hinted SHUFFLE_HASH(o) there to
    * dodge the SMJ's re-sorts; since r17 the sorted-bucket scan REPORTS
    * its order (prep sets bucketedTableScan.outputOrdering), so the
    * unhinted SMJ is a pure streaming merge with no sorts and no
    * per-bucket hash build — sf10 A/B: 0.73 s hinted SHJ vs 0.54 s
    * sorted merge. Flat storage keeps the same unhinted SQL (Catalyst
    * picks the join for the shuffled shape). */
  private val q12Body =
    """SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |       THEN 'high' ELSE 'low' END AS prio,
      |  CAST(sum(CASE WHEN unix_timestamp(l.l_shipdate) - unix_timestamp(o.o_orderdate) > 5184000
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY 1 LIMIT 1000""".stripMargin
  /** NARROW-BUILD q12 (r18): priority collapsed to a boolean and the
    * order date to an epoch long BEFORE the broadcast, so the CASE/IN and
    * one of the two per-row timestamp conversions run once per ORDER on
    * the build side instead of once per LINEITEM row on the probe side,
    * and the broadcast payload is (long, bool, long). Forced hint, so
    * dispatched only inside the same broadcast budget as q3/q4. */
  private[spark] val q12Narrow =
    """SELECT CASE WHEN high THEN 'high' ELSE 'low' END AS prio, n_late, n_items FROM (
      | SELECT /*+ BROADCAST(o) */ o.high,
      |  CAST(sum(CASE WHEN unix_timestamp(l.l_shipdate) - o.od > 5184000
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(count(*) AS BIGINT) AS n_items
      | FROM lineitem l
      | JOIN (SELECT o_orderkey, o_orderpriority IN ('1-URGENT', '2-HIGH') AS high,
      |       unix_timestamp(o_orderdate) AS od FROM orders) o
      |   ON l.l_orderkey = o.o_orderkey
      | GROUP BY o.high)
      |ORDER BY prio LIMIT 1000""".stripMargin
  /** LAYOUT/SIZE-ADAPTIVE q12 (r18): bucketed layout keeps the unhinted
    * sorted streaming merge (r17's win); small flat inputs take the
    * narrow forced-broadcast shape; large flat inputs keep the unhinted
    * body (Catalyst picks the shuffled join). */
  private val qTpchQ12: Q = (s, dir) => {
    prep(s, dir)
    s.sql(if (Shape.q12(Shape.bucketed(dir, "lineitem", "orders"), Shape.rows(dir, "orders"),
      Shape.bcast(s)) == "narrow") q12Narrow else q12Body)
  }
  private val oTpchQ12 =
    """SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |       THEN 'high' ELSE 'low' END AS prio,
      |  CAST(sum(CASE WHEN epoch(l.l_shipdate) - epoch(o.o_orderdate) > 5184000
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY 1 LIMIT 1000""".stripMargin

  /** SUPPLIER-GRAIN PRE-AGG (r17): the best large-input q5 shape does NO
    * joins at all on the 60M-row pass — aggregate lineitem by l_suppkey
    * (one primitive-key agg, ~0.25 s of the sf10 stage), then walk the
    * ≤100K partials through the supplier→nation→region broadcasts and
    * re-sum per (region, nation). Compared with join-then-agg this
    * removes three per-row broadcast probes and shrinks the first
    * exchange to supplier grain; compared with the r16 pmod salt, the
    * suppkey IS the overflow salt — per-(suppkey) BIGINT-cents sums
    * overflow only past ~9e9 rows PER SUPPLIER, and TPC-H suppliers
    * scale with the data (fixed ~600 rows each at every SF), so the
    * exactness headroom is unbounded in corpus size. sf10 A/B (same
    * window): salted 2.04 s / one-probe dim join 2.52 s / supp 1.18 s. */
  private val q5SuppSql =
    """WITH p AS (
      | SELECT l_suppkey AS sk,
      |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_c,
      |  count(*) AS n
      | FROM lineitem GROUP BY l_suppkey)
      |SELECT r.r_name, n.n_name,
      | CAST(CAST(sum(CAST(p.rev_c AS DECIMAL(38,0))) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
      | CAST(sum(p.n) AS BIGINT) AS n_items
      |FROM p
      |JOIN supplier s ON p.sk = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name, n.n_name
      |ORDER BY r.r_name, n.n_name LIMIT 1000""".stripMargin
  private val qTpchQ5Supp = sqlQ(q5SuppSql)
  /** Forced-broadcast BRANCH rows (b_tpch_q3_bcast / b_tpch_q4_bcast) are
    * correctness-gate pins, but a forced BROADCAST hint has no size guard
    * of its own — run at a large SF it would risk driver OOM inside the
    * gate (ADVICE r17). Wrap them in the SAME budget the dispatchers use:
    * within budget the forced shape runs (what the row exists to pin, and
    * always true at gate SFs); beyond it the row falls back to the
    * unforced shape instead of failing — same oracle either way. */
  private def guardedBcast(bcastSql: String, fallbackSql: String): Q = (s, dir) => {
    prep(s, dir)
    s.sql(if (Shape.guarded(Shape.rows(dir, "orders"), Shape.bcast(s)) == "bcast") bcastSql
          else fallbackSql)
  }

  /** BUCKETED-LAYOUT GATE DIR (VERDICT r17 item 7): the q3/q4/q12/funnel
    * dispatchers key their shape off the `_graft_buckets.json` marker, but
    * until r18 the bucketed branch was exercised only by ScalaTest — never
    * by a driver CORRECTNESS row. This builds a bucketed+sorted IDENTITY
    * copy of the gate's sf dir (ScaleUp at copies=1: same rows, co-located
    * layout, sorted marker) under java.io.tmpdir, keyed by the source
    * lineitem fingerprint so a regenerated source never reuses a stale
    * copy while JVMs on one box share a current one. The *_bucketed rows below run the UNCHANGED dispatchers
    * against it — same oracles, so the driver hash-verifies the bucketed
    * plans end to end (CREATE TABLE … CLUSTERED/SORTED BY registration,
    * outputOrdering/sortAgg confs, streaming-merge joins). */
  private def bucketedGateDir(s: SparkSession, dir: String): String = synchronized {
    val (len, mtime) = Shape.dirFingerprint(s"$dir/lineitem.parquet")
    val tag = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s"$dir|$len|$mtime").toLong & 0xffffffffL)
    val dst = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_gate_bucketed_$tag").getPath
    if (!new java.io.File(s"$dst/lineitem.parquet/_graft_buckets.json").exists())
      graft.tools.ScaleUp.run(s, src = dir, dst = dst, copies = 1)
    dst
  }

  /** SUPPLIER PRE-AGG + NESTED DIM BROADCAST (r18): same supplier-grain
    * fact pass as [[q5SuppSql]], but the three dims pre-join inside ONE
    * broadcast-build stage (nation+region broadcast concurrently into the
    * supplier scan) instead of a three-deep dependent broadcast chain,
    * and the 25-row ordering rides the LIMIT's TakeOrdered. r18 5-rep
    * same-process A/Bs: beats BOTH r17 shapes at every SF — sf0.1 0.368
    * vs 0.461 flat, sf3 0.580 vs 0.650 flat / 1.01 supp, sf10 1.158 vs
    * 1.340 flat / 1.455 supp — so the r17 512 MB crossover is gone. */
  private[spark] val q5SuppBcastSql =
    """WITH p AS (
      | SELECT l_suppkey AS sk,
      |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_c,
      |  count(*) AS n
      | FROM lineitem GROUP BY l_suppkey),
      |dim AS (
      | SELECT /*+ BROADCAST(n, r) */ s.s_suppkey AS sk, n.n_name, r.r_name
      | FROM supplier s
      | JOIN nation n ON s.s_nationkey = n.n_nationkey
      | JOIN region r ON n.n_regionkey = r.r_regionkey)
      |SELECT /*+ BROADCAST(d) */ d.r_name, d.n_name,
      | CAST(CAST(sum(CAST(p.rev_c AS DECIMAL(38,0))) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
      | CAST(sum(p.n) AS BIGINT) AS n_items
      |FROM p JOIN dim d ON p.sk = d.sk
      |GROUP BY d.r_name, d.n_name
      |ORDER BY d.r_name, d.n_name LIMIT 1000""".stripMargin
  /** q5 dispatcher (r18): supplier-grain pre-agg at every size (exact via
    * per-supplier BIGINT cents — TPC-H suppliers scale with the data at a
    * fixed ~600 rows each, so the headroom is unbounded in corpus size);
    * the broadcast-hinted dim nesting while supplier fits the
    * forced-broadcast budget (supplier is SF x 10K rows — at warehouse
    * scale it outgrows any broadcast), the unhinted [[q5SuppSql]] beyond.
    * Both branches stay oracle-verified (b_tpch_q5 / b_tpch_q5_supp). */
  private val qTpchQ5: Q = (s, dir) => {
    prep(s, dir)
    s.sql(if (Shape.q5(Shape.rows(dir, "supplier"), Shape.bcast(s)) == "supp-bcast") q5SuppBcastSql
          else q5SuppSql)
  }
  private val oTpchQ5 =
    """SELECT r.r_name, n.n_name,
      | CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
      | CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem l
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name, n.n_name
      |ORDER BY r.r_name, n.n_name LIMIT 1000""".stripMargin

  // PRESENTATION ORDER BY REMOVED (r18): the result is an unordered
  // per-customer set; the driver gate sorts rows before hashing, so a
  // final global ORDER BY was pure cost in BOTH engines — in Spark a
  // whole rangepartitioning exchange + sort stage per query. Dropped
  // from query AND oracle in lockstep (same SQL semantics both sides;
  // data-dependent cardinality, so the TakeOrdered LIMIT trick stays
  // forbidden here). Semantic top-k ORDER BYs (q3's LIMIT 10, the
  // window's own ordering) are untouched.
  // ARGMAX-AS-AGGREGATE (r18): top-1-per-group needs no window at all —
  // max over an ordered struct (price first, NEGATED orderkey second, so
  // the struct max IS "highest price, ties to the lowest orderkey") runs
  // as an ordinary hash aggregate: map-side partials collapse the ~10
  // orders per customer before the exchange and NOTHING ever sorts. The
  // window form (kept below as b_top_order_window, same oracle) pays a
  // full per-partition sort + window pass for the same one row per group.
  // For k>1 the window/TopK forms remain the right tool; this shape is
  // the k=1 special case.
  private val qTopOrderPerCustomer = sqlQ(
    """SELECT o_custkey, -m.nk AS o_orderkey, m.p AS o_totalprice FROM (
      | SELECT o_custkey, max(named_struct('p', o_totalprice, 'nk', -o_orderkey)) AS m
      | FROM orders GROUP BY o_custkey)""".stripMargin)
  private val qTopOrderWindow = sqlQ(
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      | FROM orders) WHERE rn = 1""".stripMargin)
  private val oTopOrderPerCustomer =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      | FROM orders) t WHERE rn = 1""".stripMargin

  /** Same result as b_top_order through the k-bounded Aggregator instead
    * of the window: map-side partials cap at k, so the exchange carries
    * groups × k rows — the shape that survives a hot customer with 10^9
    * orders, where the window serializes the group into one sorting task.
    * Shares b_top_order's oracle: the outputs must be identical. */
  private val qTopOrderAgg = (s: SparkSession, dir: String) => {
    prep(s, dir)
    TopK.topKPerGroup(
        s.table("orders").select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"), "o_orderkey", "o_totalprice", k = 1, descending = true)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
  }

  /** Semi-structured props: the events table carries a JSON VARCHAR
    * payload (`{"k": N}`) that no row exercised until r13. Spark parses
    * with get_json_object (codegen JsonPath — no UDF, pushdown-friendly
    * projection); the oracle replays with DuckDB's json extension. At
    * 100 TB this is the telemetry-ingest shape: JSON stays a string at
    * rest, typed extraction happens in the scan projection, and the
    * aggregate rides the same single exchange as any grouped count. */
  // r18 (ADVICE r17): the LIMIT-1000 TakeOrdered trick is gone from this
  // row — event_type cardinality is data-dependent, not schema-bounded,
  // so a silent identical-in-both-engines truncation was undetectable by
  // the hash gate. With the presentation ORDER BY also dropped (gate
  // sorts rows itself) the plan is the minimum possible: scan+partial
  // agg -> one exchange -> final agg. The JSON payload is parsed ONCE
  // per row in an inner projection; the previous form called
  // get_json_object three times per row (3x JSONPath parses of the same
  // string). Oracle mirrors both changes.
  private val qEventsJson = sqlQ(
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(k) AS BIGINT) AS sum_k,
      | CAST(min(k) AS BIGINT) AS min_k,
      | CAST(max(k) AS BIGINT) AS max_k
      |FROM (SELECT event_type,
      |        CAST(get_json_object(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type""".stripMargin)
  private val oEventsJson =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(k) AS BIGINT) AS sum_k,
      | CAST(min(k) AS BIGINT) AS min_k,
      | CAST(max(k) AS BIGINT) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events) t
      |GROUP BY event_type""".stripMargin

  /** Ordered conversion funnel (view -> click within 24 h -> purchase
    * within 24 h): each stage is a per-user min-timestamp aggregate
    * joined to the prior stage with the ordering + window conjuncts in
    * the join filter — three aggregate+join stages, no window function,
    * no per-user event sorting. At 100 TB every stage shuffles on
    * user_id (the same key), so AQE reuses the partitioning and the
    * heavy events relation is scanned once per referenced stage with the
    * event_type filter pushed to the scan. */
  // SINGLE-WINDOW funnel (r15 variant): one shuffle on user_id, one sort,
  // three stacked running-min window passes sharing that sort, one small
  // aggregate. Stage carries are RUNNING MINS over the event-time order —
  // v_run(t) = min view ts at-or-before t, so a click qualifies iff
  // t > v_run(t) within the window (the global min view is visible at t
  // exactly when it could qualify t), and likewise c_run for purchases:
  // provably the same v/c/p per user as the staged min-join form (the
  // DuckDB oracle BELOW keeps that staged formulation — the differential
  // check). Unlike the r14 collect_list fold this holds O(1) state per
  // user (UnboundedPreceding running aggregates stream; the sort spills),
  // and unlike the r13 staged joins it scans events once and shuffles
  // once — on bucketed events it is fully exchange-free. The fold
  // survives as b_events_funnel_fold and the staged joins as
  // b_events_funnel_staged, all oracle-checked against the same
  // replay. The b_events_funnel ENTRY dispatches adaptively (see
  // qEventsFunnel): staged on bucketed/large events (on the co-located
  // layout the staged partial-min aggregates beat this window's full
  // sort — sf10 A/B: 0.28 s staged vs 0.47 s window — and carry zero
  // per-user state), fold on small flat files.
  private val qEventsFunnelWindow = sqlQ(
    """WITH w AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    min(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_run
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |w2 AS (
      |  SELECT user_id, ts, event_type, v_run,
      |    min(CASE WHEN event_type = 'click' AND ts > v_run
      |          AND CAST(ts AS DOUBLE) - CAST(v_run AS DOUBLE) <= 86400 THEN ts END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_run
      |  FROM w),
      |u AS (
      |  SELECT user_id,
      |    max(CASE WHEN v_run IS NOT NULL THEN 1 ELSE 0 END) AS has_v,
      |    max(CASE WHEN c_run IS NOT NULL THEN 1 ELSE 0 END) AS has_c,
      |    max(CASE WHEN event_type = 'purchase' AND ts > c_run
      |          AND CAST(ts AS DOUBLE) - CAST(c_run AS DOUBLE) <= 86400
      |        THEN 1 ELSE 0 END) AS has_p
      |  FROM w2 GROUP BY user_id)
      |SELECT CAST(sum(has_v) AS BIGINT) AS n_view,
      |       CAST(sum(has_c) AS BIGINT) AS n_click,
      |       CAST(sum(has_p) AS BIGINT) AS n_purchase
      |FROM u""".stripMargin)

  // Staged min-aggregate joins — the at-SCALE funnel shape (VERDICT r14
  // item 2): every stage keeps MAP-SIDE PARTIAL AGGREGATION — stage 1 is
  // a plain per-user min over the pushed-down 'view' scan; stages 2/3
  // shuffle only the click/purchase rows (not all events) and join them
  // to the previous stage's per-user row, already hash-partitioned on
  // user_id, so AQE reuses the partitioning (exchange-free end-to-end on
  // bucketed events). Three scans/joins, but no per-user state at all.
  private val funnelStagedSql =
    """WITH v AS (SELECT user_id, min(ts) AS t FROM events
      |     WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN v ON e.user_id = v.user_id
      |     WHERE e.event_type = 'click' AND e.ts > v.t
      |       AND CAST(e.ts AS DOUBLE) - CAST(v.t AS DOUBLE) <= 86400 GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN c ON e.user_id = c.user_id
      |     WHERE e.event_type = 'purchase' AND e.ts > c.t
      |       AND CAST(e.ts AS DOUBLE) - CAST(c.t AS DOUBLE) <= 86400 GROUP BY e.user_id)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
      |       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click,
      |       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase""".stripMargin

  // The r14 single-scan array-fold funnel (one scan, one shuffle — but
  // the per-user collect_list buffer is unbounded in the hot-user
  // dimension; VERDICT r14 item 1). Oracle-checked against the same
  // staged-min replay as the default entry.
  private val funnelFoldSql =
    """WITH u AS (
      |  SELECT user_id, collect_list(named_struct('ts', ts, 'tp', event_type)) AS evs
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
      |  GROUP BY user_id),
      |s1 AS (SELECT evs,
      |    array_min(transform(filter(evs, e -> e.tp = 'view'), e -> e.ts)) AS v
      |  FROM u),
      |s2 AS (SELECT evs, v,
      |    array_min(transform(filter(evs, e -> e.tp = 'click' AND e.ts > v
      |      AND CAST(e.ts AS DOUBLE) - CAST(v AS DOUBLE) <= 86400), e -> e.ts)) AS c
      |  FROM s1),
      |s3 AS (SELECT v, c,
      |    array_min(transform(filter(evs, e -> e.tp = 'purchase' AND e.ts > c
      |      AND CAST(e.ts AS DOUBLE) - CAST(c AS DOUBLE) <= 86400), e -> e.ts)) AS p
      |  FROM s2)
      |SELECT CAST(count(v) AS BIGINT) AS n_view,
      |       CAST(count(c) AS BIGINT) AS n_click,
      |       CAST(count(p) AS BIGINT) AS n_purchase
      |FROM s3""".stripMargin

  /** The b_events_funnel entry is SF/LAYOUT-ADAPTIVE (r16, VERDICT r15
    * item 3 — the same dispatch discipline as q4/q12/q3): on the
    * co-located bucketed events layout the staged partial-min joins are
    * exchange-free and beat every one-shuffle shape (r15 A/B at bucketed
    * sf10: staged 0.28 s vs window 0.47 s); on small FLAT files the three
    * tiny join stages are pure stage-launch floor — 3 stages' overhead on
    * a sub-100 ms oracle — and the r14 single-scan array-fold wins (r14
    * sf0.1: fold 0.162 s vs staged 0.344 s). Dispatch (Shape.funnel):
    * bucketed marker → staged; flat and small → fold; flat and LARGE →
    * staged (the fold's per-user collect_list buffer is unbounded in the
    * hot-user dimension, never the 100-TB pick). All three shapes share
    * one oracle — the differential check. */
  private val qEventsFunnel: Q = (s, dir) => {
    prep(s, dir)
    s.sql(if (Shape.funnel(Shape.bucketed(dir, "events"), Shape.rows(dir, "events")) == "fold")
      funnelFoldSql else funnelStagedSql)
  }
  private val qEventsFunnelStaged = sqlQ(funnelStagedSql)
  private val qEventsFunnelFold = sqlQ(funnelFoldSql)
  private val oEventsFunnel =
    """WITH v AS (SELECT user_id, min(ts) AS t FROM events
      |     WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN v ON e.user_id = v.user_id
      |     WHERE e.event_type = 'click' AND e.ts > v.t
      |       AND epoch(e.ts) - epoch(v.t) <= 86400 GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN c ON e.user_id = c.user_id
      |     WHERE e.event_type = 'purchase' AND e.ts > c.t
      |       AND epoch(e.ts) - epoch(c.t) <= 86400 GROUP BY e.user_id)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
      |       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click,
      |       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase""".stripMargin

  // MANUAL TWO-LEVEL DISTINCT (r18): Spark plans count(DISTINCT x) with
  // an Expand that doubles every input row (one copy for the distinct,
  // one for the plain aggregates). The hand-written two-level form — an
  // inner count per (type, hour, user), an outer sum + count — shuffles
  // the same two times but moves GROUPED rows, never expanded ones.
  // count(user_id) at the outer level (not count(*)) keeps the exact
  // count-DISTINCT null semantics: a null-user group must not count as
  // a user. The oracle keeps the count(DISTINCT) spelling — identical
  // results, the differential check.
  private val hourlyTwoLevelSql =
    """SELECT event_type, hour_epoch,
      | CAST(sum(cnt) AS BIGINT) AS n, CAST(count(user_id) AS BIGINT) AS n_users
      |FROM (SELECT event_type, CAST(date_trunc('hour', ts) AS BIGINT) AS hour_epoch,
      |        user_id, count(*) AS cnt
      |      FROM events GROUP BY 1, 2, 3)
      |GROUP BY event_type, hour_epoch""".stripMargin
  // SINGLE-PARTITION small form (r19): a one-row-group flat events file is
  // ONE scan task, so the two-level rollup's work is single-core either
  // way — but its two exchanges are two stage barriers over a sub-50 ms
  // oracle. COALESCE(1) makes the scan report SinglePartition, which
  // satisfies both aggregates' clustering, so the whole rollup runs as ONE
  // stage with zero exchanges (same-window A/B, twice: 0.276 -> 0.185 s,
  // 0.258 -> 0.189 s; every other floor row's single-exchange form
  // measured at the noise floor and stays unchanged). Gated on small FLAT
  // events only — bucketed scale dirs keep the two-level form, which
  // b_events_hourly_wide pins against the same oracle at every SF.
  private val hourlyOneSql =
    """SELECT event_type, hour_epoch,
      | CAST(sum(cnt) AS BIGINT) AS n, CAST(count(user_id) AS BIGINT) AS n_users
      |FROM (SELECT event_type, CAST(date_trunc('hour', ts) AS BIGINT) AS hour_epoch,
      |        user_id, count(*) AS cnt
      |      FROM (SELECT /*+ COALESCE(1) */ event_type, ts, user_id FROM events)
      |      GROUP BY 1, 2, 3)
      |GROUP BY event_type, hour_epoch""".stripMargin
  private val qEventsHourly: Q = (s, dir) => {
    prep(s, dir)
    s.sql(if (Shape.hourly(Shape.bucketed(dir, "events"), Shape.rows(dir, "events")) ==
      "one-partition") hourlyOneSql else hourlyTwoLevelSql)
  }
  private val qEventsHourlyWide = sqlQ(hourlyTwoLevelSql)
  private val oEventsHourly =
    """SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      | CAST(count(*) AS BIGINT) AS n, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events
      |GROUP BY event_type, date_trunc('hour', ts)""".stripMargin

  /** Gap-based sessionization (30-min idle gap) — the batch shape of the
    * streaming mapGroupsWithState sessionizer. A session COUNT never needs
    * the running session-id sum: the id is a non-decreasing prefix sum of
    * session-start flags, so count(DISTINCT running_sum) == sum(is_new) —
    * dropping the second window pass and the distinct-aggregate expand
    * (r8 floor analysis: those were ~40% of the kernel). One exchange on
    * user_id, one sort, one lag window, one hash agg. Both engines run
    * this same formulation. */
  private val qEventsSessions = sqlQ(
    """SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM (
      | SELECT user_id,
      |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
      |       WHEN CAST(ts AS DOUBLE) - CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) > 1800 THEN 1
      |       ELSE 0 END AS is_new
      | FROM events)
      |GROUP BY user_id""".stripMargin)
  private val oEventsSessions =
    """SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM (
      | SELECT user_id,
      |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
      |       WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 THEN 1
      |       ELSE 0 END AS is_new
      | FROM events) t1
      |GROUP BY user_id""".stripMargin

  /** As-of join: every click event picks up the most recent purchase
    * value at-or-before it, per user — the point-in-time feature lookup.
    * Spark side is [[AsofJoin.asofJoin]] (union + single key-partitioned
    * window carry: ONE shuffle, no range join, no broadcast of the
    * right); the oracle replays DuckDB's native ASOF LEFT JOIN on the
    * identical pre-aggregated inputs. Timestamps compare as epoch
    * micros; the right side is pre-aggregated to one row per
    * (user_id, ts) so "latest" is engine-independent. */
  private val qEventsAsof: Q = (s, dir) => {
    prep(s, dir)
    val ev = s.table("events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("pval"))
    AsofJoin.asofJoin(clicks, purchases, Seq("user_id"), "ts", Seq("pval"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(col("asof_ts")).as("asof_ts_us"),
        col("asof_pval").as("asof_value"))
  }
  private val oEventsAsof =
    """WITH l AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |r AS (
      |  SELECT user_id, ts, max(value) AS pval FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id, ts)
      |SELECT l.event_id, l.user_id,
      | CAST(epoch_us(l.ts) AS BIGINT) AS ts_us,
      | CAST(epoch_us(r.ts) AS BIGINT) AS asof_ts_us,
      | r.pval AS asof_value
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin

  /** Interval (range) join: events routed to the part-table value bands
    * containing them — [[RangeJoin.intervalJoin]]'s bin-equi-join +
    * giant-interval broadcast shape vs DuckDB's native inequality
    * (IE) join. Output aggregated per event (count + min/max band id)
    * so the compare is compact; floor() keeps the point derivation
    * engine-exact on identical input doubles. */
  private val qIntervalJoin: Q = (s, dir) => {
    prep(s, dir)
    val pts = s.table("events")
      .select(col("event_id"), expr("CAST(floor(value * 100) AS BIGINT)").as("p"))
    val ivs = s.table("part")
      .select(col("p_partkey").as("iid"),
        expr("CAST(p_partkey * 3 AS BIGINT)").as("lo"),
        expr("CAST(p_partkey * 3 + p_partkey % 97 AS BIGINT)").as("hi"))
    RangeJoin.intervalJoin(pts, "p", ivs, "lo", "hi", binWidth = 64L)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_iv"), min(col("iid")).as("min_iid"),
        max(col("iid")).as("max_iid"))
  }
  private val oIntervalJoin =
    """WITH p AS (
      |  SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS p FROM events),
      |i AS (
      |  SELECT p_partkey AS iid, CAST(p_partkey * 3 AS BIGINT) AS lo,
      |         CAST(p_partkey * 3 + p_partkey % 97 AS BIGINT) AS hi FROM part)
      |SELECT p.event_id, CAST(count(*) AS BIGINT) AS n_iv,
      |       min(i.iid) AS min_iid, max(i.iid) AS max_iid
      |FROM p JOIN i ON p.p >= i.lo AND p.p <= i.hi
      |GROUP BY p.event_id""".stripMargin

  // ============================================================== registry

  /** name -> (query, oracle). Oracle None => rows-only check. */
  val all: Seq[(String, Q, Option[String])] = Seq(
    ("g_io_text", qIoText, Some(oIoText)),
    ("g_io_exact", qIoExact, Some(oIoExact)),
    ("g_io_wkb", qIoWkb, Some(oIoWkb)),
    ("g_io_novalidate", qIoNovalidate, Some(oIoNovalidate)),
    ("g_prepare", qPrepareGolden, Some(oPrepareGolden)),
    ("g_nulls", qNullsGolden, Some(oNullsGolden)),
    ("g_errors", qErrorsGolden, Some(oErrorsGolden)),
    ("g_accessors", qAccessorsGolden, Some(oAccessorsGolden)),
    ("g_xy", qXyGolden, Some(oXyGolden)),
    ("g_predicates", qPredicatesGolden, Some(oPredicatesGolden)),
    ("g_distance", qDistanceGolden, Some(oDistanceGolden)),
    ("g_cells", qCellsGolden, Some(oCellsGolden)),
    ("g_cell_casts", qCellCastsGolden, Some(oCellCastsGolden)),
    ("g_covering", qCoveringGolden, Some(oCoveringGolden)),
    ("g_overlay", qOverlayGolden, Some(oOverlayGolden)),
    ("g_overlay_snap", qOverlaySnap, Some(oOverlaySnap)),
    ("g_overlay_degen", qOverlayDegen, Some(oOverlayDegen)),
    ("g_bounds", qBoundsGolden, Some(oBoundsGolden)),
    ("g_data", qDataGolden, Some(oDataGolden)),
    ("g_flagship_join", qFlagshipJoin, Some(oFlagshipJoin)),
    ("g_flagship_broadcast", qFlagshipBroadcast, Some(oFlagshipJoin)),
    ("t_xy", qScaleXy, Some(oScaleXy)),
    ("t_wkt", qScaleWkt, Some(oScaleWkt)),
    ("t_wkb", qScaleWkb, Some(oScaleWkb)),
    ("t_validity", qScaleValidity, Some(oScaleValidity)),
    ("t_isempty", qScaleIsempty, Some(oScaleIsempty)),
    ("t_cells", qScaleCells, Some(oScaleCells)),
    ("t_point_in_poly", qPointInPoly, Some(oPointInPoly)),
    ("t_cover_refine_join", qCoverRefineJoin, Some(oCoverRefineJoin)),
    ("t_dwithin", qDwithinScale, Some(oDwithinScale)),
    ("t_dwithin_join", qDwithinJoin, Some(oDwithinJoin)),
    ("t_dwithin_join_sql", qDwithinJoinSql, Some(oDwithinJoin)),
    ("t_knn_join", qKnnJoin, Some(oKnnJoin)),
    ("b_knn", qKnnBench, Some(oKnnBench)),
    ("b_stream_dwithin", qStreamDwithin, Some(oStreamDwithin)),
    ("b_stream_funnel", qStreamFunnel, Some(oStreamFunnel)),
    ("b_stream_funnel_buf", qStreamFunnelBuf, Some(oStreamFunnel)),
    ("t_distance", qDistanceScale, Some(oDistanceScale)),
    ("t_covering", qCoveringScale, Some(oCoveringScale)),
    ("t_measures", qMeasuresScale, Some(oMeasuresScale)),
    ("t_prepare_join", qPrepareScale, Some(oPrepareScale)),
    ("l_dedup_exact", qDedupExact, Some(oDedupExact)),
    ("l_dedup_pairs", qDedupPairs, Some(oDedupPairs)),
    ("l_dedup_minhash", qDedupMinhash, Some(oDedupMinhash)),
    ("l_dedup_minhash_shingle", qDedupMinhashShingle, Some(oDedupPairs)),
    ("l_dedup_verified", qDedupVerified, Some(oDedupVerified)),
    ("l_dedup_incremental", qDedupIncremental, Some(oDedupIncremental)),
    ("l_dedup_simhash", qDedupSimhash, Some(oDedupPairs)),
    ("l_dedup_clusters", qDedupClusters, Some(oDedupClusters)),
    ("l_dedup_cluster_hist", qDedupClusterHist, Some(oDedupClusterHist)),
    ("l_dedup_resolve", qDedupResolve, Some(oDedupResolve)),
    ("l_dedup_resolve_best", qDedupResolveBest, Some(oDedupResolveBest)),
    ("l_pipeline", qPipeline, Some(oPipeline)),
    ("l_pipeline2", qPipeline2, Some(oPipeline2)),
    ("l_pipeline3", qPipeline3, Some(oPipeline3)),
    ("l_sample", qSample, Some(oSample)),
    ("l_shuffle", qShuffle, Some(oShuffle)),
    ("l_token_budget", qTokenBudget, Some(oTokenBudget)),
    ("l_export_shards", qExportShards, Some(oExportShards)),
    ("l_decontam", qDecontam, Some(oDecontam)),
    ("l_decontam_fuzzy", qDecontamFuzzy, Some(oDecontamFuzzy)),
    ("l_decontam_bloom", qDecontamBloom, Some(oDecontamBloom)),
    ("l_dsir", qDsir, Some(oDsir)),
    ("l_dup_spans", qDupSpans, Some(oDupSpans)),
    ("l_dup_span_removal", qDupSpanRemoval, Some(oDupSpanRemoval)),
    ("l_tfidf", qTfidf, Some(oTfidf)),
    ("l_source_overlap", qSourceOverlap, Some(oSourceOverlap)),
    ("l_text_normalize", qTextNormalize, Some(oTextNormalize)),
    ("l_text_redact", qTextRedact, Some(oTextRedact)),
    ("l_text_repetition", qTextRepetition, Some(oTextRepetition)),
    ("l_line_dedup", qLineDedup, Some(oLineDedup)),
    ("l_domain_mix", qDomainMix, Some(oDomainMix)),
    ("l_pack", qPack, Some(oPack)),
    ("l_vocab", qVocab, Some(oVocab)),
    ("l_unigram_ppl", qUnigramPpl, Some(oUnigramPpl)),
    ("l_bigram_ppl", qBigramPpl, Some(oBigramPpl)),
    ("l_corpus_diff", qCorpusDiff, Some(oCorpusDiff)),
    ("l_text_embed", qTextEmbed, Some(oTextEmbed)),
    ("l_temp_mix", qTempMix, Some(oTempMix)),
    ("l_surprisal_gate", qSurprisalGate, Some(oSurprisalGate)),
    ("l_data_card", qDataCard, Some(oDataCard)),
    ("l_quality_gate", qQualityGate, Some(oQualityGate)),
    ("l_weighted_sample", qWeightedSample, Some(oWeightedSample)),
    ("l_classifier_auc", qClassifierAuc, Some(oClassifierAuc)),
    ("l_chunk", qChunk, Some(oChunk)),
    ("l_jaccard", qJaccard, Some(oJaccard)),
    ("l_ann_top1", qAnnTop1, Some(oAnnTop1)),
    ("l_ann_ivf", qAnnIvf, Some(oAnnIvf)),
    ("l_ann_lsh", qAnnLsh, Some(oAnnIvf)),
    ("l_embed_neardup", qEmbedNearDup, Some(oEmbedNearDup)),
    ("l_embed_decontam", qEmbedDecontam, Some(oEmbedDecontam)),
    ("l_semantic_dedup", qSemanticDedup, Some(oEmbedNearDup)),
    ("l_text_tokens", qTextTokens, Some(oTextTokens)),
    ("l_text_quality", qTextQuality, Some(oTextQuality)),
    ("l_text_langid", qTextLangid, Some(oTextLangid)),
    ("l_text_fingerprint", qTextFingerprint, Some(oTextFingerprint)),
    ("l_gopher_rules", qGopherRules, Some(oGopherRules)),
    ("l_multimodal", qMultimodal, Some(oMultimodal)),
    ("l_image_neardup", qImageNearDup, Some(oImageNearDup)),
    ("l_audio_neardup", qAudioNearDup, Some(oAudioNearDup)),
    ("l_video_neardup", qVideoNearDup, Some(oVideoNearDup)),
    ("l_multimodal_resize", qMultimodalResize, Some(oMultimodalResize)),
    ("l_multimodal_decode", qMultimodalDecode, Some(oMultimodalDecode)),
    ("l_multimodal_audio", qMultimodalAudio, Some(oMultimodalAudio)),
    ("l_cms_tokens", qCmsTokens, Some(oCmsTokens)),
    ("l_ann_recall", qAnnRecall, Some(oAnnRecall)),
    ("l_ann_pq", qAnnPq, Some(oAnnPq)),
    ("l_ann_ivfpq", qAnnIvfPq, Some(oAnnIvfPq)),
    ("l_ann_ivfpq_bench", qAnnIvfPqBench, Some(oAnnIvfPqBench)),
    ("l_ann_ivfpq_persist", qAnnIvfPqPersist, Some(oAnnIvfPqPersist)),
    ("l_ann_ivfpq_incr", qAnnIvfPqIncr, Some(oAnnIvfPqIncr)),
    ("l_bpe_train", qBpeTrain, Some(oBpeTrain)),
    ("l_bpe_bytes", qBpeBytes, Some(oBpeBytes)),
    ("l_bpe_bytes_encode", qBpeBytesEncode, Some(oBpeBytesEncode)),
    ("l_bpe_vocab", qBpeVocab, Some(oBpeVocab)),
    ("l_quality_classifier", qQualityClassifier, Some(oQualityClassifier)),
    ("l_bpe_encode", qBpeEncode, Some(oBpeEncode)),
    ("l_frame_sample", qFrameSample, Some(oFrameSample)),
    ("b_tpch_q1", qTpchQ1, Some(oTpchQ1)),
    // non-default q1/q12 dispatch branches stay driver-verified (r18)
    ("b_tpch_q1_salted", sqlQ(q1SaltedSql), Some(oTpchQ1)),
    ("b_tpch_q12_narrow", guardedBcast(q12Narrow, q12Body), Some(oTpchQ12)),
    ("b_tpch_q6", qTpchQ6, Some(oTpchQ6)),
    ("b_tpch_q3", qTpchQ3, Some(oTpchQ3)),
    // every q3 dispatch branch stays driver-verified at the gate's SF
    // (the dispatcher itself only ever takes one branch per layout)
    ("b_tpch_q3_bcast", guardedBcast(q3BcastBoth, q3FilterFirst), Some(oTpchQ3)),
    ("b_tpch_q3_ff", sqlQ(q3FilterFirst), Some(oTpchQ3)),
    ("b_tpch_q3_preagg", sqlQ(q3PreAggFirst), Some(oTpchQ3)),
    // the BUCKETED dispatch branches, driver-verified against the same
    // oracles on an identity bucketed+sorted copy of the gate dir
    // (VERDICT r17 item 7 — see bucketedGateDir)
    ("b_tpch_q3_bucketed", (s: SparkSession, dir: String) =>
      qTpchQ3(s, bucketedGateDir(s, dir)), Some(oTpchQ3)),
    ("b_tpch_q4_bucketed", (s: SparkSession, dir: String) =>
      qTpchQ4(s, bucketedGateDir(s, dir)), Some(oTpchQ4)),
    ("b_tpch_q12_bucketed", (s: SparkSession, dir: String) =>
      qTpchQ12(s, bucketedGateDir(s, dir)), Some(oTpchQ12)),
    ("b_events_funnel_bucketed", (s: SparkSession, dir: String) =>
      qEventsFunnel(s, bucketedGateDir(s, dir)), Some(oEventsFunnel)),
    ("b_tpch_q4", qTpchQ4, Some(oTpchQ4)),
    // non-default q4 branches stay driver-verified (same oracle)
    ("b_tpch_q4_bcast", guardedBcast(q4BcastOrders, q4InDistinct), Some(oTpchQ4)),
    ("b_tpch_q4_exists", sqlQ(q4Exists), Some(oTpchQ4)),
    ("b_tpch_q4_indistinct", sqlQ(q4InDistinct), Some(oTpchQ4)),
    ("b_tpch_q5", qTpchQ5, Some(oTpchQ5)),
    ("b_tpch_q5_supp", qTpchQ5Supp, Some(oTpchQ5)),
    ("b_tpch_q12", qTpchQ12, Some(oTpchQ12)),
    ("b_top_order", qTopOrderPerCustomer, Some(oTopOrderPerCustomer)),
    ("b_top_order_window", qTopOrderWindow, Some(oTopOrderPerCustomer)),
    ("b_top_order_agg", qTopOrderAgg, Some(oTopOrderPerCustomer)),
    ("b_events_hourly", qEventsHourly, Some(oEventsHourly)),
    ("b_events_hourly_wide", qEventsHourlyWide, Some(oEventsHourly)),
    ("b_events_json", qEventsJson, Some(oEventsJson)),
    ("b_events_funnel", qEventsFunnel, Some(oEventsFunnel)),
    ("b_events_funnel_staged", qEventsFunnelStaged, Some(oEventsFunnel)),
    ("b_events_funnel_window", qEventsFunnelWindow, Some(oEventsFunnel)),
    ("b_events_funnel_fold", qEventsFunnelFold, Some(oEventsFunnel)),
    ("b_events_sessions", qEventsSessions, Some(oEventsSessions)),
    ("b_events_asof", qEventsAsof, Some(oEventsAsof)),
    ("b_interval_join", qIntervalJoin, Some(oIntervalJoin)))

  /** Headline subset for BENCH (sf0.1). */
  val benchNames: Seq[String] = Seq(
    "t_point_in_poly", "t_cover_refine_join", "t_cells", "t_dwithin", "t_dwithin_join",
    "t_dwithin_join_sql", "g_flagship_join", "g_flagship_broadcast",
    "l_dedup_minhash", "l_dedup_simhash", "l_ann_top1", "l_ann_ivf", "l_ann_pq",
    "l_ann_ivfpq_bench", "l_text_tokens",
    "l_dup_spans", "l_dup_span_removal", "l_decontam_fuzzy", "l_decontam_bloom", "l_bpe_train",
    "l_dedup_incremental", "l_export_shards", "l_text_normalize",
    "b_tpch_q1", "b_tpch_q3", "b_tpch_q4", "b_tpch_q5", "b_tpch_q12", "b_events_sessions",
    "b_events_asof", "b_events_hourly", "b_events_json", "b_events_funnel",
    "b_interval_join", "b_knn", "b_top_order", "b_top_order_agg")
}
