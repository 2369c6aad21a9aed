package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GeoCodec, Geography, S2CellId}

/** The cell<->geography cast functions (SURVEY §1.4 cast graph) and the
  * other natively implemented `s2_*` names: this pins (a) that the native
  * casts produce the core encodings, (b) the reference's error texts, and
  * (c) that no native name plans a ScalaUDF, on the SQL surface or through
  * the DataFrame helpers — each name has exactly one implementation. */
class CellCastExprSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", false)
      .appName("graft-cell-casts").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    S2Functions.register(spark)
    S2Data.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def one(sql: String): Any = spark.sql(sql).collect()(0).get(0)

  private def cellPolygon(cell: Long): Array[Byte] =
    GeoCodec.encode(Geography.Polygons(Vector(Vector(S2CellId.vertices(cell).toVector))))

  test("native casts produce the core encodings on round-trip values") {
    val cell = one("SELECT s2_cellfromlonlat(-64.0, 45.0)").asInstanceOf[Long]
    // cellcenter -> geog -> cellcenter round-trips exactly
    assert(one(s"SELECT s2_geog_to_cellcenter(s2_cellcenter_to_geog(${cell}L))") === cell)
    // native output bytes identical to the core encoding of the cell
    val nat = one(s"SELECT s2_cellcenter_to_geog(${cell}L)").asInstanceOf[Array[Byte]]
    assert(java.util.Arrays.equals(nat, GeoCodec.encode(Geography.CellCenter(cell))))
    val natPoly = one(s"SELECT s2_cell_to_geog(${cell}L)").asInstanceOf[Array[Byte]]
    assert(java.util.Arrays.equals(natPoly, cellPolygon(cell)))
    // a plain point geography snaps to its containing leaf cell
    val leaf = one("SELECT s2_geog_to_cellcenter(s2_geogpoint(12.5, 51.3))").asInstanceOf[Long]
    assert(graft.core.S2CellId.isValid(leaf) && graft.core.S2CellId.level(leaf) === 30)
    // empty geography -> sentinel
    assert(one("SELECT s2_geog_to_cellcenter(s2_geogfromtext('POINT EMPTY'))")
      === graft.core.S2CellId.Sentinel)
  }

  test("cellunion casts: validation, normalization, geography output") {
    val parent = one("SELECT s2_cell_parent(s2_cellfromlonlat(-64.0, 45.0), 10)")
      .asInstanceOf[Long]
    // union of all 4 children normalizes back to the parent
    val norm = one(
      s"""SELECT s2_cellunion_normalize(array(
         |  s2_cell_child(${parent}L, 0), s2_cell_child(${parent}L, 1),
         |  s2_cell_child(${parent}L, 2), s2_cell_child(${parent}L, 3)))""".stripMargin)
      .asInstanceOf[scala.collection.Seq[Long]]
    assert(norm.toSeq === Seq(parent))
    val fromList = one(s"SELECT s2_cellunion_from_list(array(${parent}L))")
      .asInstanceOf[scala.collection.Seq[Long]]
    assert(fromList.toSeq === Seq(parent))
    val geog = one(s"SELECT s2_cellunion_to_geog(array(${parent}L))").asInstanceOf[Array[Byte]]
    assert(java.util.Arrays.equals(geog, cellPolygon(parent)))
    // nulls propagate
    assert(one("SELECT s2_cellunion_to_geog(CAST(NULL AS ARRAY<BIGINT>))") === null)
    assert(one("SELECT s2_geog_to_cellcenter(CAST(NULL AS BINARY))") === null)
  }

  test("reference error texts survive the promotion") {
    val e1 = intercept[Exception] {
      spark.sql("SELECT s2_geog_to_cellcenter(s2_geogfromtext('LINESTRING (0 0, 1 1)'))")
        .collect()
    }
    assert(e1.getMessage.contains(
      "Can't convert geography that is not empty nor a single point to S2_CELL_CENTER"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT s2_cellunion_from_list(array(CAST(0 AS BIGINT)))").collect()
    }
    assert(e2.getMessage.contains("Cell not valid <Invalid: 0000000000000000>"))
  }

  private def assertNoUdf(plans: Seq[(String, String)]): Unit =
    for ((q, plan) <- plans) assert(!plan.contains("UDF"), s"ScalaUDF leaked into: $q\n$plan")

  private def analyzed(sqls: Seq[String]): Seq[(String, String)] =
    sqls.map(q => q -> spark.sql(q).queryExecution.analyzed.toString)

  test("no cast query plans a ScalaUDF on the SQL surface") {
    assertNoUdf(analyzed(Seq(
      "SELECT s2_cellcenter_to_geog(c) FROM (SELECT s2_cellfromlonlat(-64.0, 45.0) AS c)",
      "SELECT s2_cell_to_geog(c) FROM (SELECT s2_cellfromlonlat(-64.0, 45.0) AS c)",
      "SELECT s2_geog_to_cellcenter(g) FROM (SELECT s2_geogpoint(1.0, 2.0) AS g)",
      "SELECT s2_cellunion_to_geog(u) FROM (SELECT array(s2_cellfromlonlat(1.0, 2.0)) AS u)",
      "SELECT s2_cellunion_normalize(u) FROM (SELECT array(s2_cellfromlonlat(1.0, 2.0)) AS u)",
      "SELECT s2_cellunion_from_list(u) FROM (SELECT array(s2_cellfromlonlat(1.0, 2.0)) AS u)")))
  }

  test("no natively implemented s2_* name plans a ScalaUDF, in SQL or in S2Join.clusterByCell") {
    val from = "FROM (SELECT s2_geogpoint(1.0, 2.0) AS a, s2_geogpoint(1.5, 2.5) AS b)"
    val cell = "s2_cellfromlonlat(1.0, 2.0)"
    val sqls = Seq("s2_intersects(a, b)", "s2_contains(a, b)", "s2_dwithin(a, b, 1000.0)",
      "s2_equals(a, b)", "s2_mayintersect(a, b)", "s2_distance(a, b)",
      "s2_max_distance(a, b)", "s2_area(a)", "s2_perimeter(a)", "s2_length(a)",
      "s2_x(a)", "s2_y(a)", "s2_dimension(a)", "s2_num_points(a)", "s2_isempty(a)",
      "s2_is_valid(a)", "s2_astext(a)", "s2_format(a, 3)", "s2_covering_fixed_level(a, 5)",
      s"s2_cell_level($cell)", s"s2_cell_token($cell)", s"s2_cell_contains($cell, $cell)",
      s"s2_cell_range_min($cell)", s"s2_cell_range_max($cell)",
      s"s2_cell_sortkey(s2_cell_parent($cell, 10))").map(e => s"SELECT $e $from")
    assertNoUdf(analyzed(sqls) :+
      ("S2Join.clusterByCell" -> S2Join.clusterByCell(spark.sql(s"SELECT a $from"), "a", 10)
        .queryExecution.analyzed.toString))
  }
}
