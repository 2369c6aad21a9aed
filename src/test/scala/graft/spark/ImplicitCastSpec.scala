package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** r15 implicit cast graph (reference src/s2_cell_ops.cpp:1034-1051 +
  * README.md:131-134: CELL -> GEOGRAPHY and CELL_UNION -> GEOGRAPHY are
  * implicit casts, "all types listed above are implicitly castable to
  * GEOGRAPHY such that you can use them with any function that accepts a
  * GEOGRAPHY"): a BIGINT cell / ARRAY<BIGINT> union argument in any
  * geography slot of the native SQL surface auto-converts. Goldens mirror
  * test/sql/geography/cell_ops.test's cast cases. */
class ImplicitCastSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", false)
      .appName("graft-implicit-cast-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    S2Functions.register(spark)
    S2Boxes.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def one(sql: String): Any = spark.sql(sql).head().get(0)

  test("cell binds directly into geography slots (cell_ops.test:58 golden)") {
    // reference: SELECT ('2/0'::S2_CELL::S2_CELL_UNION::GEOGRAPHY).s2_format(6)
    val viaUnion =
      one("SELECT s2_format(s2_cellunion_from_list(array(s2_cell_from_debug('2/0'))), 6)")
    assert(viaUnion === "POLYGON ((45 35.26439, 90 45, 0 90, 0 45, 45 35.26439))")
    // the same through the direct CELL -> GEOGRAPHY implicit cast
    val direct = one("SELECT s2_format(s2_cell_from_debug('2/0'), 6)")
    assert(direct === "POLYGON ((45 35.26439, 90 45, 0 90, 0 45, 45 35.26439))")
  }

  test("s2_area(cell) resolves and equals the explicit cast route") {
    // a level-1 face-quarter cell: macroscopic area (a leaf cell's ~cm^2
    // polygon would round to 0 in double m^2)
    val explicit = one("SELECT s2_area(s2_cell_to_geog(s2_cell_from_debug('2/0')))")
    val implicitArea = one("SELECT s2_area(s2_cell_from_debug('2/0'))")
    assert(implicitArea === explicit)
    assert(implicitArea.asInstanceOf[Double] > 0.0)
  }

  test("predicates and accessors accept cells in geography slots") {
    assert(one("SELECT s2_intersects(s2_cellfromlonlat(-64.0, 45.0), " +
      "s2_geogfromtext('POINT (-64 45)'))") === true)
    assert(one("SELECT s2_dimension(s2_cellfromlonlat(-64.0, 45.0))") === 2)
    val txt = one("SELECT s2_astext(s2_cell_from_debug('2/0'))").toString
    assert(txt.startsWith("POLYGON"))
  }

  test("an invalid cell id behaves exactly like the explicit cast route") {
    def outcome(sql: String): Either[String, Any] =
      try Right(one(sql))
      catch { case e: Exception => Left(Option(e.getMessage).getOrElse("").take(80)) }
    val explicit = outcome("SELECT s2_astext(s2_cell_to_geog(CAST(-1 AS BIGINT)))")
    val implicitC = outcome("SELECT s2_astext(CAST(-1 AS BIGINT))")
    assert(implicitC === explicit,
      "the implicit CELL -> GEOGRAPHY conversion must match the explicit function on invalid ids")
  }

  /** A query's value (byte and cell arrays as sequences) or its error's
    * message. */
  private def outcome(sql: String): Either[String, Any] =
    try Right(one(sql) match {
      case b: Array[Byte] => b.toSeq
      case a: scala.collection.Seq[_] => a.toSeq
      case v => v
    })
    catch { case e: Exception => Left(Option(e.getMessage).getOrElse("").take(80)) }

  test("every geography slot takes a cell like the explicit cast route") {
    val cell = "s2_cellfromlonlat(-64.0, 45.0)"
    val parent = s"s2_cell_parent($cell, 12)"
    val area = "s2_geogfromtext('POLYGON ((-64.5 44.5, -63.5 44.5, -63.5 45.5, -64.5 45.5, -64.5 44.5))')"
    val calls = Seq(
      "s2_aswkb(%s)", "s2_prepare(%s)", "s2_covering(%s)", "s2_is_valid_reason(%s)",
      s"s2_intersection(%s, $area)", s"s2_difference($area, %s)", s"s2_union(%s, $area)",
      "s2_geog_to_cellcenter(%s)", "s2_bounds_box(%s)")
    for (c <- calls; id <- Seq(cell, parent)) {
      val explicit = outcome("SELECT " + c.format(s"s2_cell_to_geog($id)"))
      val implicitC = outcome("SELECT " + c.format(id))
      assert(implicitC === explicit, c.format(id))
    }
    // a value, not only an error, crosses the implicit route
    assert(outcome("SELECT s2_aswkb(" + parent + ")").isRight)
    // two cells into the two slots of an overlay
    assert(outcome(s"SELECT s2_union($cell, $parent)") ===
      outcome(s"SELECT s2_union(s2_cell_to_geog($cell), s2_cell_to_geog($parent))"))
  }

  test("the WKB slots stay plain BINARY: a cell there is not a geography") {
    for (name <- Seq("s2_geogfromwkb", "s2_geogfromwkb_novalidate", "s2_cellfromwkb",
        "s2_arbitrarycellfromwkb")) {
      val plan =
        try spark.sql(s"SELECT $name(s2_cellfromlonlat(-64.0, 45.0))").queryExecution.analyzed
          .toString
        catch { case _: org.apache.spark.sql.AnalysisException => "" }
      assert(!plan.contains("s2_cell_to_geog"), s"$name took a cell as a geography:\n$plan")
    }
  }
}
