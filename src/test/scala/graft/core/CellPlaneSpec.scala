package graft.core

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Geographies with vertices on the planes that carry cell edges: the
  * equator and meridian 0 exactly, meridians ±45, ±90, ±135 and 180 to
  * within rounding. There `S2Pred.sign` meets exact zeros and resolves
  * them by symbolic perturbation; coverings and validation must still hold
  * against routes that use neither `RegionCoverer`'s classifier nor
  * degenerate coordinates. */
class CellPlaneSpec extends AnyFunSuite {

  private val twoHoles = "POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10), " +
    "(-5 0, -2 0, -2 5, -5 5, -5 0), (2 0, 5 0, 5 5, 2 5, 2 0))"
  private val square = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"

  /** The cell as a polygon whose vertices move away from (t > 0) or toward
    * (t < 0) its centre by t times their offset: no vertex stays on a cell
    * plane, so `Relate` answers it without exact zeros. */
  private def cellPolygon(id: Long, t: Double): GeoShapes = {
    val c = S2CellId.toPoint(id)
    new GeoShapes(Geography.Polygons(Vector(Vector(
      S2CellId.vertices(id).toVector.map(v => (v + (v - c) * t).normalize)))))
  }

  private def grownMeets(id: Long, g: GeoShapes) = Relate.intersects(cellPolygon(id, 1e-6), g)
  private def shrunkMeets(id: Long, g: GeoShapes) = Relate.intersects(cellPolygon(id, -1e-6), g)

  test("two holes with disjoint edges on the equator are valid, through Wkt.read and SQL") {
    assert(Validation.findError(Wkt.read(twoHoles)) === None)
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", false).getOrCreate()
    try {
      graft.spark.S2Functions.register(spark)
      val row = spark.sql(s"SELECT s2_is_valid(s2_geogfromtext('$twoHoles')), " +
        s"size(s2_covering_fixed_level(s2_geogfromtext('$square'), 6))").head()
      assert(row.getBoolean(0))
      assert(row.getInt(1) === 9)
    } finally spark.stop()
  }

  test("the level-6 covering of a square on the equator and meridian 0 holds only cells that meet it") {
    val g = Wkt.read(square)
    val shapes = new GeoShapes(g)
    val cells = RegionCoverer.coverFixedLevel(g, 6)
    assert(cells.length === 9)
    cells.foreach(id => assert(grownMeets(id, shapes), S2CellId.toDebugString(id)))
    val centres = cells.map { id =>
      val c = S2CellId.toPoint(id); (Math.round(c.lngDegrees * 100), Math.round(c.latDegrees * 100))
    }.toSet
    for (phantom <- Seq((-60L, -183L), (-183L, -60L), (-183L, 60L), (60L, -183L)))
      assert(!centres.contains(phantom), phantom)
  }

  private val planes = Seq(0, 45, -45, 90, -90, 135, -135, 180)

  private def lon(x: Int): Int = if (x > 180) x - 360 else if (x <= -180) x + 360 else x

  private def wkt(rings: Seq[Seq[(Int, Int)]]): String =
    rings.map(r => (r :+ r.head).map { case (x, y) => s"${lon(x)} $y" }.mkString("(", ", ", ")"))
      .mkString("POLYGON (", ", ", ")")

  /** Swapping the last two vertices of a ring whose last three vertices and
    * first one bound a box turns that box's sides into crossing diagonals. */
  private def bowtie(r: Seq[(Int, Int)]): Seq[(Int, Int)] =
    r.updated(r.size - 2, r.last).updated(r.size - 1, r(r.size - 2))

  /** Per plane: boxes with a side on it (some also on the equator); rings
    * with two disjoint edges on it; a box with two holes whose sides lie on
    * it. Each comes as (valid rings, the same with a bow-tie). */
  private lazy val shapes: Seq[(Seq[Seq[(Int, Int)]], Seq[Seq[(Int, Int)]])] = {
    val r = new java.util.SplittableRandom(11)
    def in(lo: Int, hi: Int) = lo + r.nextInt(hi - lo + 1)
    planes.flatMap { m =>
      val boxes = (0 until 4).map { q =>
        val w = in(1, 6); val h = in(1, 6)
        val (x0, x1) = if ((q & 1) == 0) (m, m + w) else (m - w, m)
        val (y0, y1) = q match { case 0 => (0, h); case 1 => (-h, 0); case _ => val y = in(-30, 30); (y, y + h) }
        Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1))
      }
      val a0 = in(-6, -3); val a1 = a0 + in(1, 2); val a2 = a1 + in(1, 3); val a3 = a2 + in(1, 3)
      val (h, d) = (in(1, 5), in(1, 5))
      val equatorSteps = Seq((m + a0, 0), (m + a1, 0), (m + a1, h), (m + a2, h), (m + a2, 0), (m + a3, 0),
        (m + a3, -d), (m + a0, -d))
      val meridianSteps = Seq((m, a0), (m, a1), (m + h, a1), (m + h, a2), (m, a2), (m, a3),
        (m - d, a3), (m - d, a0))
      val shell = Seq((m - 8, -8), (m + 8, -8), (m + 8, 8), (m - 8, 8))
      val (b0, b1) = (in(-7, -4), in(-3, -1)); val (c0, c1) = (in(1, 3), in(4, 7))
      val (e0, e1, e2, e3) = (in(1, 6), -in(1, 6), in(1, 6), -in(1, 6))
      val equatorHoles = Seq(Seq((m + b0, 0), (m + b1, 0), (m + b1, e0), (m + b0, e0)),
        Seq((m + c0, 0), (m + c1, 0), (m + c1, e1), (m + c0, e1)))
      val meridianHoles = Seq(Seq((m, b0), (m + e2, b0), (m + e2, b1), (m, b1)),
        Seq((m, c0), (m + e3, c0), (m + e3, c1), (m, c1)))
      (boxes ++ Seq(equatorSteps, meridianSteps)).map(ring => Seq(ring) -> Seq(bowtie(ring))) ++
        Seq(shell +: equatorHoles, shell +: meridianHoles).map(rs => rs -> rs.updated(1, bowtie(rs(1))))
    }
  }

  test("seeded cell-plane rings are valid and their bow-ties are not, as the full pair scan finds") {
    for ((valid, crossed) <- shapes) {
      val ok = wkt(valid); val bad = wkt(crossed)
      assert(Validation.findError(Wkt.read(ok)) === None, ok)
      val err = Validation.findError(Wkt.read(bad, validate = false))
      assert(err.exists(_.contains("crosses")), bad)
      for (w <- Seq(ok, bad)) {
        val p = Wkt.read(w, validate = false).asInstanceOf[Geography.Polygons]
        assert(Validation.findCrossingEdges(p) === FullScanOracles.findCrossingEdges(p), w)
      }
    }
  }

  test("seeded cell-plane coverings at 4, 6 and 8 hold the cells that meet the shape and none apart from it") {
    var cells = 0; var touchKept = 0; var touchDropped = 0
    for ((valid, _) <- shapes; level <- Seq(4, 6, 8)) {
      val w = wkt(valid)
      val g = Wkt.read(w)
      val s = new GeoShapes(g)
      val got = RegionCoverer.coverFixedLevel(g, level)
      assert(got.toSeq === RegionCoverer.coverFixedLevel(g, level, FullScanOracles.classify).toSeq, s"$w at $level")
      val kept = got.toSet
      for (id <- kept ++ got.flatMap(S2CellId.allNeighbors)) {
        cells += 1
        val grown = grownMeets(id, s)
        val shrunk = shrunkMeets(id, s)
        val name = s"${S2CellId.toDebugString(id)} of $w"
        if (kept(id)) assert(grown, s"$name is apart from the shape")
        else assert(!shrunk, s"$name meets the shape but is not in its covering")
        if (grown && !shrunk) { if (kept(id)) touchKept += 1 else touchDropped += 1 }
      }
    }
    // A cell that meets the shape only on its boundary (an arc or a point
    // shared by both boundaries) is kept when the perturbed crossing test
    // reports the shared boundary as a crossing, and dropped otherwise.
    info(s"${shapes.size} shapes, $cells cells: $touchKept touching cells kept, $touchDropped dropped")
  }
}
