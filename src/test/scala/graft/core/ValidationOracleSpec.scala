package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** `Validation.findCrossingEdges`, which skips edge pairs whose caps are
  * apart, gives the full pair scan's message (`FullScanOracles`) on
  * crossing and valid rings, rings on the cell planes included. */
class ValidationOracleSpec extends AnyFunSuite {
  import CoveringFixtures._

  private def polygons(g: Geography): Geography.Polygons = g.asInstanceOf[Geography.Polygons]

  private def assertSame(inputs: Seq[(String, Geography.Polygons)]): Unit = {
    val crossing = inputs.count(p => FullScanOracles.findCrossingEdges(p._2).isDefined)
    info(s"${inputs.size} polygons, $crossing with crossing edges")
    for ((name, p) <- inputs)
      assert(Validation.findCrossingEdges(p) === FullScanOracles.findCrossingEdges(p), name)
  }

  /** Seeded n-gons with two vertices swapped: bow-ties. */
  private lazy val bowties: Seq[(String, Geography.Polygons)] = {
    val r = new java.util.SplittableRandom(7)
    ngons(3L, 300).map { case (lon, lat, g) =>
      val ring = polygons(g).ringGroups.head.head
      val i = r.nextInt(ring.size)
      val j = (i + 1 + r.nextInt(ring.size - 1)) % ring.size
      val swapped = ring.updated(i, ring(j)).updated(j, ring(i))
      f"n-gon at ($lon%.3f $lat%.3f), $i<->$j" -> Geography.Polygons(Vector(Vector(swapped)))
    }
  }

  test("seeded bow-ties and n-gons give the full scan's message") {
    assertSame(bowties ++ ngons(3L, 300).map(t => "n-gon" -> polygons(t._3)))
  }

  test("holes crossing shells and rings on the equator and meridians give the full scan's message") {
    assertSame(Seq(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (5 5, 15 5, 15 6, 5 6, 5 5))",
      "POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20), (25 25, 26 25, 26 35, 25 35, 25 25))",
      "POLYGON ((0 0, 10 0, 0 10, 10 10, 0 0))",
      "POLYGON ((-10 0, 10 0, 10 5, 0 -5, -10 5, -10 0))",
      "POLYGON ((0 0, 20 0, 20 10, 10 0, 10 -10, 0 0))",
      "POLYGON ((0 0, 10 0, 5 0, 5 5, 0 0))",
      "POLYGON ((0 -10, 0 10, 5 10, 5 -10, -5 0, 0 -10))",
      "POLYGON ((90 -10, 90 10, 95 10, 85 -10, 90 -10))",
      "POLYGON ((170 -10, 180 10, -170 10, 180 -10, 170 -10))",
      "POLYGON ((0 0, 30 0, 30 30, 0 30, 0 0), (40 0, 50 0, 50 10, 40 10, 40 0))",
      "POLYGON ((0 80, 120 80, -120 80, 0 80), (0 85, 120 85, -120 85, 0 85))",
      "POLYGON ((45 0, 50 0, 45 5, 50 5, 45 0))",
      // disjoint edges on one great circle: the equator, meridian 0, a hole pair
      "POLYGON ((0 0, 1 0, 1 1, 3 1, 3 0, 4 0, 4 -2, 0 -2, 0 0))",
      "POLYGON ((0 0, 0 1, 1 1, 1 3, 0 3, 0 4, -2 4, -2 0, 0 0))",
      "POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10), (-5 0, -2 0, -2 5, -5 5, -5 0), " +
        "(2 0, 5 0, 5 5, 2 5, 2 0))"
    ).map(w => w -> polygons(Wkt.read(w, validate = false))))
  }

  test("countries give the full scan's message") {
    assertSame(countries.collect { case (name, p: Geography.Polygons) => name -> p })
  }
}
