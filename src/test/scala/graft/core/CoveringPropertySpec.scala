package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Properties of the region coverer on seeded n-gons, the bundled
  * countries, a polyline and a mixed collection: every vertex and seeded
  * interior point lies in a cell of the default covering and of fixed-level
  * coverings; the default covering has at most 8 cells and is normalized;
  * the covering written inline in an encoded blob is the default covering. */
class CoveringPropertySpec extends AnyFunSuite {
  import CoveringFixtures._

  private def covered(cells: Array[Long], p: S2Point): Boolean = {
    val leaf = S2CellId.fromPoint(p.x, p.y, p.z)
    cells.exists(S2CellId.contains(_, leaf))
  }

  private def vertices(g: Geography): Seq[S2Point] = {
    val b = Seq.newBuilder[S2Point]
    g.foreachVertex(b += _)
    b.result()
  }

  /** Up to `n` seeded points of `g`'s polygons, drawn in its bounding box. */
  private def interiorPoints(g: Geography, n: Int, rng: scala.util.Random): Seq[S2Point] = {
    val shapes = new GeoShapes(g)
    val r = LatLngRect.bound(g)
    val width = if (r.lngInverted) r.xmaxDeg - r.xminDeg + 360 else r.xmaxDeg - r.xminDeg
    Iterator.continually {
      val lon = r.xminDeg + rng.nextDouble() * width
      S2Point.fromLatLngDegrees(r.yminDeg + rng.nextDouble() * (r.ymaxDeg - r.yminDeg),
        if (lon > 180) lon - 360 else lon)
    }.take(200).filter(shapes.polygonContains).take(n).toSeq
  }

  /** (name, geography, points that must be covered). */
  private lazy val cases: Seq[(String, Geography, Seq[S2Point])] = {
    val rng = new scala.util.Random(20261017L)
    val gons = ngons(7L, 120).zipWithIndex.map { case ((lon, lat, g), i) =>
      (s"n-gon $i", g, vertices(g) ++ (S2Point.fromLatLngDegrees(lat, lon) +: interiorPoints(g, 8, rng)))
    }
    val ctry = countries.map { case (name, g) => (name, g, vertices(g) ++ interiorPoints(g, 5, rng)) }
    val line = Wkt.read("LINESTRING (-10 -5, 20 30, 60 35, 100 10, 179 -20, -170 -25)")
    val lineVs = vertices(line)
    val mids = lineVs.zip(lineVs.tail).map { case (a, b) => (a + b).normalize }
    val mixed = Wkt.read("GEOMETRYCOLLECTION (POLYGON ((0 0, 40 0, 40 30, 0 30, 0 0)), " +
      "LINESTRING (10 10, 30 20, 50 -10), POINT (20 15), POINT (-60 -30))")
    gons ++ ctry ++ Seq(("polyline", line, lineVs ++ mids),
      ("mixed collection", mixed, vertices(mixed) ++ interiorPoints(mixed, 10, rng)))
  }

  test("the default covering holds every vertex and interior point, in at most 8 normalized cells") {
    for ((name, g, pts) <- cases) {
      val cov = RegionCoverer.cover(g)
      assert(cov.nonEmpty && cov.length <= RegionCoverer.DefaultMaxCells, s"$name: ${cov.length} cells")
      assert(Covering.normalize(cov).sameElements(cov), s"$name: covering is not normalized")
      pts.foreach(p => assert(covered(cov, p), s"$name: covering misses $p"))
    }
  }

  test("fixed-level coverings hold every vertex and interior point") {
    for ((name, g, pts) <- cases; level <- if (name.startsWith("n-gon")) Seq(3, 7, 10) else Seq(2, 5)) {
      val cov = RegionCoverer.coverFixedLevel(g, level)
      assert(cov.forall(S2CellId.level(_) == level), s"$name at $level: mixed levels")
      assert(cov.map(S2CellId.sortKey).sameElements(cov.map(S2CellId.sortKey).sorted),
        s"$name at $level: cells out of order")
      pts.foreach(p => assert(covered(cov, p), s"$name at level $level misses $p"))
    }
  }

  test("the covering written inline in a blob is the default covering") {
    val more = cities.map(_._2) ++ Seq("MULTIPOINT ((1 2), (50 60), (-120 -30))", "POINT EMPTY",
      "GEOMETRYCOLLECTION EMPTY").map(Wkt.read(_)) :+
      Geography.CellCenter(S2CellId.fromLonLatDegrees(-64, 45))
    for (g <- cases.map(_._2) ++ more) {
      val inline = GeoCodec.coveringOf(GeoCodec.encode(g))
      assert(inline.sameElements(RegionCoverer.cover(g)), Wkt.write(g).take(80))
    }
  }
}
