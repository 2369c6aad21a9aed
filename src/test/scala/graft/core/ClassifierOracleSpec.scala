package graft.core

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** The bounded cell classifier of `RegionCoverer` answers as the full scan
  * (`FullScanClassifier`) on every cell of a face-down recursion, and the
  * coverings it drives equal the full-scan-driven ones. The degenerate
  * fixtures put vertices and edges on the planes that carry cell edges,
  * where `S2Pred.sign` meets exact zeros. */
class ClassifierOracleSpec extends AnyFunSuite {
  import CoveringFixtures._
  import RegionCoverer.Partial

  private def ll(lon: Double, lat: Double) = S2Point.fromLatLngDegrees(lat, lon)

  /** A ring at one latitude, eastward (the cap north of it is the interior)
    * or westward. */
  private def parallel(lat: Double, lons: Seq[Double], eastward: Boolean): Vector[S2Point] = {
    val r = lons.map(ll(_, lat)).toVector
    if (eastward) r else r.reverse
  }

  private val cellLons = Seq(15.0, 75.0, 135.0, -165.0, -105.0, -45.0)

  /** Two boxes sharing an edge on the equator, mirrored across it: the
    * vertex sum cancels to z == 0 exactly, so `capOf`'s centre lies on the
    * shared edge and on its great circle. */
  private val centreOnEdge = "MULTIPOLYGON (((0 0, 5 0, 5 5, 0 5, 0 0)), ((0 0, 0 -5, 5 -5, 5 0, 0 0)))"

  private def cellPolygon(id: Long) = Geography.Polygons(Vector(Vector(S2CellId.vertices(id).toVector)))

  /** Vertices and edges on the cell planes, caps around the poles, regions
    * larger than a hemisphere, and cell-boundary rings. */
  private lazy val degenerate: Seq[(String, Geography)] = Seq(
    "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
    "POLYGON ((0 0, 0 -2, 2 -2, 2 0, 0 0))",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
    "POLYGON ((-5 -5, 5 -5, 5 5, -5 5, -5 -5))",
    "POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10), (-5 0, 5 0, 5 5, -5 5, -5 0))",
    "MULTIPOLYGON (((0 0, 5 0, 5 5, 0 5, 0 0)), ((5 0, 10 0, 10 5, 5 5, 5 0)))",
    "POLYGON ((170 -10, -170 -10, -170 10, 170 10, 170 -10))",
    "POLYGON ((0 0, 120 0, -120 0, 0 0))",
    "POLYGON ((0 10, 90 10, 90 40, 0 40, 0 10))",
    "POLYGON ((45 0, 50 0, 50 5, 45 5, 45 0))",
    "LINESTRING (0 0, 0 45)",
    "LINESTRING (0 0, 90 0, 179 0)",
    "MULTIPOINT ((0 0), (180 0))",
    "GEOMETRYCOLLECTION (POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0)), " +
      "LINESTRING (-5 0, 20 0), POINT (0 -3), MULTIPOINT ((90 0), (0 90)))",
    centreOnEdge
  ).map(w => w -> Wkt.read(w)) ++ Seq(
    "north pole cap" -> Geography.Polygons(Vector(Vector(parallel(80, cellLons, eastward = true)))),
    "north pole cap, reversed" -> Geography.Polygons(Vector(Vector(parallel(80, cellLons, eastward = false)))),
    "south pole cap" -> Geography.Polygons(Vector(Vector(parallel(-80, cellLons, eastward = false)))),
    "band 60S to 60N" -> Geography.Polygons(Vector(Vector(
      parallel(60, cellLons, eastward = false), parallel(-60, cellLons, eastward = false)))),
    "band 60S to 60N, meridian 0" -> Geography.Polygons(Vector(Vector(
      parallel(60, cellLons.map(_ - 15), eastward = false),
      parallel(-60, cellLons.map(_ - 15), eastward = false)))),
    "level-3 cell" -> cellPolygon(S2CellId.parent(S2CellId.fromPoint(ll(10, 20).x, ll(10, 20).y, ll(10, 20).z), 3)),
    "level-5 cell" -> cellPolygon(S2CellId.parent(S2CellId.fromPoint(ll(-70, -30).x, ll(-70, -30).y, ll(-70, -30).z), 5)),
    "face cell" -> cellPolygon(Covering.faceCell(2)))

  /** `CoveringParitySpec`'s lines, multipoints and collections. */
  private lazy val others: Seq[(String, Geography)] = Seq(
    "LINESTRING (-10 -5, 20 30, 60 35, 100 10, 179 -20, -170 -25)",
    "MULTILINESTRING ((0 0, 1 1), (5 5, 6 7, 8 8))",
    "MULTIPOINT ((1 2), (50 60), (-120 -30))",
    (0 until 20).map(i => s"(${i * 7 - 60} ${i * 3 - 25})").mkString("MULTIPOINT (", ", ", ")"),
    "GEOMETRYCOLLECTION (POLYGON ((0 0, 40 0, 40 30, 0 30, 0 0)), " +
      "LINESTRING (10 10, 30 20, 50 -10), POINT (20 15), POINT (-60 -30))",
    "GEOMETRYCOLLECTION (POINT (0 1), LINESTRING (0 0, 1 1), " +
      "GEOMETRYCOLLECTION (POLYGON ((20 20, 21 20, 20 21, 20 20))))").map(w => w -> Wkt.read(w))

  private lazy val polys: Seq[(String, Geography)] =
    ngons(1L, 300).map { case (lon, lat, g) => f"n-gon at ($lon%.3f $lat%.3f)" -> g }

  /** Classifies every cell of a face-down recursion that expands the
    * oracle's Partial cells to `maxLevel`, with both classifiers; returns
    * the number of cells and the differing ones. */
  private def compare(g: Geography, maxLevel: Int): (Int, Seq[String]) = {
    val shapes = new GeoShapes(g)
    val (center, radius) = RegionCoverer.capOf(shapes)
    val bounded = RegionCoverer.bounded(shapes, center, radius)
    val oracle = new FullScanClassifier(shapes)
    var n = 0
    val diffs = mutable.ArrayBuffer[String]()
    def go(cell: Long): Unit = {
      val want = oracle.classify(cell)
      val got = bounded(cell)
      n += 1
      if (got != want) diffs += s"${S2CellId.toDebugString(cell)}: $got, full scan $want"
      if (want == Partial && S2CellId.level(cell) < maxLevel) {
        var k = 0
        while (k < 4) { go(S2CellId.child(cell, k)); k += 1 }
      }
    }
    (0 until 6).foreach(f => go(Covering.faceCell(f)))
    (n, diffs.toSeq)
  }

  private def compareAll(inputs: Seq[(String, Geography)], maxLevel: Int): Unit = {
    var cells = 0
    val bad = inputs.flatMap { case (name, g) =>
      val (n, diffs) = compare(g, maxLevel)
      cells += n
      diffs.take(3).map(d => s"$name $d")
    }
    info(s"${inputs.size} geographies, $cells cells compared to level $maxLevel")
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
  }

  test("per-cell classification equals the full scan: seeded n-gons to level 10") {
    compareAll(polys, 10)
  }

  test("per-cell classification equals the full scan: countries to level 6") {
    compareAll(countries, 6)
  }

  test("per-cell classification equals the full scan: cities, lines and collections to level 8") {
    compareAll(cities ++ others, 8)
  }

  test("a degenerate fixture's capOf centre lies on a ring edge's great circle") {
    val shapes = new GeoShapes(Wkt.read(centreOnEdge))
    val (center, _) = RegionCoverer.capOf(shapes)
    val onCircle = shapes.loops.flatten.exists { l =>
      val v = l.vertices
      v.indices.exists(i => S2Pred.collinearExact(v(i), v((i + 1) % v.length), center))
    }
    assert(onCircle, center)
  }

  test("per-cell classification equals the full scan: degenerate fixtures to level 8") {
    compareAll(degenerate, 8)
  }

  test("cover and coverFixedLevel at 4, 6 and 8 equal their full-scan forms") {
    val all = polys ++ cities ++ others ++ degenerate
    for ((name, g) <- all ++ countries) {
      assert(RegionCoverer.cover(g).toSeq ===
        RegionCoverer.cover(g, RegionCoverer.DefaultMaxCells, FullScanOracles.classify).toSeq, name)
    }
    for ((name, g) <- all; level <- Seq(4, 6, 8)) {
      assert(RegionCoverer.coverFixedLevel(g, level).toSeq ===
        RegionCoverer.coverFixedLevel(g, level, FullScanOracles.classify).toSeq, s"$name at $level")
    }
    for ((name, g) <- countries; level <- Seq(4, 6)) {
      assert(RegionCoverer.coverFixedLevel(g, level).toSeq ===
        RegionCoverer.coverFixedLevel(g, level, FullScanOracles.classify).toSeq, s"$name at $level")
    }
  }
}
