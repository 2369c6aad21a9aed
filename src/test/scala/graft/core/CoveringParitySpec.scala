package graft.core

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the output of the region coverer (`s2_covering` and
  * `s2_covering_fixed_level`) with digests, and pins one GEOGRAPHY blob
  * whose inline covering was written by the greedy largest-first coverer
  * that preceded `RegionCoverer`: such blobs still decode and answer
  * predicates as their re-encoding does. */
class CoveringParitySpec extends AnyFunSuite {
  import CoveringFixtures._

  /** First 16 hex digits of the SHA-256 of every covering, in order. */
  private def digest(coverings: Iterator[Array[Long]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    coverings.foreach { ids =>
      ids.foreach { id => buf.clear(); buf.putLong(id); md.update(buf.array()) }
      md.update(Array[Byte](0x7f))
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private lazy val polys = ngons(1L, 300).map(_._3)

  /** Lines, multipoints and collections, mixed ones included. */
  private lazy val others = Seq(
    "LINESTRING (-10 -5, 20 30, 60 35, 100 10, 179 -20, -170 -25)",
    "MULTILINESTRING ((0 0, 1 1), (5 5, 6 7, 8 8))",
    "MULTIPOINT ((1 2), (50 60), (-120 -30))",
    (0 until 20).map(i => s"(${i * 7 - 60} ${i * 3 - 25})").mkString("MULTIPOINT (", ", ", ")"),
    "GEOMETRYCOLLECTION (POLYGON ((0 0, 40 0, 40 30, 0 30, 0 0)), " +
      "LINESTRING (10 10, 30 20, 50 -10), POINT (20 15), POINT (-60 -30))",
    "GEOMETRYCOLLECTION (POINT (0 1), LINESTRING (0 0, 1 1), " +
      "GEOMETRYCOLLECTION (POLYGON ((20 20, 21 20, 20 21, 20 20))))").map(Wkt.read(_))

  test("cover digests: countries, cities, seeded n-gons, lines and collections") {
    val got = Seq(
      digest(countries.iterator.map(c => RegionCoverer.cover(c._2))),
      digest(cities.iterator.map(c => RegionCoverer.cover(c._2))),
      digest(polys.iterator.map(RegionCoverer.cover(_))),
      digest(others.iterator.map(RegionCoverer.cover(_))))
    assert(got === Seq("6eef487e2ec6a072", "637119b39bb4107e", "343b26157d7a7d32", "f335ece54b068106"))
  }

  test("coverFixedLevel digests: countries at 5, seeded n-gons at 10, lines and collections at 6") {
    val got = Seq(
      digest(countries.iterator.map(c => RegionCoverer.coverFixedLevel(c._2, 5))),
      digest(polys.iterator.map(RegionCoverer.coverFixedLevel(_, 10))),
      digest(others.iterator.map(RegionCoverer.coverFixedLevel(_, 6))))
    assert(got === Seq("9c5744587b386eb9", "4bf8499892da685a", "967b3fa32f4ba6bd"))
  }

  /** POLYGON ((-20 30, -17.5 30.2, -17.8 32.5, -20.3 32, -20 30)) as the
    * greedy coverer encoded it: five cells (0/12030, 0/120310, 0/120313,
    * 0/12032, 0/12033) where RegionCoverer.cover gives eight. */
  private val oldBlobHex =
    "04000500000000000000640c000000000000690c0000000000006f0c000000000000740c00000000" +
    "00007c0c0100000001000000040000001b995e6fa10aea3f57734c03e9f4d2bfffffffffffffdf3f" +
    "ff051be17260ea3f032a46ec13a2d0bf9a668049bd18e03f5fd5a95a52b2e93fb886acd52280d0bf" +
    "5b1ac0f28e31e13f3d5e951db673e93ffe408a3b78d4d2bf2addac3e19f5e03f"
  private val oldBlobWkt = "POLYGON ((-20 29.999999999999993, -17.5 30.2, " +
    "-17.799999999999997 32.5, -20.3 32, -20 29.999999999999993))"

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("a blob carrying the greedy covering decodes and answers as its re-encoding") {
    val old = unhex(oldBlobHex)
    val g = GeoCodec.decode(old)
    assert(Wkt.write(g) === oldBlobWkt)
    val fresh = GeoCodec.encode(g)
    assert(GeoCodec.coveringOf(old).map(S2CellId.toDebugString).toSeq ===
      Seq("0/12030", "0/120310", "0/120313", "0/12032", "0/12033"))
    // inside; outside but within the old covering; far outside
    val probes = Seq((-19.0, 31.0) -> true, (-20.2, 30.1) -> false, (-10.0, 31.0) -> false)
    for (((lon, lat), want) <- probes; b <- Seq(old, fresh)) {
      val p = GeoCodec.encode(Geography.point(lon, lat))
      assert(graft.spark.S2Native.intersects(b, p) === want, s"($lon $lat)")
      assert(graft.spark.S2Native.intersects(p, b) === want, s"($lon $lat)")
    }
  }
}
