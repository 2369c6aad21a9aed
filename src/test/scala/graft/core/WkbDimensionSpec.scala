package graft.core

import org.scalatest.funsuite.AnyFunSuite

import WkbBytes._

/** Z, M and ZM WKB (ISO type offsets 1000/2000/3000 and the EWKB
  * 0x80000000/0x40000000 flags) decodes to its 2-D geography: the extra
  * ordinates are read and dropped. Goldens are hand-computed 2-D WKT. */
class WkbDimensionSpec extends AnyFunSuite {
  // both sides take the same lat/lng -> unit-vector path, so goldens
  // compare exactly (the text of a decoded vertex may differ in its last ulp)
  private def text(bytes: Array[Byte]): String = Wkt.write(Wkb.read(bytes))
  private def text(wkt: String): String = Wkt.write(Wkt.read(wkt))

  test("ISO LINESTRING Z (1002) keeps lng/lat and drops z") {
    val bytes = le(t(1002), 3, c(0, 0, 100), c(1, 1, 200), c(2, 2, 300))
    assert(text(bytes) === text("LINESTRING (0 0, 1 1, 2 2)"))
  }

  test("ISO POINT M (2001) and POINT ZM (3001)") {
    assert(text(le(t(2001), c(10, 20, 5))) === text("POINT (10 20)"))
    assert(text(le(t(3001), c(-70.5, 45.25, 7, 8))) === text("POINT (-70.5 45.25)"))
  }

  test("ISO POLYGON ZM (3003) matches its 2-D ring") {
    val ring = Seq(c(0, 0, 1, 2), c(10, 0, 3, 4), c(10, 10, 5, 6), c(0, 10, 7, 8), c(0, 0, 1, 2))
    val bytes = le(Seq(t(3003), 1, 5) ++ ring: _*)
    assert(text(bytes) === text("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
  }

  test("EWKB Z and M flags, either byte order") {
    val zLine = 0x80000000 | 2
    val want = text("LINESTRING (30 10, 40 20)")
    assert(text(be(t(zLine), 2, c(30, 10, 99), c(40, 20, 98))) === want)
    assert(text(le(t(zLine), 2, c(30, 10, 99), c(40, 20, 98))) === want)
    assert(text(le(t(0x40000000 | 1), c(3, 4, 1))) === text("POINT (3 4)"))
    assert(text(le(t(0xC0000000 | 1), c(3, 4, 1, 2))) === text("POINT (3 4)"))
  }

  test("multi-geometries and collections: each member carries its own dimensions") {
    val mp = le(t(1004), 2, t(1001), c(1, 2, 9), t(1001), c(3, 4, 9))
    assert(text(mp) === text("MULTIPOINT ((1 2), (3 4))"))
    val mixed = le(t(7), 2, t(3001), c(5, 6, 1, 2), t(2), 2, c(0, 0), c(1, 1))
    assert(text(mixed) === text("GEOMETRYCOLLECTION (POINT (5 6), LINESTRING (0 0, 1 1))"))
    val multiLine = le(t(2005), 1, t(2002), 2, c(0, 0, 4), c(5, 5, 4))
    assert(text(multiLine) === text("MULTILINESTRING ((0 0, 5 5))"))
  }

  test("cell-id scans skip the extra ordinates") {
    val want = Wkb.cellFromWkb(le(t(1), c(12.5, -33.75)))
    assert(Wkb.cellFromWkb(le(t(1001), c(12.5, -33.75, 500))) === want)
    assert(Wkb.cellFromWkb(le(t(0x80000000 | 4), 1, t(0x80000000 | 1), c(12.5, -33.75, 500))) === want)
    val line = le(t(3002), 2, c(12.5, -33.75, 1, 2), c(13, -34, 3, 4))
    assert(Wkb.arbitraryCellFromWkb(line) === want)
  }

  test("type codes past the ISO ZM range are rejected") {
    intercept[Wkb.WkbParseException](Wkb.read(le(t(4001), c(1, 2, 3, 4, 5))))
    intercept[Wkb.WkbParseException](Wkb.read(le(t(0x20000001), 4326, c(1, 2))))
  }
}
