package graft.core

import org.scalatest.funsuite.AnyFunSuite

import Geography._

/** The byte-stream WKB writer `Wkb.write` used before it wrote into a
  * pre-sized buffer: the oracle its bytes are compared against. */
object WkbStreamWriter {
  def write(g: Geography): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    writeGeom(out, g)
    out.toByteArray
  }

  private def writeHeader(out: java.io.ByteArrayOutputStream, geomType: Int): Unit = {
    out.write(1)
    writeInt(out, geomType)
  }

  private def writeInt(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }

  private def writeDouble(out: java.io.ByteArrayOutputStream, v: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(v)
    var i = 0
    while (i < 8) { out.write(((bits >> (8 * i)) & 0xff).toInt); i += 1 }
  }

  private def writeCoord(out: java.io.ByteArrayOutputStream, p: S2Point): Unit = {
    val lat = p.latDegrees
    val lng = if (Math.abs(lat) == 90.0) 0.0 else p.lngDegrees
    writeDouble(out, lng); writeDouble(out, lat)
  }

  private def writeGeom(out: java.io.ByteArrayOutputStream, g: Geography): Unit = g match {
    case c: CellCenter =>
      if (c.isEmpty) { writeHeader(out, 1); writeDouble(out, Double.NaN); writeDouble(out, Double.NaN) }
      else { writeHeader(out, 1); writeCoord(out, c.point) }
    case Points(ps) =>
      if (ps.isEmpty) {
        writeHeader(out, 1); writeDouble(out, Double.NaN); writeDouble(out, Double.NaN)
      } else if (ps.size == 1) {
        writeHeader(out, 1); writeCoord(out, ps.head)
      } else {
        writeHeader(out, 4); writeInt(out, ps.size)
        ps.foreach { p => writeHeader(out, 1); writeCoord(out, p) }
      }
    case Polylines(ls0) =>
      val ls = ls0.filter(_.nonEmpty)
      if (ls.isEmpty) { writeHeader(out, 2); writeInt(out, 0) }
      else if (ls.size == 1) {
        writeHeader(out, 2); writeInt(out, ls.head.size)
        ls.head.foreach(writeCoord(out, _))
      } else {
        writeHeader(out, 5); writeInt(out, ls.size)
        ls.foreach { l =>
          writeHeader(out, 2); writeInt(out, l.size); l.foreach(writeCoord(out, _))
        }
      }
    case p: Polygons =>
      val gs = p.ringGroups.filter(_.exists(_.nonEmpty))
      if (gs.isEmpty) { writeHeader(out, 3); writeInt(out, 0) }
      else if (gs.size == 1) writePolygon(out, gs.head)
      else {
        writeHeader(out, 6); writeInt(out, gs.size)
        gs.foreach(writePolygon(out, _))
      }
    case Collection(items) =>
      writeHeader(out, 7); writeInt(out, items.size)
      items.foreach(writeGeom(out, _))
  }

  private def writePolygon(out: java.io.ByteArrayOutputStream, rings: Vector[Vector[S2Point]]): Unit = {
    val rs = rings.filter(_.nonEmpty)
    writeHeader(out, 3); writeInt(out, rs.size)
    rs.foreach { r =>
      writeInt(out, r.size + 1)
      r.foreach(writeCoord(out, _))
      writeCoord(out, r.head)
    }
  }
}

/** `Wkb.write` writes the same bytes as the stream writer it replaced, on
  * seeded random geographies of every kind, with the empty members and
  * rings the writer drops and the poles it writes at longitude 0. */
class WkbWriterSpec extends AnyFunSuite {

  private def randomGeog(rng: scala.util.Random, depth: Int): Geography = {
    def pt(): S2Point =
      if (rng.nextInt(20) == 0) S2Point(0, 0, if (rng.nextBoolean()) 1.0 else -1.0)
      else S2Point.fromLatLngDegrees(rng.nextDouble() * 180 - 90, rng.nextDouble() * 360 - 180)
    def pts(max: Int): Vector[S2Point] = Vector.fill(rng.nextInt(max + 1))(pt())
    rng.nextInt(if (depth < 3) 6 else 5) match {
      case 0 => Points(pts(4))
      case 1 => Polylines(Vector.fill(rng.nextInt(4))(pts(6)))
      case 2 => Polygons(Vector.fill(rng.nextInt(4))(Vector.fill(rng.nextInt(3))(pts(8))))
      case 3 => CellCenter(S2CellId.fromLonLatDegrees(
        rng.nextDouble() * 360 - 180, rng.nextDouble() * 180 - 90))
      case 4 => CellCenter(0L) // invalid id: the empty cell center
      case _ => Collection(Vector.fill(rng.nextInt(4))(randomGeog(rng, depth + 1)))
    }
  }

  test("seeded geographies of every kind: the sized writer's bytes equal the stream writer's") {
    val rng = new scala.util.Random(20261019L)
    for (i <- 1 to 2000) {
      val g = randomGeog(rng, 0)
      val got = Wkb.write(g)
      val want = WkbStreamWriter.write(g)
      assert(java.util.Arrays.equals(got, want), s"case $i: $g")
    }
  }

  test("countries, cities and seeded n-gons: the sized writer's bytes equal the stream writer's") {
    val fixtures = CoveringFixtures.countries ++ CoveringFixtures.cities ++
      CoveringFixtures.ngons(7L, 200).map { case (lon, lat, g) => s"$lon $lat" -> g }
    fixtures.foreach { case (name, g) =>
      assert(java.util.Arrays.equals(Wkb.write(g), WkbStreamWriter.write(g)), name)
    }
  }
}
