package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import Geography._

/**
 * ISO WKB reader/writer (lon/lat, spherical edges) + the minimal-scan
 * visitors behind s2_cellfromwkb / s2_arbitrarycellfromwkb
 * (SURVEY.md §2.1, §2.7; reference: src/s2_functions_io.cpp:200-318,
 * src/s2_cell_ops.cpp:310-461 — behavior, not implementation).
 */
object Wkb {
  final case class WkbParseException(msg: String) extends RuntimeException(msg)

  private final val TPoint = 1
  private final val TLine = 2
  private final val TPolygon = 3
  private final val TMultiPoint = 4
  private final val TMultiLine = 5
  private final val TMultiPolygon = 6
  private final val TCollection = 7

  // EWKB dimension flags; ISO marks the same dimensions with type-code
  // offsets 1000 (Z), 2000 (M) and 3000 (ZM)
  private final val EwkbZ = 0x80000000
  private final val EwkbM = 0x40000000

  /** Deepest multi/collection nesting the readers accept. Real data nests
    * a few levels at most; the cap keeps a blob of thousands of nested
    * headers from overflowing the stack, a fatal Error that takes down
    * the executor. */
  private final val MaxDepth = 64

  /** Fewest bytes a member geometry of a multi or collection takes: byte
    * order, type and a count (a point takes more). */
  private final val MinMemberBytes = 9

  // --------------------------------------------------------------- writer

  def write(g: Geography): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    writeGeom(out, g)
    out.toByteArray
  }

  private def writeHeader(out: java.io.ByteArrayOutputStream, geomType: Int): Unit = {
    out.write(1) // little-endian
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
      if (c.isEmpty) { writeHeader(out, TPoint); writeDouble(out, Double.NaN); writeDouble(out, Double.NaN) }
      else { writeHeader(out, TPoint); writeCoord(out, c.point) }
    case Points(ps) =>
      if (ps.isEmpty) {
        // ISO: POINT EMPTY -> NaN coords
        writeHeader(out, TPoint); writeDouble(out, Double.NaN); writeDouble(out, Double.NaN)
      } else if (ps.size == 1) {
        writeHeader(out, TPoint); writeCoord(out, ps.head)
      } else {
        writeHeader(out, TMultiPoint); writeInt(out, ps.size)
        ps.foreach { p => writeHeader(out, TPoint); writeCoord(out, p) }
      }
    case Polylines(ls0) =>
      val ls = ls0.filter(_.nonEmpty)
      if (ls.isEmpty) { writeHeader(out, TLine); writeInt(out, 0) }
      else if (ls.size == 1) {
        writeHeader(out, TLine); writeInt(out, ls.head.size)
        ls.head.foreach(writeCoord(out, _))
      } else {
        writeHeader(out, TMultiLine); writeInt(out, ls.size)
        ls.foreach { l =>
          writeHeader(out, TLine); writeInt(out, l.size); l.foreach(writeCoord(out, _))
        }
      }
    case p: Polygons =>
      val gs = p.ringGroups.filter(_.exists(_.nonEmpty))
      if (gs.isEmpty) { writeHeader(out, TPolygon); writeInt(out, 0) }
      else if (gs.size == 1) writePolygon(out, gs.head)
      else {
        writeHeader(out, TMultiPolygon); writeInt(out, gs.size)
        gs.foreach(writePolygon(out, _))
      }
    case Collection(items) =>
      writeHeader(out, TCollection); writeInt(out, items.size)
      items.foreach(writeGeom(out, _))
  }

  private def writePolygon(out: java.io.ByteArrayOutputStream, rings: Vector[Vector[S2Point]]): Unit = {
    val rs = rings.filter(_.nonEmpty)
    writeHeader(out, TPolygon); writeInt(out, rs.size)
    rs.foreach { r =>
      writeInt(out, r.size + 1)
      r.foreach(writeCoord(out, _))
      writeCoord(out, r.head) // close the ring
    }
  }

  // --------------------------------------------------------------- reader

  def read(bytes: Array[Byte], validate: Boolean = true): Geography = {
    val g = parsing(readGeom(ByteBuffer.wrap(bytes), 0))
    if (validate) Validation.findError(g).foreach(e => throw WkbParseException(e))
    g
  }

  /** Reads a geometry's byte order and type word. Returns the 2-D type
    * (1..7) in the low byte and, above it, the number of Z/M ordinates that
    * follow each (lng, lat) pair — read and dropped, as geography is 2-D. */
  private def readHeader(buf: ByteBuffer, depth: Int): Int = {
    if (depth > MaxDepth) throw WkbParseException(s"WKB nesting deeper than $MaxDepth levels")
    val order = buf.get()
    buf.order(if (order == 1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    val raw = buf.getInt()
    val code = raw & ~(EwkbZ | EwkbM)
    val iso = code / 1000
    if (iso > 3) throw WkbParseException(s"Unsupported WKB geometry type: $code")
    val z = (iso & 1) != 0 || (raw & EwkbZ) != 0
    val m = (iso & 2) != 0 || (raw & EwkbM) != 0
    val extra = (if (z) 1 else 0) + (if (m) 1 else 0)
    (code % 1000) | (extra << 8)
  }

  /** Reads an element count. A negative count, or one whose elements (at
    * least `minBytes` each) cannot fit in the rest of the blob, is a typed
    * error, not a silently empty geometry or a read past the end. */
  private def readCount(buf: ByteBuffer, minBytes: Int): Int = {
    val n = buf.getInt()
    if (n < 0 || n.toLong * minBytes > buf.remaining())
      throw WkbParseException(s"WKB count $n does not fit the ${buf.remaining()} bytes left")
    n
  }

  /** Bytes of one coordinate: lng, lat and `extra` Z/M ordinates. */
  @inline private def coordBytes(extra: Int): Int = 16 + 8 * extra

  private def skipOrdinates(buf: ByteBuffer, extra: Int): Unit = {
    var i = 0
    while (i < extra) { buf.getDouble(); i += 1 }
  }

  /** Runs a reader, mapping a read past the end of the blob (a truncated
    * body or a count larger than the data) to a typed parse error. */
  private def parsing[T](body: => T): T =
    try body catch {
      case _: java.nio.BufferUnderflowException => throw WkbParseException("Truncated WKB")
    }

  private def readGeom(buf: ByteBuffer, depth: Int): Geography = {
    val header = readHeader(buf, depth)
    val extra = header >>> 8
    (header & 0xff) match {
      case TPoint =>
        val lng = buf.getDouble(); val lat = buf.getDouble()
        skipOrdinates(buf, extra)
        if (lng.isNaN || lat.isNaN) emptyPoint
        else Points(Vector(S2Point.fromLatLngDegrees(lat, lng)))
      case TLine =>
        val n = readCount(buf, coordBytes(extra))
        if (n == 0) Polylines(Vector.empty)
        else Polylines(Vector(readCoords(buf, n, extra)))
      case TPolygon =>
        val g = readPolygonBody(buf, extra)
        if (g.isEmpty) Polygons(Vector.empty) else Polygons(Vector(g))
      case TMultiPoint =>
        val n = readCount(buf, MinMemberBytes)
        val pts = Vector.newBuilder[S2Point]
        var i = 0
        while (i < n) {
          readGeom(buf, depth + 1) match {
            case Points(ps) => ps.foreach(pts += _)
            case _ => throw WkbParseException("MULTIPOINT member is not a point")
          }
          i += 1
        }
        Points(pts.result())
      case TMultiLine =>
        val n = readCount(buf, MinMemberBytes)
        val ls = Vector.newBuilder[Vector[S2Point]]
        var i = 0
        while (i < n) {
          readGeom(buf, depth + 1) match {
            case Polylines(xs) => xs.foreach(ls += _)
            case _ => throw WkbParseException("MULTILINESTRING member is not a linestring")
          }
          i += 1
        }
        Polylines(ls.result())
      case TMultiPolygon =>
        val n = readCount(buf, MinMemberBytes)
        val gs = Vector.newBuilder[Vector[Vector[S2Point]]]
        var i = 0
        while (i < n) {
          readGeom(buf, depth + 1) match {
            case p: Polygons => p.ringGroups.foreach(gs += _)
            case _ => throw WkbParseException("MULTIPOLYGON member is not a polygon")
          }
          i += 1
        }
        Polygons(gs.result())
      case TCollection =>
        val n = readCount(buf, MinMemberBytes)
        val items = Vector.newBuilder[Geography]
        var i = 0
        while (i < n) { items += readGeom(buf, depth + 1); i += 1 }
        Collection(items.result())
      case other => throw WkbParseException(s"Unsupported WKB geometry type: $other")
    }
  }

  private def readCoords(buf: ByteBuffer, n: Int, extra: Int): Vector[S2Point] = {
    val b = Vector.newBuilder[S2Point]
    var i = 0
    while (i < n) {
      val lng = buf.getDouble(); val lat = buf.getDouble()
      skipOrdinates(buf, extra)
      b += S2Point.fromLatLngDegrees(lat, lng)
      i += 1
    }
    b.result()
  }

  private def readPolygonBody(buf: ByteBuffer, extra: Int): Vector[Vector[S2Point]] = {
    val nRings = readCount(buf, 4)
    val rings = Vector.newBuilder[Vector[S2Point]]
    var i = 0
    while (i < nRings) {
      val n = readCount(buf, coordBytes(extra))
      val pts = readCoords(buf, n, extra)
      val ring = if (pts.size > 1 && pts.head == pts.last) pts.dropRight(1) else pts
      rings += ring
      i += 1
    }
    Wkt.normalizeRings(rings.result())
  }

  // --------------------------------------- minimal-scan cell id extraction

  /** s2_cellfromwkb: exactly one point (or empty) else error
    * (reference: s2_cell_ops.cpp:174-285). Returns the sentinel for empty. */
  def cellFromWkb(bytes: Array[Byte]): Long = {
    var found: Option[(Double, Double)] = None
    parsing(scanPoints(ByteBuffer.wrap(bytes), (lng, lat) => {
      if (lng.isNaN || lat.isNaN) true
      else if (found.isEmpty) { found = Some((lng, lat)); true }
      else throw WkbParseException("Can't parse WKB with more than one point to S2_CELL_CENTER")
    }, pointsOnly = true, 0))
    found match {
      case Some((lng, lat)) => S2CellId.fromLonLatDegrees(lng, lat)
      case None => S2CellId.Sentinel
    }
  }

  /** s2_arbitrarycellfromwkb: first vertex of any geometry
    * (reference: s2_cell_ops.cpp:207-308). Sentinel if no vertex. */
  def arbitraryCellFromWkb(bytes: Array[Byte]): Long = {
    var found: Option[(Double, Double)] = None
    parsing(scanPoints(ByteBuffer.wrap(bytes), (lng, lat) => {
      if (lng.isNaN || lat.isNaN) true
      else { found = Some((lng, lat)); false } // stop at first vertex
    }, pointsOnly = false, 0))
    found match {
      case Some((lng, lat)) => S2CellId.fromLonLatDegrees(lng, lat)
      case None => S2CellId.Sentinel
    }
  }

  /** Streaming WKB scan; visit returns false to stop. pointsOnly=true errors
    * on non-point geometries (the s2_cellfromwkb contract). */
  private def scanPoints(buf: ByteBuffer, visit: (Double, Double) => Boolean,
                         pointsOnly: Boolean, depth: Int): Boolean = {
    val header = readHeader(buf, depth)
    val extra = header >>> 8
    def visitNext(): Boolean = {
      val lng = buf.getDouble(); val lat = buf.getDouble()
      skipOrdinates(buf, extra)
      visit(lng, lat)
    }
    (header & 0xff) match {
      case TPoint =>
        visitNext()
      case TLine =>
        val n = readCount(buf, coordBytes(extra))
        if (pointsOnly) {
          if (n > 0) throw WkbParseException("Can't parse WKB with non-point input to S2_CELL_CENTER")
          true
        } else {
          var i = 0
          while (i < n) { if (!visitNext()) return false; i += 1 }
          true
        }
      case TPolygon =>
        val nRings = readCount(buf, 4)
        if (pointsOnly) {
          if (nRings > 0) throw WkbParseException("Can't parse WKB with non-point input to S2_CELL_CENTER")
          true
        } else {
          var r = 0
          while (r < nRings) {
            val n = readCount(buf, coordBytes(extra))
            var i = 0
            while (i < n) { if (!visitNext()) return false; i += 1 }
            r += 1
          }
          true
        }
      case TMultiPoint | TMultiLine | TMultiPolygon | TCollection =>
        val n = readCount(buf, MinMemberBytes)
        var i = 0
        while (i < n) { if (!scanPoints(buf, visit, pointsOnly, depth + 1)) return false; i += 1 }
        true
      case other => throw WkbParseException(s"Unsupported WKB geometry type: $other")
    }
  }
}
