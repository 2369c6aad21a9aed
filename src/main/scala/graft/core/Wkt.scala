package graft.core

import Geography._

/**
 * WKT reader/writer with spherical-edge semantics
 * (reference: src/s2_functions_io.cpp:22-197 — behavior, not implementation).
 *
 * - Coordinates are `lon lat` in degrees.
 * - Output infers the tag from content: 1 point -> POINT, n -> MULTIPOINT…
 * - `precision` = max decimals, trailing zeros stripped (s2_format);
 *   precision < 0 = lossless shortest round-trip (s2_astext).
 */
object Wkt {
  // --------------------------------------------------------------- writer

  def write(g: Geography, precision: Int = -1): String = g match {
    case c: CellCenter =>
      if (c.isEmpty) "POINT EMPTY" else writePointTag(Vector(c.point), precision)
    case Points(ps) =>
      if (ps.isEmpty) "POINT EMPTY" else writePointTag(ps, precision)
    case Polylines(ls0) =>
      val ls = ls0.filter(_.nonEmpty)
      if (ls.isEmpty) "LINESTRING EMPTY"
      else if (ls.size == 1) "LINESTRING " + ringStr(ls.head, precision, close = false)
      else "MULTILINESTRING (" + ls.map(ringStr(_, precision, close = false)).mkString(", ") + ")"
    case p: Polygons =>
      val gs = p.ringGroups.filter(_.exists(_.nonEmpty))
      if (gs.isEmpty) "POLYGON EMPTY"
      else if (gs.size == 1) "POLYGON " + polyStr(gs.head, precision)
      else "MULTIPOLYGON (" + gs.map(polyStr(_, precision)).mkString(", ") + ")"
    case Collection(items) =>
      if (items.isEmpty) "GEOMETRYCOLLECTION EMPTY"
      else "GEOMETRYCOLLECTION (" + items.map(write(_, precision)).mkString(", ") + ")"
  }

  private def writePointTag(ps: Vector[S2Point], precision: Int): String =
    if (ps.size == 1) "POINT (" + coordStr(ps.head, precision) + ")"
    else "MULTIPOINT (" + ps.map(p => "(" + coordStr(p, precision) + ")").mkString(", ") + ")"

  private def polyStr(rings: Vector[Vector[S2Point]], precision: Int): String =
    "(" + rings.filter(_.nonEmpty).map(ringStr(_, precision, close = true)).mkString(", ") + ")"

  private def ringStr(ps: Vector[S2Point], precision: Int, close: Boolean): String = {
    val pts = if (close && ps.nonEmpty) ps :+ ps.head else ps
    "(" + pts.map(coordStr(_, precision)).mkString(", ") + ")"
  }

  private def coordStr(p: S2Point, precision: Int): String = {
    val lat = p.latDegrees
    // longitude is undefined at the poles; print 0 (matches reference output
    // for cell-border polygons touching a pole).
    val lng = if (Math.abs(lat) == 90.0) 0.0 else p.lngDegrees
    num(lng, precision) + " " + num(lat, precision)
  }

  def num(v: Double, precision: Int): String = {
    if (v == 0.0) return "0" // avoid "-0"
    val s =
      if (precision < 0) {
        // Shortest unique round-trip (Java's Double.toString), de-sci-fied.
        val raw = java.lang.Double.toString(v)
        if (raw.contains('E') || raw.contains('e'))
          new java.math.BigDecimal(v).toPlainString
        else raw
      } else {
        // HALF_EVEN matches C++ snprintf's round-half-to-even at the
        // precision boundary (VERDICT r1 item 8)
        new java.math.BigDecimal(v)
          .setScale(precision, java.math.RoundingMode.HALF_EVEN)
          .toPlainString
      }
    stripTrailingZeros(s)
  }

  private def stripTrailingZeros(s: String): String = {
    if (!s.contains('.')) return s
    var end = s.length
    while (end > 1 && s.charAt(end - 1) == '0') end -= 1
    if (end > 1 && s.charAt(end - 1) == '.') end -= 1
    val out = s.substring(0, end)
    if (out == "-0") "0" else out
  }

  // --------------------------------------------------------------- reader

  final case class WktParseException(msg: String) extends RuntimeException(msg)

  def read(wkt: String, validate: Boolean = true): Geography = {
    val p = new Parser(wkt)
    val g = p.parseGeometry()
    p.skipWs()
    if (!p.atEnd) throw WktParseException(s"Trailing characters in WKT: '$wkt'")
    if (validate) Validation.findError(g).foreach(e => throw WktParseException(e))
    g
  }

  private final class Parser(s: String) {
    private var i = 0
    def atEnd: Boolean = i >= s.length
    def skipWs(): Unit = { while (i < s.length && s.charAt(i).isWhitespace) i += 1 }

    private def readWord(): String = {
      skipWs()
      val start = i
      while (i < s.length && s.charAt(i).isLetter) i += 1
      if (i == start) throw WktParseException(s"Expected geometry tag at position $start in '$s'")
      s.substring(start, i).toUpperCase
    }

    private def peekEmpty(): Boolean = {
      skipWs()
      if (s.regionMatches(true, i, "EMPTY", 0, 5)) { i += 5; true } else false
    }

    private def expect(c: Char): Unit = {
      skipWs()
      if (i >= s.length || s.charAt(i) != c)
        throw WktParseException(s"Expected '$c' at position $i in '$s'")
      i += 1
    }

    private def tryConsume(c: Char): Boolean = {
      skipWs()
      if (i < s.length && s.charAt(i) == c) { i += 1; true } else false
    }

    private def readNumber(): Double = {
      skipWs()
      val start = i
      while (i < s.length && (s.charAt(i).isDigit || "+-.eE".indexOf(s.charAt(i)) >= 0)) i += 1
      if (i == start) throw WktParseException(s"Expected number at position $start in '$s'")
      try s.substring(start, i).toDouble
      catch { case _: NumberFormatException =>
        throw WktParseException(s"Bad number '${s.substring(start, i)}' in '$s'") }
    }

    private def readCoord(): S2Point = {
      val lng = readNumber()
      val lat = readNumber()
      S2Point.fromLatLngDegrees(lat, lng)
    }

    private def readCoordSeq(): Vector[S2Point] = {
      expect('(')
      val b = Vector.newBuilder[S2Point]
      b += readCoord()
      while (tryConsume(',')) b += readCoord()
      expect(')')
      b.result()
    }

    /** MULTIPOINT accepts both (1 2, 3 4) and ((1 2), (3 4)). */
    private def readMultiPointSeq(): Vector[S2Point] = {
      expect('(')
      val b = Vector.newBuilder[S2Point]
      def one(): Unit =
        if (tryConsume('(')) { b += readCoord(); expect(')') } else b += readCoord()
      one()
      while (tryConsume(',')) one()
      expect(')')
      b.result()
    }

    private def readRings(): Vector[Vector[S2Point]] = {
      expect('(')
      val b = Vector.newBuilder[Vector[S2Point]]
      b += readRing()
      while (tryConsume(',')) b += readRing()
      expect(')')
      b.result()
    }

    private def readRing(): Vector[S2Point] = {
      val pts = readCoordSeq()
      // drop the repeated closing vertex
      val ring = if (pts.size > 1 && pts.head == pts.last) pts.dropRight(1) else pts
      ring
    }

    def parseGeometry(): Geography = {
      val tag = readWord()
      tag match {
        case "POINT" =>
          if (peekEmpty()) emptyPoint
          else { expect('('); val p = readCoord(); expect(')'); Points(Vector(p)) }
        case "MULTIPOINT" =>
          if (peekEmpty()) emptyPoint else Points(readMultiPointSeq())
        case "LINESTRING" =>
          if (peekEmpty()) Polylines(Vector.empty)
          else Polylines(Vector(readCoordSeq()))
        case "MULTILINESTRING" =>
          if (peekEmpty()) Polylines(Vector.empty)
          else {
            expect('(')
            val b = Vector.newBuilder[Vector[S2Point]]
            b += readCoordSeq()
            while (tryConsume(',')) b += readCoordSeq()
            expect(')')
            Polylines(b.result())
          }
        case "POLYGON" =>
          if (peekEmpty()) Polygons(Vector.empty)
          else Polygons(Vector(normalizeRings(readRings())))
        case "MULTIPOLYGON" =>
          if (peekEmpty()) Polygons(Vector.empty)
          else {
            expect('(')
            val b = Vector.newBuilder[Vector[Vector[S2Point]]]
            b += normalizeRings(readRings())
            while (tryConsume(',')) b += normalizeRings(readRings())
            expect(')')
            Polygons(b.result())
          }
        case "GEOMETRYCOLLECTION" =>
          if (peekEmpty()) emptyCollection
          else {
            expect('(')
            val b = Vector.newBuilder[Geography]
            b += parseGeometry()
            while (tryConsume(',')) b += parseGeometry()
            expect(')')
            Collection(b.result())
          }
        case other => throw WktParseException(s"Unsupported WKT tag: $other")
      }
    }
  }

  /** Normalize each ring so it encloses at most a hemisphere (the behavior
    * of non-oriented spherical WKT readers). */
  def normalizeRings(rings: Vector[Vector[S2Point]]): Vector[Vector[S2Point]] =
    rings.map { r =>
      if (r.size >= 3 && new S2Loop(r.toArray).isInverted) r.reverse else r
    }
}

/** Validation messages follow the reference's contract
  * (test/sql/geography/accessors.test:36-38). */
object Validation {
  def findError(g: Geography): Option[String] = g match {
    case Geography.Points(_) => None
    case c: Geography.CellCenter => None
    case Geography.Polylines(lines) =>
      lines.flatMap(checkChain(_, isRing = false)).headOption
    case p: Geography.Polygons =>
      p.allRings.flatMap { r =>
        checkChain(r :+ r.head, isRing = true).orElse(
          if (r.size < 3) Some("Loop with fewer than 3 vertices") else None)
      }.headOption.orElse(findCrossingEdges(p))
    case Geography.Collection(items) => items.flatMap(findError).headOption
  }

  /** Self/cross-ring crossing-edge detection (reference validation catches
    * crossing edges — docs/function-reference.md:222-225; the exact text is
    * not pinned by tests, the S2-style "Edge i crosses edge j" is used).
    * Pairs whose `EdgeCaps` are apart cannot cross and are not tested. */
  private[core] def findCrossingEdges(p: Geography.Polygons): Option[String] = {
    val rings = p.allRings
    val n = rings.map(_.size).sum
    val a = new Array[S2Point](n); val b = new Array[S2Point](n)
    val ringOf = new Array[Int](n); val indexOf = new Array[Int](n)
    var e = 0
    for (r <- rings.indices; ring = rings(r); i <- ring.indices) {
      a(e) = ring(i); b(e) = ring((i + 1) % ring.size); ringOf(e) = r; indexOf(e) = i
      e += 1
    }
    val caps = new EdgeCaps(a, b)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        // skip adjacent edges of the same ring (share a vertex by design)
        if (caps.meets(i, j) && !(ringOf(i) == ringOf(j) &&
            (b(i) == a(j) || b(j) == a(i) || a(i) == a(j) || b(i) == b(j))) &&
            S2Pred.crossingSign(a(i), b(i), a(j), b(j)) > 0)
          return Some(s"Edge ${indexOf(i)} crosses edge ${indexOf(j)}")
        j += 1
      }
      i += 1
    }
    None
  }

  private def checkChain(pts: Vector[S2Point], isRing: Boolean): Option[String] = {
    var i = 0
    while (i + 1 < pts.size) {
      if (pts(i) == pts(i + 1))
        return Some(s"Vertices $i and ${i + 1} are identical")
      if (pts(i) == (-pts(i + 1)))
        return Some(s"Vertices $i and ${i + 1} are antipodal")
      i += 1
    }
    None
  }
}
