package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import Geography._

/**
 * Tagged binary encoding for GEOGRAPHY values stored in BinaryType columns.
 *
 * Same three-tier design as the reference (SURVEY.md §1.3; reference:
 * src/include/s2_geography_serde.hpp — behavior, not bytes):
 *
 *   [0] kind  [1] flags  [2] coveringSize  [3] reserved
 *   coveringSize * 8 bytes of S2 cell ids (little-endian)
 *   payload (kind-specific)
 *
 * - The 4-byte tag answers isempty/dimension/kind without decoding.
 * - The inline covering is the S2RegionCoverer covering of
 *   `RegionCoverer.cover`, the one coverer, as in the reference encoder
 *   (s2_geography_serde.hpp:43). It drives the may-intersect prefilter and
 *   the cover-then-refine join without decoding geometry. Blobs written
 *   by the earlier greedy coverer carry a different but still valid
 *   covering, and decode and compare as before.
 * - CELL_CENTER payload is a single 8-byte cell id (12-byte points).
 */
object GeoCodec {
  final val KindCellCenter: Byte = 1
  final val KindPoint: Byte = 2
  final val KindPolyline: Byte = 3
  final val KindPolygon: Byte = 4
  final val KindCollection: Byte = 5

  final val FlagEmpty: Byte = 1
  final val FlagPrepared: Byte = 2 // "carries its own index" marker (s2_prepare)

  final case class DecodeException(msg: String) extends RuntimeException(msg)

  // --------------------------------------------------------------- encode

  def encode(g: Geography): Array[Byte] = encodeImpl(g, prepared = false)

  /** s2_prepare: blobs >= 64 bytes get the cell-bucketed edge index BUILT
    * and SERIALIZED into the blob (appended after the payload — structural
    * decode never reads past the payload, so unprepared readers are
    * unaffected); smaller blobs pass through (reference:
    * s2_functions_io.cpp:373-379 encodes a ShapeIndexGeography). Decoding a
    * prepared blob reattaches the index without rebuilding it. */
  def prepare(bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 64 || bytes(0) == KindCellCenter || (bytes(1) & FlagPrepared) != 0) bytes
    else {
      val idx = EdgeIndex.build(new GeoShapes(decode(bytes)))
      val out = ByteBuffer.allocate(bytes.length + idx.serializedSize)
        .order(ByteOrder.LITTLE_ENDIAN)
      out.put(bytes)
      idx.writeTo(out)
      val arr = out.array()
      arr(1) = (arr(1) | FlagPrepared).toByte
      arr
    }
  }

  def isPrepared(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && (bytes(1) & FlagPrepared) != 0

  private def encodeImpl(g: Geography, prepared: Boolean): Array[Byte] = {
    val kind = g match {
      case _: CellCenter => KindCellCenter
      case _: Points => KindPoint
      case _: Polylines => KindPolyline
      case _: Polygons => KindPolygon
      case _: Collection => KindCollection
    }
    val covering = RegionCoverer.cover(g)
    val coveringSize = Math.min(covering.length, 255)
    val payload = encodePayload(g)
    val buf = ByteBuffer.allocate(4 + 8 * coveringSize + payload.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    var flags = 0
    if (g.isEmpty) flags |= FlagEmpty
    if (prepared) flags |= FlagPrepared
    buf.put(kind).put(flags.toByte).put(coveringSize.toByte).put(0.toByte)
    var i = 0
    while (i < coveringSize) { buf.putLong(covering(i)); i += 1 }
    buf.put(payload)
    buf.array()
  }

  private def encodePayload(g: Geography): Array[Byte] = g match {
    case CellCenter(id) =>
      ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(id).array()
    case Points(ps) =>
      val buf = alloc(4 + 24 * ps.size)
      buf.putInt(ps.size)
      ps.foreach(putPoint(buf, _))
      buf.array()
    case Polylines(ls) =>
      val buf = alloc(4 + ls.map(l => 4 + 24 * l.size).sum)
      buf.putInt(ls.size)
      ls.foreach { l => buf.putInt(l.size); l.foreach(putPoint(buf, _)) }
      buf.array()
    case p: Polygons =>
      val gs = p.ringGroups
      val buf = alloc(4 + gs.map(rs => 4 + rs.map(r => 4 + 24 * r.size).sum).sum)
      buf.putInt(gs.size)
      gs.foreach { rs =>
        buf.putInt(rs.size)
        rs.foreach { r => buf.putInt(r.size); r.foreach(putPoint(buf, _)) }
      }
      buf.array()
    case Collection(items) =>
      val encoded = items.map(encodePayloadWithKind)
      val buf = alloc(4 + encoded.map(_.length).sum)
      buf.putInt(items.size)
      encoded.foreach(buf.put)
      buf.array()
  }

  private def encodePayloadWithKind(g: Geography): Array[Byte] = {
    val kind = g match {
      case _: CellCenter => KindCellCenter
      case _: Points => KindPoint
      case _: Polylines => KindPolyline
      case _: Polygons => KindPolygon
      case _: Collection => KindCollection
    }
    val payload = encodePayload(g)
    val out = new Array[Byte](1 + payload.length)
    out(0) = kind
    System.arraycopy(payload, 0, out, 1, payload.length)
    out
  }

  @inline private def alloc(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  @inline private def putPoint(buf: ByteBuffer, p: S2Point): Unit = {
    buf.putDouble(p.x); buf.putDouble(p.y); buf.putDouble(p.z)
  }

  // --------------------------------------------------------------- decode
  //
  // Every reader trusts nothing in the blob: the tag, the covering size and
  // each count are checked against the bytes actually present before
  // anything is read or allocated (O(1) per header or count), and
  // collection nesting is capped, so a malformed blob is a DecodeException,
  // never a raw JVM exception or a fatal Error.

  /** Deepest collection nesting the decoder accepts (the same cap as the
    * WKB reader); deeper blobs would overflow the stack. */
  private final val MaxDepth = 64

  @inline private def checkTag(bytes: Array[Byte]): Unit =
    if (bytes == null || bytes.length < 4) throw DecodeException("GEOGRAPHY blob too short")

  /** Offset of the payload: past the 4-byte tag and the stored covering. */
  private def payloadOffset(bytes: Array[Byte]): Int = {
    checkTag(bytes)
    val n = bytes(2) & 0xff
    if (4 + 8 * n > bytes.length)
      throw DecodeException(s"GEOGRAPHY covering of $n cells overruns a ${bytes.length}-byte blob")
    4 + 8 * n
  }

  private def payload(bytes: Array[Byte]): ByteBuffer = {
    val off = payloadOffset(bytes)
    ByteBuffer.wrap(bytes, off, bytes.length - off).order(ByteOrder.LITTLE_ENDIAN)
  }

  /** Tag-only peek: (kind, flags, coveringSize). */
  @inline def kindOf(bytes: Array[Byte]): Byte = { checkTag(bytes); bytes(0) }
  @inline def isEmptyBlob(bytes: Array[Byte]): Boolean = {
    checkTag(bytes)
    (bytes(1) & FlagEmpty) != 0
  }

  /** Covering cells without decoding geometry. Empty array if none stored. */
  def coveringOf(bytes: Array[Byte]): Array[Long] = {
    val n = (payloadOffset(bytes) - 4) / 8
    val out = new Array[Long](n)
    val buf = ByteBuffer.wrap(bytes, 4, 8 * n).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) { out(i) = buf.getLong(); i += 1 }
    out
  }

  /** Cell-center fast path: the id without decoding (12-byte form). */
  def cellCenterIdOf(bytes: Array[Byte]): Long = {
    val buf = payload(bytes)
    need(buf, 8, "cell id")
    buf.getLong()
  }

  def decode(bytes: Array[Byte]): Geography = {
    val buf = payload(bytes)
    decodePayload(bytes(0), buf, 0)
  }

  /** Decode to the predicate-ready shape view; for prepared blobs the
    * serialized edge index is reattached instead of rebuilt. */
  def decodeShapes(bytes: Array[Byte]): GeoShapes = {
    val buf = payload(bytes)
    val g = decodePayload(bytes(0), buf, 0)
    val shapes = new GeoShapes(g)
    if ((bytes(1) & FlagPrepared) != 0 && buf.remaining() >= 9)
      shapes.attachEdgeIndex(EdgeIndex.readFrom(buf, shapes))
    shapes
  }

  @inline private[core] def need(buf: ByteBuffer, bytes: Long, what: String): Unit =
    if (bytes > buf.remaining())
      throw DecodeException(s"GEOGRAPHY $what needs $bytes bytes, ${buf.remaining()} left")

  /** A count followed by that many elements of at least `minBytes` each:
    * negative counts and counts the remaining bytes cannot hold are
    * rejected before anything is allocated. */
  private[core] def readCount(buf: ByteBuffer, minBytes: Int, what: String): Int = {
    need(buf, 4, "count")
    val n = buf.getInt()
    if (n < 0 || n.toLong * minBytes > buf.remaining())
      throw DecodeException(s"GEOGRAPHY $what count $n does not fit the ${buf.remaining()} bytes left")
    n
  }

  private def decodePayload(kind: Byte, buf: ByteBuffer, depth: Int): Geography = kind match {
    case KindCellCenter =>
      need(buf, 8, "cell id")
      CellCenter(buf.getLong())
    case KindPoint =>
      val n = readCount(buf, 24, "point")
      Points(Vector.fill(n)(getPoint(buf)))
    case KindPolyline =>
      val n = readCount(buf, 4, "polyline")
      Polylines(Vector.fill(n) {
        val m = readCount(buf, 24, "vertex")
        Vector.fill(m)(getPoint(buf))
      })
    case KindPolygon =>
      val n = readCount(buf, 4, "polygon")
      Polygons(Vector.fill(n) {
        val nr = readCount(buf, 4, "ring")
        Vector.fill(nr) {
          val m = readCount(buf, 24, "vertex")
          Vector.fill(m)(getPoint(buf))
        }
      })
    case KindCollection =>
      if (depth >= MaxDepth)
        throw DecodeException(s"GEOGRAPHY collection nesting deeper than $MaxDepth levels")
      // each member is at least a kind byte and a 4-byte count
      val n = readCount(buf, 5, "collection member")
      Collection(Vector.fill(n) {
        need(buf, 1, "member kind")
        val k = buf.get()
        decodePayload(k, buf, depth + 1)
      })
    case other => throw DecodeException(s"Unknown GEOGRAPHY kind: $other")
  }

  @inline private def getPoint(buf: ByteBuffer): S2Point =
    S2Point(buf.getDouble(), buf.getDouble(), buf.getDouble())
}
