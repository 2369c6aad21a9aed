package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import org.scalatest.funsuite.AnyFunSuite

/** Hostile WKB (deeply nested collections, truncated blobs, counts past
  * the end of the data) gives a geography or a typed WkbParseException
  * from every reader: never a raw JVM exception, and never a fatal Error
  * such as StackOverflowError. */
class WkbHostileSpec extends AnyFunSuite {

  private val readers: Seq[(String, Array[Byte] => Any)] = Seq(
    "read" -> (b => Wkb.read(b)),
    "read unvalidated" -> (b => Wkb.read(b, validate = false)),
    "cellFromWkb" -> (b => Wkb.cellFromWkb(b)),
    "arbitraryCellFromWkb" -> (b => Wkb.arbitraryCellFromWkb(b)))

  /** The reader's value, or its typed parse error; anything else thrown
    * fails the test. */
  private def outcome(name: String, bytes: Array[Byte], f: Array[Byte] => Any)
      : Either[Wkb.WkbParseException, Any] =
    try Right(f(bytes)) catch {
      case e: Wkb.WkbParseException => Left(e)
      case t: Throwable =>
        fail(s"$name on ${bytes.length} bytes threw ${t.getClass.getName}: ${t.getMessage}")
    }

  /** `depth` little-endian GEOMETRYCOLLECTION headers of one member each,
    * around POINT (10 20). */
  private def nested(depth: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(depth * 9 + 21).order(ByteOrder.LITTLE_ENDIAN)
    (0 until depth).foreach { _ => buf.put(1.toByte); buf.putInt(7); buf.putInt(1) }
    buf.put(1.toByte); buf.putInt(1); buf.putDouble(10); buf.putDouble(20)
    buf.array()
  }

  test("shallow nesting decodes") {
    val bytes = nested(32)
    var g = Wkb.read(bytes)
    (0 until 32).foreach { _ =>
      g match {
        case Geography.Collection(Vector(inner)) => g = inner
        case other => fail(s"expected a one-member collection, got $other")
      }
    }
    assert(Wkt.write(g) === Wkt.write(Wkt.read("POINT (10 20)")))
    val cell = S2CellId.fromLonLatDegrees(10, 20)
    assert(Wkb.cellFromWkb(bytes) === cell)
    assert(Wkb.arbitraryCellFromWkb(bytes) === cell)
  }

  test("10k nested GEOMETRYCOLLECTION headers are a typed error, not a stack overflow") {
    val bytes = nested(10000)
    readers.foreach { case (name, f) =>
      assert(outcome(name, bytes, f).isLeft, s"$name accepted 10k nesting levels")
    }
  }

  test("every truncation prefix of a valid MULTIPOLYGON gives a geography or a typed error") {
    val g = Wkt.read("MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))," +
      " ((20 20, 30 20, 30 30, 20 20)))")
    val full = Wkb.write(g)
    Wkb.read(full) match {
      case p: Geography.Polygons => assert(p.ringGroups.size === 2)
      case other => fail(s"expected two polygons, got $other")
    }
    (0 until full.length).foreach { n =>
      val prefix = java.util.Arrays.copyOf(full, n)
      readers.foreach { case (name, f) =>
        val got = outcome(name, prefix, f)
        // every count in a prefix is intact, so a full read runs off its end
        if (name.startsWith("read")) assert(got.isLeft, s"$name accepted a $n-byte prefix")
      }
    }
  }

  test("a count past the end of the data is a typed error") {
    val buf = ByteBuffer.allocate(41).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte); buf.putInt(2); buf.putInt(Int.MaxValue)
    buf.putDouble(0); buf.putDouble(0); buf.putDouble(1); buf.putDouble(1)
    val bytes = buf.array()
    readers.filter(_._1 != "arbitraryCellFromWkb").foreach { case (name, f) =>
      assert(outcome(name, bytes, f).isLeft, s"$name accepted a LINESTRING of ${Int.MaxValue} points")
    }
  }
}
