package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import org.scalatest.funsuite.AnyFunSuite

import WkbBytes.{c, le, t}

/** Hostile WKB (deeply nested collections, truncated or corrupted blobs,
  * negative counts, counts past the end of the data) gives a geography or
  * a typed WkbParseException from every reader: never a raw JVM exception
  * or a silently empty geometry, and never a fatal Error such as
  * StackOverflowError. */
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

  test("a negative count is a typed error, not an empty geometry") {
    val cases = (2 to 7).map(geomType => s"type $geomType with count -1" -> le(t(geomType), -1)) :+
      ("a ring of -3 points" -> le(t(3), 1, -3, c(0, 0), c(1, 0), c(0, 1)))
    val accepted = for ((what, bytes) <- cases; (name, f) <- readers if outcome(name, bytes, f).isRight)
      yield s"$name: $what"
    assert(accepted === Nil)
  }

  test("a count whose elements cannot fit the rest of the blob is a typed error") {
    // 3 points of 24 bytes (Z) announced, 2 present: fits if the Z were ignored
    val zLine = le(t(1002), 3, c(0, 0, 1), c(1, 1, 1), c(2, 2, 1))
    val short = java.util.Arrays.copyOf(zLine, zLine.length - 24)
    readers.foreach { case (name, f) =>
      assert(outcome(name, short, f).isLeft, s"$name accepted 3 Z points in the bytes of 2")
    }
    val hugeCollection = le(t(7), Int.MaxValue, t(1), c(1, 2))
    readers.foreach { case (name, f) =>
      assert(outcome(name, hugeCollection, f).isLeft, s"$name accepted ${Int.MaxValue} members")
    }
  }

  /** Samples for the mutation fuzz: 2-D, Z, M and ZM; ISO and EWKB; every
    * multi type and a nested collection. */
  private val fuzzSamples: Seq[Array[Byte]] = Seq(
    Wkb.write(Wkt.read("POINT (-64 45)")),
    Wkb.write(Wkt.read("MULTIPOINT ((-64 45), (-64 46), (10 20))")),
    Wkb.write(Wkt.read("MULTILINESTRING ((0 0, 1 1), (5 5, 6 7, 8 8))")),
    Wkb.write(Wkt.read("MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))," +
      " ((20 20, 30 20, 30 30, 20 20)))")),
    le(t(1001), c(10, 20, 5)),
    le(t(3002), 3, c(0, 0, 1, 2), c(1, 1, 3, 4), c(2, 2, 5, 6)),
    le(t(2003), 1, 4, c(0, 0, 1), c(10, 0, 2), c(0, 10, 3), c(0, 0, 1)),
    le(t(0x80000000 | 6), 1, t(0x80000000 | 3), 1, 4, c(0, 0, 1), c(5, 0, 1), c(0, 5, 1),
      c(0, 0, 1)),
    le(t(7), 3, t(1001), c(1, 2, 9), t(2), 2, c(0, 0), c(3, 3),
      t(1007), 1, t(1004), 2, t(1001), c(5, 6, 7), t(1001), c(8, 9, 10)))

  test("WKB mutation fuzz: every prefix and seeded byte corruptions give a value or a typed error") {
    val start = System.nanoTime()
    fuzzSamples.zipWithIndex.foreach { case (full, k) =>
      assert(outcome("read", full, b => Wkb.read(b)).isRight, s"sample $k does not read")
      (0 until full.length).foreach { n =>
        val prefix = java.util.Arrays.copyOf(full, n)
        readers.foreach { case (name, f) => outcome(s"$name of sample $k cut to $n", prefix, f) }
      }
    }
    val rng = new scala.util.Random(20261018L)
    for ((full, k) <- fuzzSamples.zipWithIndex; _ <- 1 to 400) {
      val bytes = full.clone()
      bytes(rng.nextInt(bytes.length)) = rng.nextInt(256).toByte
      readers.foreach { case (name, f) => outcome(s"$name of corrupted sample $k", bytes, f) }
    }
    assert(System.nanoTime() - start < 30L * 1000 * 1000 * 1000, "fuzz took over 30 s")
  }
}
