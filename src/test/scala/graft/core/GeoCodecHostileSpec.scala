package graft.core

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import GeoCodec.DecodeException

/** Malformed GEOGRAPHY blobs (deep nesting, coverings or counts past the
  * end of the data, negative counts, corrupt edge indexes) give a value or
  * a typed DecodeException from every GeoCodec reader: never a raw JVM
  * exception, and never a fatal Error such as StackOverflowError or
  * OutOfMemoryError. */
class GeoCodecHostileSpec extends AnyFunSuite {

  /** The reader's value, or its typed decode error; anything else thrown
    * fails the test. */
  private def outcome(what: String, f: => Any): Either[DecodeException, Any] =
    try Right(f) catch {
      case e: DecodeException => Left(e)
      case t: Throwable => fail(s"$what threw ${t.getClass.getName}: ${t.getMessage}")
    }

  private def rejects(what: String, f: => Any): Unit =
    assert(outcome(what, f).isLeft, s"$what accepted a malformed blob")

  private def blob(kind: Byte, coveringSize: Int, payloadBytes: Int)(
      fill: ByteBuffer => Unit): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + payloadBytes).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(kind).put(0.toByte).put(coveringSize.toByte).put(0.toByte)
    fill(buf)
    buf.array()
  }

  /** `depth` one-member collections around an empty point set. */
  private def nested(depth: Int): Array[Byte] =
    blob(GeoCodec.KindCollection, 0, 4 + (depth - 1) * 5 + 5) { buf =>
      buf.putInt(1)
      (1 until depth).foreach { _ => buf.put(GeoCodec.KindCollection).putInt(1) }
      buf.put(GeoCodec.KindPoint).putInt(0)
    }

  private val polygon = Wkt.read(
    "POLYGON ((0 0, 10 0, 10 10, 5 12, 0 10, -2 5, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))")

  /** A prepared polygon blob and the offset of its edge index. */
  private def prepared(): (Array[Byte], Int) = {
    val plain = GeoCodec.encode(polygon)
    val p = GeoCodec.prepare(plain)
    assert(GeoCodec.isPrepared(p) && p.length > plain.length)
    (p, plain.length)
  }

  private def withInt(bytes: Array[Byte], at: Int, v: Int): Array[Byte] = {
    val out = bytes.clone()
    ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN).putInt(at, v)
    out
  }

  test("shallow nesting decodes; 10k nested collections are a typed error") {
    assert(GeoCodec.decode(nested(32)).isEmpty)
    val deep = nested(10000)
    assert(deep.length > 50000)
    rejects("decode", GeoCodec.decode(deep))
    rejects("decodeShapes", GeoCodec.decodeShapes(deep))
  }

  test("a covering size past the end of the blob is a typed error") {
    val b = Array[Byte](GeoCodec.KindPoint, 0, 255.toByte, 0)
    rejects("decode", GeoCodec.decode(b))
    rejects("decodeShapes", GeoCodec.decodeShapes(b))
    rejects("coveringOf", GeoCodec.coveringOf(b))
    rejects("cellCenterIdOf", GeoCodec.cellCenterIdOf(b))
  }

  test("point counts past the data, or negative, are typed errors") {
    val tooMany = blob(GeoCodec.KindPoint, 0, 4 + 24) { buf =>
      buf.putInt(1000); buf.putDouble(1); buf.putDouble(0); buf.putDouble(0)
    }
    rejects("decode", GeoCodec.decode(tooMany))
    val negative = blob(GeoCodec.KindPoint, 0, 4)(_.putInt(-1))
    rejects("decode", GeoCodec.decode(negative))
    val negativeRing = blob(GeoCodec.KindPolygon, 0, 8) { buf => buf.putInt(1); buf.putInt(-5) }
    rejects("decode", GeoCodec.decode(negativeRing))
  }

  test("tag peeks on blobs shorter than the tag are typed errors") {
    for (n <- 0 until 4) {
      val b = new Array[Byte](n)
      rejects(s"isEmptyBlob($n bytes)", GeoCodec.isEmptyBlob(b))
      rejects(s"kindOf($n bytes)", GeoCodec.kindOf(b))
      rejects(s"decode($n bytes)", GeoCodec.decode(b))
    }
  }

  test("corrupt edge index headers are typed errors, not huge allocations") {
    val (p, at) = prepared()
    // index layout: level byte, edge count, bucket count, buckets
    for (nBuckets <- Seq((1 << 30) - 1, Int.MaxValue, -1))
      rejects(s"$nBuckets buckets", GeoCodec.decodeShapes(withInt(p, at + 5, nBuckets)))
    val badLevel = p.clone(); badLevel(at) = 99
    rejects("level 99", GeoCodec.decodeShapes(badLevel))
    // first bucket: cell id, ordinal count, then the first ordinal
    val nEdges = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN).getInt(at + 1)
    rejects("ordinal past nEdges", GeoCodec.decodeShapes(withInt(p, at + 9 + 12, nEdges + 5)))
    rejects("negative ordinal count", GeoCodec.decodeShapes(withInt(p, at + 9 + 8, -3)))
    // the untouched blob still decodes with its index attached
    assert(GeoCodec.decodeShapes(p).numEdges === nEdges)
  }

  private val samples: Seq[Geography] = Seq(
    "POINT (-64 45)", "MULTIPOINT ((-64 45), (-64 46), (10 20))",
    "LINESTRING (0 1, 2 3, 4 5)", "MULTILINESTRING ((0 0, 1 1), (5 5, 6 7, 8 8))",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))",
    "MULTIPOLYGON (((0 0, 1 0, 0 1, 0 0)), ((10 10, 11 10, 10 11, 10 10)))",
    "GEOMETRYCOLLECTION (POINT (0 1), LINESTRING (0 0, 1 1), " +
      "GEOMETRYCOLLECTION (POLYGON ((20 20, 21 20, 20 21, 20 20))))",
    "POINT EMPTY", "GEOMETRYCOLLECTION EMPTY").map(Wkt.read(_)) ++
    Seq(polygon, Geography.CellCenter(S2CellId.fromLonLatDegrees(-64, 45)))

  /** Encoded samples, unprepared and prepared. */
  private lazy val blobs: Seq[Array[Byte]] = {
    val plain = samples.map(GeoCodec.encode)
    val prep = plain.map(GeoCodec.prepare).filter(GeoCodec.isPrepared)
    assert(prep.nonEmpty)
    plain ++ prep
  }

  private def decodeAll(b: Array[Byte], what: String): Unit = {
    outcome(s"decodeShapes($what)", GeoCodec.decodeShapes(b))
    outcome(s"decode($what)", GeoCodec.decode(b))
    outcome(s"coveringOf($what)", GeoCodec.coveringOf(b))
  }

  test("every truncation prefix of an encoded sample decodes or is a typed error") {
    for ((b, k) <- blobs.zipWithIndex; n <- 0 until b.length)
      decodeAll(b.take(n), s"sample $k cut to $n of ${b.length} bytes")
  }

  test("seeded single-byte corruptions decode or are typed errors") {
    val rng = new scala.util.Random(20261017L)
    for ((b, k) <- blobs.zipWithIndex; _ <- 1 to 300) {
      val i = rng.nextInt(b.length)
      val v = rng.nextInt(256).toByte
      val c = b.clone(); c(i) = v
      decodeAll(c, s"sample $k with byte $i set to $v")
    }
  }

  test("a malformed blob in SQL fails the query with a DecodeException and leaves the session up") {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", false)
      .appName("graft-codec-hostile").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("OFF")
      graft.spark.S2Functions.register(spark)
      val hex = nested(10000).map(b => f"${b & 0xff}%02x").mkString
      val e = intercept[Throwable] {
        spark.sql(s"SELECT s2_area(unhex('$hex'))").collect()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
      assert(chain.exists(_.isInstanceOf[DecodeException]),
        s"no DecodeException in ${chain.map(_.getClass.getName)}")
      val next = spark.sql("SELECT s2_area(s2_geogfromtext('POINT (0 0)'))").collect()
      assert(next.head.getDouble(0) === 0.0)
    } finally spark.stop()
  }
}
