package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** WKB writer for the specs: `parts` are type words, counts and coordinate
  * tuples, in stream order, so a spec can write any dimension, byte order
  * or malformed count the library writer never emits. */
object WkbBytes {
  def wkb(order: ByteOrder)(parts: Any*): Array[Byte] = {
    val buf = ByteBuffer.allocate(1024).order(order)
    val byteOrder: Byte = if (order == ByteOrder.LITTLE_ENDIAN) 1 else 0
    parts.foreach {
      case ("type", t: Int) => buf.put(byteOrder); buf.putInt(t)
      case n: Int => buf.putInt(n)
      case c: Seq[_] => c.foreach(v => buf.putDouble(v.asInstanceOf[Double]))
    }
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }
  def le(parts: Any*): Array[Byte] = wkb(ByteOrder.LITTLE_ENDIAN)(parts: _*)
  def be(parts: Any*): Array[Byte] = wkb(ByteOrder.BIG_ENDIAN)(parts: _*)
  def t(code: Int): (String, Int) = ("type", code)
  def c(xs: Double*): Seq[Double] = xs
}
