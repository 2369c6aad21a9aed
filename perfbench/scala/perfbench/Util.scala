package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

object Stats {
  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Process-level clocks: CPU time, GC time, heap. */
object Proc {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val mem = ManagementFactory.getMemoryMXBean

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of the JVM's Java threads: Spark's task, driver and
    * service threads. It leaves out the JIT compiler and GC threads, whose
    * warm-up work a short-lived JVM would otherwise count against the
    * program. */
  def cpuNanos: Long = threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum
  def gcMillis: Long = gcs.map(g => math.max(g.getCollectionTime, 0L)).sum
  def epochMs: Double = System.currentTimeMillis().toDouble
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Used heap (MB) after a full collection. The first collection lets
    * Spark's cleaner drop the broadcasts and shuffles a finished pass no
    * longer references; the second one then frees their blocks. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Phase {
  /** Runs `f` and prints how long it took. */
  def apply[T](what: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"setup $what: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }
}
