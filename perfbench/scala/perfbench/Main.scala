package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload and one seed, as a closed loop of one
  * client that issues the next pass only when the previous one is done,
  * on local[cores]. Untraced runs report the end-to-end metrics; traced
  * runs alternate untraced and traced passes and report the per-layer
  * metrics. The result object goes to `--result`; the report to stdout. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        tiny: Boolean, corrupt: Boolean, cores: Int, workDir: String,
                        result: String, spans: String, python: String, oracle: String)

  /** Every per-layer metric. A metric of a layer that the workload does
    * not exercise (a step of another workload, a kernel of another input)
    * reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.pip_ns" -> "ns", "core.decode_shapes_ns" -> "ns", "core.dwithin_ns" -> "ns",
    "core.cell_from_lonlat_ns" -> "ns", "core.wkt_read_ns_per_vertex" -> "ns",
    "core.wkb_read_ns_per_vertex" -> "ns", "core.wkb_write_ns_per_vertex" -> "ns",
    "core.prepare_ns" -> "ns", "core.cover_ns" -> "ns", "core.area_ns" -> "ns") ++
    (GeoJoin.Steps ++ GeoIngest.Steps ++ CorpusClean.Steps).map(_ + "_s" -> "s") ++
    Seq("spark.plan_build_s" -> "s", "spark.join_candidate_rows" -> "count",
      "spark.refine_kept_ratio" -> "ratio",
      "llm.candidate_pairs" -> "count", "llm.verified_pairs" -> "count",
      "llm.contam_pairs" -> "count", "llm.verify_yield" -> "ratio",
      "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
      "exec.eager_jobs" -> "count", "exec.idle_core_frac" -> "ratio", "exec.task_s" -> "s",
      "exec.task_cpu_s" -> "s", "exec.skew_max" -> "ratio", "exec.shuffle_read_mb" -> "MB",
      "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.peak_exec_mem_mb" -> "MB",
      "exec.gc_s" -> "s", "exec.scan_mb" -> "MB", "exec.write_mb" -> "MB",
      "exec.failed_tasks" -> "count",
      "trace.self_run_s" -> "s", "trace.self_step_s" -> "s", "trace.self_job_s" -> "s",
      "trace.self_stage_s" -> "s", "trace_overhead_frac" -> "ratio")

  final case class StepRec(name: String, buildS: Double, totalS: Double, startMs: Double,
                           endMs: Double)
  final case class PassRec(wallS: Double, cpuS: Double, gcS: Double, heapMb: Double,
                           attempted: Int, failed: Int, steps: Seq[StepRec],
                           startMs: Double, endMs: Double)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      // status history the disabled UI would show; small, so that the heap
      // retained after a pass is the program's and not a growing log
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.local.dir", new java.io.File(o.workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(o.workDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // `all` is the build's class-loading run for the JVM's class-data archive
    try {
      if (o.workload == "all") Workload.names.foreach(w => run(o.copy(workload = w), spark))
      else run(o, spark)
    } finally spark.stop()
  }

  private def run(o: Opts, spark: SparkSession): Unit = {
    val ctx = Ctx(spark, o.seed, o.tiny, o.cores, o.workDir, o.python, o.oracle)
    val wl = Workload(o.workload, ctx)
    val sessionS = (Proc.epochMs - Proc.jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    wl.setup()
    val inputsS = (System.nanoTime() - t0) / 1e9
    println(s"inputs ${o.workload} seed=${o.seed} digest=${wl.digest} " +
      wl.sizes.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val sc = spark.sparkContext
    val t1 = System.nanoTime()
    // two warm-up passes: the JIT is still compiling through the second
    (1 to 2).foreach(_ => runPass(wl, spark, None, check = false))
    val warmS = (System.nanoTime() - t1) / 1e9
    wl.awaitReference()
    if (o.corrupt) wl.corruptReference()
    val setupS = (Proc.epochMs - Proc.jvmStartMs) / 1e3
    println(f"setup jvm+session=$sessionS%.3f s inputs=$inputsS%.3f s warm-up=$warmS%.3f s " +
      f"reference wait=${(System.nanoTime() - t1) / 1e9 - warmS}%.3f s")

    val listener = new ExecListener
    val trace = new Trace(s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
    val plain = mutable.ArrayBuffer.empty[PassRec]
    val traced = mutable.ArrayBuffer.empty[(PassRec, Map[String, Double])]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    while (i < (if (o.trace) 2 else 1) || System.nanoTime() < deadline) {
      if (o.trace && i % 2 == 1) {
        sc.addSparkListener(listener)
        val p = try runPass(wl, spark, Some(listener)) finally {
          PerfbenchBus.drain(sc)
          sc.removeSparkListener(listener)
        }
        val spans = trace.recordPass(i, p.startMs, p.endMs,
          p.steps.map(s => (s.name, s.startMs, s.endMs)), listener)
        traced += ((p, layerMetrics(o, wl, p, listener, trace.selfTimes(spans))))
      } else plain += runPass(wl, spark, None)
      i += 1
    }

    val all = plain.toSeq ++ traced.map(_._1)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) {
        val runS = Stats.median(plain.map(_.wallS).toSeq)
        Seq(("run_s", "s", runS), ("rows_per_s", "rows/s", wl.inputRows / runS),
          ("cpu_s", "s", Stats.median(plain.map(_.cpuS).toSeq)), ("setup_s", "s", setupS),
          ("retained_heap_mb", "MB", Stats.median(plain.map(_.heapMb).toSeq)))
      } else {
        val perPass = PerLayer.map { case (n, _) => n -> Stats.median(traced.map(_._2(n)).toSeq) }.toMap
        val overhead = Stats.median(traced.map(_._1.wallS).toSeq) /
          Stats.median(plain.map(_.wallS).toSeq) - 1.0
        val once = (wl.kernels().map(k => k.metric -> timeKernel(k)) ++ wl.probes()).toMap
        PerLayer.map { case (n, u) =>
          (n, u, once.getOrElse(n, if (n == "trace_overhead_frac") overhead else perPass(n)))
        }
      }

    report(o, plain.toSeq, traced.map(_._1).toSeq, attempted, failed)
    metrics.foreach { case (n, u, v) => println(s"metric $n = $v $u") }
    if (o.trace) trace.writeJsonLines(o.spans)
    val out = new java.io.PrintWriter(o.result, "UTF-8")
    try out.println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics.map { case (n, u, v) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
    finally out.close()
  }

  private def report(o: Opts, plain: Seq[PassRec], traced: Seq[PassRec], attempted: Int,
                     failed: Int): Unit = {
    def dist(name: String, xs: Seq[Double]): Unit =
      if (xs.nonEmpty) println(f"$name median=${Stats.median(xs)}%.4f " +
        f"q1=${Stats.quantile(xs, 0.25)}%.4f q3=${Stats.quantile(xs, 0.75)}%.4f n=${xs.size}")
    println(s"workload ${o.workload}: closed loop, 1 client, local[${o.cores}], " +
      s"${plain.size} untraced + ${traced.size} traced passes")
    dist("pass run_s", plain.map(_.wallS))
    println("pass run_s in order: " + plain.map(p => f"${p.wallS}%.3f").mkString(" "))
    dist("pass cpu_s", plain.map(_.cpuS))
    dist("traced pass run_s", traced.map(_.wallS))
    plain.flatMap(_.steps).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      dist(s"step $n", ss.map(_.totalS))
    }
    println(f"error_rate = ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.6f " +
      s"($failed failed of $attempted operations)")
  }

  /** Runs every step of one pass. Checks are made outside the timed
    * intervals; the pass's wall and CPU time are the sums over its steps
    * and its clean-up. */
  private def runPass(wl: Workload, spark: SparkSession, ex: Option[ExecListener],
                      check: Boolean = true): PassRec = {
    val sc = spark.sparkContext
    ex.foreach(_.reset())
    val steps = wl.pass()
    val gc0 = Proc.gcMillis
    val startMs = Proc.epochMs
    var wall = 0.0
    var cpu = 0L
    var failed = 0
    val recs = mutable.ArrayBuffer.empty[StepRec]

    def timed[T](f: => T): (T, Double) = {
      val c0 = Proc.cpuNanos
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      wall += dt
      cpu += Proc.cpuNanos - c0
      (r, dt)
    }

    def one[R](s: Step[R]): Unit = {
      val a = Proc.epochMs
      var buildS = 0.0
      var totalS = 0.0
      val verdict = try {
        Trace.mark(sc, s.name, "build")
        val (df, b) = timed(s.build())
        Trace.mark(sc, s.name, "action")
        val (r, x) = timed(s.act(df))
        buildS = b; totalS = b + x
        if (check) s.check(r) else None
      } catch {
        case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      recs += StepRec(s.name, buildS, totalS, a, a + totalS * 1e3)
      verdict.foreach { msg =>
        failed += 1
        println(s"FAILED ${s.name}: ${msg.take(500)}")
      }
    }

    steps.foreach(s => one(s))
    Trace.mark(sc, "end_pass", "action")
    try timed(wl.endPass()) catch {
      case NonFatal(e) => failed += 1; println(s"FAILED end of pass: ${e.getMessage}")
    }
    Trace.mark(sc, null, null)
    val endMs = Proc.epochMs
    val gcS = (Proc.gcMillis - gc0) / 1e3
    PassRec(wall, cpu / 1e9, gcS, Proc.retainedHeapMb(), steps.size, failed, recs.toSeq,
      startMs, endMs)
  }

  /** Per-layer values of one traced pass. */
  private def layerMetrics(o: Opts, wl: Workload, p: PassRec, ex: ExecListener,
                           self: Map[String, Double]): Map[String, Double] = ex.synchronized {
    val mb = 1024.0 * 1024.0
    val steps = p.steps.map(s => s"${s.name}_s" -> s.totalS).toMap
    val m = mutable.Map.empty[String, Double]
    PerLayer.foreach { case (n, _) => m(n) = 0.0 }
    m ++= steps
    m("spark.plan_build_s") = p.steps.map(_.buildS).sum
    m("exec.jobs") = ex.jobs.size
    m("exec.stages") = ex.stages.size
    m("exec.tasks") = ex.tasks
    m("exec.eager_jobs") = ex.jobs.count(_.phase == "build")
    m("exec.idle_core_frac") = 1.0 - ex.taskRunS / (o.cores * p.wallS)
    m("exec.task_s") = ex.taskRunS
    m("exec.task_cpu_s") = ex.taskCpuS
    m("exec.skew_max") = ex.skewMax
    m("exec.shuffle_read_mb") = ex.shuffleReadB / mb
    m("exec.shuffle_write_mb") = ex.shuffleWriteB / mb
    m("exec.spill_mb") = ex.spillB / mb
    m("exec.peak_exec_mem_mb") = ex.peakExecMemB / mb
    m("exec.gc_s") = p.gcS
    m("exec.scan_mb") = ex.scanB / mb
    m("exec.write_mb") = ex.writeB / mb
    m("exec.failed_tasks") = ex.failedTasks
    Seq("run", "step", "job", "stage").foreach(l => m(s"trace.self_${l}_s") = self.getOrElse(l, 0.0))
    m.toMap
  }

  /** ns per unit of work: a warm-up, then the median over timed sweeps of
    * at least 0.25 s in total, on the calling thread. */
  private def timeKernel(k: Kernel): Double = {
    var sink = 0L
    val warmEnd = System.nanoTime() + 100000000L
    while (System.nanoTime() < warmEnd) sink += k.sweep()
    val times = mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + 250000000L
    while (times.size < 5 || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      sink += k.sweep()
      times += (System.nanoTime() - t0).toDouble
    }
    // a use of the checksums, so that the JIT cannot drop the sweeps
    if (sink == 42L) println("")
    Stats.median(times.toSeq) / k.work
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      m.get("size").contains("tiny"), m.get("corrupt-reference").contains("1"),
      get("cores").toInt, get("work"), get("result"), get("spans"), get("python"), get("oracle"))
  }
}
