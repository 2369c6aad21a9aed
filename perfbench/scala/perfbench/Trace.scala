package perfbench

import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._

/** One span of a traced pass. Levels nest run > step > job > stage; times
  * are epoch milliseconds; `parent` is -1 for the run span; the spans of
  * one pass share `runId`. */
final case class Span(id: Long, parent: Long, runId: String, level: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Span {
  /** Duration minus the part of it that its children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    s.durMs - covered
  }
}

/** Spark execution record of one traced pass: jobs, stages and task
  * totals, collected by a listener that lives only in this harness. */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, step: String, phase: String,
                       stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, startMs: Long, endMs: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val taskRunMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  var tasks = 0
  var failedTasks = 0
  var taskRunS = 0.0
  var taskCpuS = 0.0
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var scanB = 0L
  var writeB = 0L
  var peakExecMemB = 0L

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); taskRunMs.clear()
    tasks = 0; failedTasks = 0; taskRunS = 0; taskCpuS = 0
    shuffleReadB = 0; shuffleWriteB = 0; spillB = 0; scanB = 0; writeB = 0; peakExecMemB = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs += Job(e.jobId, e.time, -1L,
      p.flatMap(x => Option(x.getProperty(Trace.StepProp))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty(Trace.PhaseProp))).getOrElse(""),
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime)
      stages += Stage(i.stageId, i.attemptNumber(), a, b)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty[Long]) +=
        m.executorRunTime
      taskRunS += m.executorRunTime / 1e3
      taskCpuS += m.executorCpuTime / 1e9
      shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      spillB += m.diskBytesSpilled
      scanB += m.inputMetrics.bytesRead
      writeB += m.outputMetrics.bytesWritten
      peakExecMemB = math.max(peakExecMemB, m.peakExecutionMemory)
    }
  }

  /** Max over stages with at least two tasks of (max task time / median task time). */
  def skewMax: Double = synchronized {
    val ratios = taskRunMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(Stats.median(s.map(_.toDouble).toSeq), 1.0)
      s.last / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** In-memory span recorder for traced passes; spans are written out when
  * the run ends. */
final class Trace(val runId: String) {
  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  def newId(): Long = { nextId += 1; nextId }

  /** Spans of one pass: the run span, its step spans, and the jobs and
    * stages the listener saw, each job under the step that submitted it. */
  def recordPass(pass: Int, startMs: Double, endMs: Double,
                 steps: Seq[(String, Double, Double)], ex: ExecListener): Seq[Span] = ex.synchronized {
    val rid = s"$runId/pass$pass"
    val run = Span(newId(), -1, rid, "run", s"pass$pass", startMs, endMs)
    val stepSpans = steps.map { case (n, a, b) => Span(newId(), run.id, rid, "step", n, a, b) }
    val stepByName = stepSpans.map(s => s.name -> s).toMap
    val out = mutable.ArrayBuffer[Span](run) ++= stepSpans
    ex.jobs.filter(_.endMs >= 0).foreach { j =>
      val parent = stepByName.get(j.step).map(_.id).getOrElse(run.id)
      val js = Span(newId(), parent, rid, "job", s"job${j.id}:${j.phase}", j.startMs, j.endMs)
      out += js
      ex.stages.filter(s => j.stageIds.contains(s.id)).foreach { s =>
        out += Span(newId(), js.id, rid, "stage", s"stage${s.id}.${s.attempt}", s.startMs, s.endMs)
      }
    }
    spans ++= out
    out.toSeq
  }

  /** Self time per level (seconds) of one pass's spans. */
  def selfTimes(pass: Seq[Span]): Map[String, Double] = {
    val kids = pass.groupBy(_.parent)
    pass.groupBy(_.level).map { case (lvl, ss) =>
      lvl -> ss.map(s => Span.selfMs(s, kids.getOrElse(s.id, Nil))).sum / 1e3
    }
  }

  def writeJsonLines(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "run_id" -> s.runId,
        "level" -> s.level, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally w.close()
  }
}

object Trace {
  val StepProp = "perfbench.step"
  val PhaseProp = "perfbench.phase"

  def mark(sc: SparkContext, step: String, phase: String): Unit = {
    sc.setLocalProperty(StepProp, step)
    sc.setLocalProperty(PhaseProp, phase)
  }
}
