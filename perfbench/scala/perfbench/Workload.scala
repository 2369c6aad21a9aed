package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run-wide settings. `workDir` holds the generated inputs and scratch
  * files of this run only. */
final case class Ctx(spark: SparkSession, seed: Long, tiny: Boolean, cores: Int,
                     workDir: String, python: String, oracleScript: String) {
  def path(name: String): String = new java.io.File(workDir, name).getPath
}

/** One operation of a pass: a graft call that builds a DataFrame, the
  * action that executes it, and the check of the action's result against
  * the reference answer computed during set-up (None = correct). */
final case class Step[R](name: String, build: () => DataFrame, act: DataFrame => R,
                         check: R => Option[String])

/** A single-thread timed loop over one public graft.core call: `sweep`
  * runs the call over fixed sampled inputs and returns a checksum; one
  * sweep processes `work` units (calls, or vertices for the per-vertex
  * metrics). */
final case class Kernel(metric: String, work: Long, sweep: () => Long)

trait Workload {
  /** Input rows behind `rows_per_s`. */
  def inputRows: Long
  /** Input sizes, printed at set-up. */
  def sizes: Seq[(String, Long)]
  /** Fingerprint of the generated inputs. */
  def digest: String
  /** Writes the inputs and computes (or starts computing) the reference
    * answers. */
  def setup(): Unit
  /** Waits for reference answers still being computed. */
  def awaitReference(): Unit = ()
  /** The steps of one pass, in order. */
  def pass(): Seq[Step[_]]
  /** Releases what a pass cached; timed as part of the pass. */
  def endPass(): Unit = ()
  /** Count metrics (per-layer) measured once, outside the timed passes. */
  def probes(): Seq[(String, Double)] = Nil
  def kernels(): Seq[Kernel] = Nil
  /** Self-check hook: alters one reference answer so that every pass
    * must report a failure. */
  def corruptReference(): Unit
}

/** Workloads run as one: their steps in sequence in every pass. */
final class Combined(parts: Workload*) extends Workload {
  def inputRows: Long = parts.map(_.inputRows).sum
  def sizes: Seq[(String, Long)] = parts.flatMap(_.sizes)
  def digest: String = parts.map(_.digest).mkString("-")
  def setup(): Unit = parts.foreach(_.setup())
  override def awaitReference(): Unit = parts.foreach(_.awaitReference())
  def pass(): Seq[Step[_]] = parts.flatMap(_.pass())
  override def endPass(): Unit = parts.foreach(_.endPass())
  override def probes(): Seq[(String, Double)] = parts.flatMap(_.probes())
  override def kernels(): Seq[Kernel] = parts.flatMap(_.kernels())
  def corruptReference(): Unit = parts.head.corruptReference()
}

object Workload {
  val names: Seq[String] = Seq("geo", "corpus_clean")

  /** `geo` runs the point-join steps and the polygon-ingest steps in one
    * pass: the two would not fit the run budget as separate workloads. */
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "geo" => new Combined(new GeoJoin(ctx), new GeoIngest(ctx))
    case "corpus_clean" => new CorpusClean(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
