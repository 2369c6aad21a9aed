package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.llm.{Dedup, Sampling, TextAnalysis}
import graft.spark.Queries

object CorpusClean {
  val Steps: Seq[String] = Seq("llm.gopher", "llm.neardup", "llm.decontam", "llm.split_shuffle")
  /** The inventory entry whose DuckDB oracle replays this pipeline. */
  val OracleEntry = "l_pipeline2"
}

/** The corpus-cleaning pipeline through the public operators: Gopher
  * quality gate, verified MinHash near-dedup, 8-gram decontamination
  * against the even-id half, hash split, deterministic shuffle, per-split
  * stats. Each step materializes its output for the next one. */
final class CorpusClean(ctx: Ctx) extends Workload {
  import ctx.spark

  private val n = if (ctx.tiny) 150 else 400
  private val dir = ctx.path("corpus")
  private var docs: IndexedSeq[Inputs.Doc] = _
  private var ref: Table = _
  private var pending: () => Map[String, Table] = _
  private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  def inputRows: Long = n
  def sizes: Seq[(String, Long)] = Seq("documents" -> n.toLong, "words" -> docs.map(_.text.count(_ == ' ') + 1L).sum)
  def digest: String = f"${docs.map(_.text).hashCode}%08x"

  private def documents(): DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  private def gate(docs: DataFrame): DataFrame =
    docs.where(TextAnalysis.gopherSignals(col("text"), Inputs.GateWords).getField("passes"))
  private def nearDups(gated: DataFrame): DataFrame =
    Dedup.verifiedNearDupPairs(gated, "doc_id", "text", numHashes = 64, bands = 4,
      minJaccardPermille = 950)
  private def keep(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    cached += p
    p
  }

  def setup(): Unit = {
    docs = Inputs.documents(ctx.seed, n)
    Inputs.writeDocuments(spark, docs, s"$dir/documents.parquet", ctx.cores)
    val sql = Queries.all.find(_._1 == CorpusClean.OracleEntry).flatMap(_._3)
      .getOrElse(sys.error(s"${CorpusClean.OracleEntry} has no oracle"))
    pending = DuckDb.start(ctx, dir, Seq("pipeline" -> sql))
  }

  override def awaitReference(): Unit = ref = pending()("pipeline")

  def pass(): Seq[Step[_]] = {
    var gated: DataFrame = null
    var pairs: DataFrame = null
    var train: DataFrame = null
    var contam: DataFrame = null
    Seq(
      Step[Long]("llm.gopher", () => keep(gate(documents())),
        df => { gated = df; df.count() }, _ => None),
      Step[Long]("llm.neardup", () => keep(nearDups(gated)),
        df => { pairs = df; df.count() }, _ => None),
      Step[Long]("llm.decontam", () => {
        val kept = gated.join(pairs.select(col("id_b").as("__drop")).distinct(),
          col("doc_id") === col("__drop"), "left_anti")
        train = kept.where(col("doc_id") % 2 === 1)
        val ev = documents().where(col("doc_id") % 2 === 0)
        keep(TextAnalysis.contaminationPairs(train, ev, "doc_id", "text", n = 8))
      }, df => { contam = df; df.count() }, _ => None),
      Step[Table]("llm.split_shuffle", () => {
        val clean = train.join(contam.select(col("train_id").as("__cid")).distinct(),
          col("doc_id") === col("__cid"), "left_anti")
        val split = Sampling.assignSplit(clean, "doc_id", valPermille = 150, testPermille = 150)
        Sampling.shufflePositions(split, "doc_id", "ep0")
          .groupBy("split").agg(
            count(lit(1)).cast("long").as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text"))).cast("long").as("n_tokens"),
            min(col("pos")).cast("long").as("min_pos"))
          .orderBy("split")
      }, Table.collect, _.diff(ref)))
  }

  override def endPass(): Unit = {
    cached.foreach(_.unpersist(blocking = true))
    cached.clear()
  }

  /** Pair counts of one extra run of the gate and the dedup stages. */
  override def probes(): Seq[(String, Double)] = {
    val gated = gate(documents()).persist()
    try {
      val cands = Dedup.minhashCandidatePairs(gated, "doc_id", "text", numHashes = 64, bands = 4).count()
      val verified = nearDups(gated).count()
      val kept = gated.join(nearDups(gated).select(col("id_b").as("__drop")).distinct(),
        col("doc_id") === col("__drop"), "left_anti")
      val contam = TextAnalysis.contaminationPairs(kept.where(col("doc_id") % 2 === 1),
        documents().where(col("doc_id") % 2 === 0), "doc_id", "text", n = 8).count()
      Seq("llm.candidate_pairs" -> cands.toDouble, "llm.verified_pairs" -> verified.toDouble,
        "llm.contam_pairs" -> contam.toDouble,
        "llm.verify_yield" -> (if (cands == 0) 0.0 else verified.toDouble / cands))
    } finally gated.unpersist()
  }

  def corruptReference(): Unit =
    ref = ref.copy(rows = ref.rows.updated(0, ref.rows.head + "x"))
}
