package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/**
 * Kernel of `text_normalize` / `doc_normalize`, ingest-time text
 * canonicalization (the CCNet/Gopher/RefinedWeb pre-dedup normalize: NFC
 * composition, C0/DEL control strip, whitespace-run collapse, trim). This
 * sits on the
 * DECLARED hot ingest surface — every document flows through it before
 * fingerprinting — and was the last ScalaUDF on such a path: the UDF
 * form pays a catalyst→Scala converter per row AND recompiled both
 * regex patterns per call (String.replaceAll). The [[NativeCall]]
 * runs it inside whole-stage codegen against precompiled patterns.
 * Semantics are byte-identical to `TextAnalysis.normalizeTextFn`
 * (PipelineOpsSpec pins the parity; DuckDB's nfc_normalize replays it in
 * the oracle).
 */
object TextNative {
  private val Ctrl =
    java.util.regex.Pattern.compile("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]")
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def normalize(s: UTF8String): UTF8String = {
    val n = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFC)
    val c = Ctrl.matcher(n).replaceAll("")
    UTF8String.fromString(Ws.matcher(c).replaceAll(" ").trim)
  }
}

object TextExpressions {

  /** Collision-proof internal name (same discipline as VecExpressions). */
  val InternalNormalize = "__graft_text_normalize"

  /** Claims `text_normalize`, its internal name and the TextAnalysis
    * SQL-surface alias `doc_normalize`, each only while it is free. */
  def ensureRegistered(spark: SparkSession): Unit =
    SqlFunctions.install(spark, SqlFunctions.text, replace = false)
}
