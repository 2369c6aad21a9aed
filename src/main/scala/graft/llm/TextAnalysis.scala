package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * token counting, quality scoring, language ID, document fingerprinting.
 *
 * Design rule: everything that CAN be a built-in Catalyst expression IS one
 * (codegen'd, pushdown-friendly); only the n-gram language model and the
 * rolling hash are Scala UDFs. All operators are per-row and stateless →
 * fully partition-parallel at 100 TB and usable in Structured Streaming.
 */
object TextAnalysis {

  // ----------------------------------------------------------- token count

  /** Whitespace token count, pure built-ins (codegen). */
  def tokenCount(text: Column): Column =
    when(org.apache.spark.sql.functions.length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Ingest-time text canonicalization — the step every web-scale corpus
    * runs before fingerprinting/dedup (CCNet, Gopher, RefinedWeb): Unicode
    * NFC composition (é as one codepoint whether the crawl delivered it
    * composed or decomposed, so fingerprints agree), C0/DEL control strip,
    * whitespace-run collapse to single spaces, trim. Stateless per row —
    * runs unchanged on a stream; both the NFC table and the regexes are
    * engine-portable (DuckDB's nfc_normalize replays it exactly). */
  val normalizeTextFn: String => String = (s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      .replaceAll("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
      .replaceAll("\\s+", " ").trim

  /** [[normalizeTextFn]] as a column — the `text_normalize` kernel call
    * (spark/SqlFunctions) inside whole-stage codegen: the declared hot
    * ingest surface should not ride a per-row ScalaUDF converter. Built DIRECTLY as an
    * expression (GraftShim), not through a session's function registry,
    * so the Column is session-free like the UDF form was — it analyzes
    * correctly in whatever session the frame belongs to. */
  def normalizeText(text: Column): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.spark.NativeCall("text_normalize", Seq(
        // unconditional cast: the child may be unresolved here, so its
        // type can't be inspected; string->string folds away at analysis
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.GraftShim.expression(text),
          org.apache.spark.sql.types.StringType))))

  /** BPE-ish subword count: letter runs, digits, and punctuation each count;
    * a long letter run costs ceil(len/4) tokens (crude BPE cost model). */
  def bpeishTokenCount(text: Column): Column = {
    val letters = regexp_replace(text, "[^A-Za-z]", "")
    val others = org.apache.spark.sql.functions.length(regexp_replace(text, "[A-Za-z\\s]", ""))
    ceil(org.apache.spark.sql.functions.length(letters).cast("double") / 4.0).cast("long") + others.cast("long")
  }

  // --------------------------------------------------------- quality score

  /** Heuristic quality features as a struct of ratios, pure built-ins. */
  def qualityFeatures(text: Column): Column = {
    val len = greatest(org.apache.spark.sql.functions.length(text), lit(1)).cast("double")
    val alpha = org.apache.spark.sql.functions.length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    val digits = org.apache.spark.sql.functions.length(regexp_replace(text, "[^0-9]", "")).cast("double")
    val punct = org.apache.spark.sql.functions.length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double")
    val spaces = org.apache.spark.sql.functions.length(regexp_replace(text, "[^ ]", "")).cast("double")
    struct(
      (alpha / len).as("alpha_ratio"),
      (digits / len).as("digit_ratio"),
      (punct / len).as("punct_ratio"),
      (spaces / len).as("space_ratio"),
      tokenCount(text).as("n_tokens"))
  }

  /** Scalar quality score in [0,1]: mostly-alphabetic, low-punct text with a
    * reasonable token count scores high. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val alphaTerm = f.getField("alpha_ratio")
    val punctPenalty = f.getField("punct_ratio") * 2.0
    val lenTerm = least(f.getField("n_tokens").cast("double") / 20.0, lit(1.0))
    greatest(least(alphaTerm - punctPenalty + lenTerm * 0.2, lit(1.0)), lit(0.0))
  }

  // ----------------------------------------------------------- gopher rules

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training Gopher",
    * arXiv:2112.11446, Table A1): the published heuristic filter suite for
    * web-scale training corpora. Pure built-in expressions — the whole
    * filter codegens, no UDF, so it runs at scan speed inside
    * WholeStageCodegen and streams with zero state.
    *
    * Signals (struct):
    *  - n_words, mean_word_len (rules: 50 <= n <= 100k; 3 <= mean <= 10)
    *  - symbol_ratio: ('#' + '...') occurrences per word (rule: <= 0.1)
    *  - bullet_frac / ellipsis_frac: lines starting with a bullet
    *    (-, *, •) / ending with an ellipsis (rules: <= 0.9 / <= 0.3)
    *  - alpha_word_frac: words containing an alphabetic char (rule: >= 0.8)
    *  - n_stop: distinct hits among the required stop words (rule: >= 2;
    *    the paper's English list is the default — corpora in another
    *    language or domain pass their own, the knob the paper itself
    *    turns per-language)
    *  - passes: every rule holds */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherSignals(text: Column,
                    requiredWords: Seq[String] = GopherStopWords): Column = {
    val t = coalesce(text, lit(""))
    val w = split(trim(t), "\\s+")
    val nWords = when(length(trim(t)) === 0, lit(0)).otherwise(size(w))
    val denom = greatest(nWords, lit(1)).cast("double")
    val sumLen = aggregate(w, lit(0L), (acc, x) => acc + length(x))
    val meanLen = sumLen.cast("double") / denom
    val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("double")
    val nEll = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("double")
    val symbolRatio = (nHash + nEll) / denom
    val lines = split(t, "\n")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = size(filter(lines, l => {
      val h = substring(ltrim(l), 1, 1)
      h === "-" || h === "*" || h === "•"
    })).cast("double") / nLines
    val ellipsisFrac = size(filter(lines, l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))).cast("double") / nLines
    val alphaFrac = size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") / denom
    val nStop = size(array_intersect(
      array_distinct(transform(w, x => lower(x))),
      array(requiredWords.map(lit): _*)))
    val passes = nWords.geq(50) && nWords.leq(100000) &&
      meanLen.geq(3.0) && meanLen.leq(10.0) &&
      symbolRatio.leq(0.1) && bulletFrac.leq(0.9) && ellipsisFrac.leq(0.3) &&
      alphaFrac.geq(0.8) && nStop.geq(2)
    struct(
      nWords.cast("long").as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(bulletFrac, 6).as("bullet_frac"),
      round(ellipsisFrac, 6).as("ellipsis_frac"),
      round(alphaFrac, 6).as("alpha_word_frac"),
      nStop.cast("long").as("n_stop"),
      passes.as("passes"))
  }

  // ----------------------------------------------------------- language id

  /** Tiny trigram+stopword language model: en/de/fr/es + CJK range for zh.
    * Profiles are hand-rolled from public stopword lists — deliberately
    * small; the operator shape (per-row classify, no state) is the point. */
  private val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
      "with", "as", "his", "on", "be", "at", "by", "had", "not", "are"),
    "de" -> Set("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht",
      "ein", "eine", "auf", "auch", "sich", "des", "dem", "als", "aber", "wir"),
    "fr" -> Set("le", "la", "les", "des", "est", "dans", "pour", "que", "une",
      "sur", "avec", "pas", "par", "plus", "mais", "nous", "vous", "ses", "cette"),
    "es" -> Set("el", "los", "las", "una", "por", "con", "para", "como", "más",
      "pero", "sus", "este", "esta", "entre", "cuando", "muy", "sin", "sobre", "ser"))

  private val langIdFn: String => String = (text: String) => {
    if (text == null || text.isEmpty) "und"
    else {
      var cjk = 0; var total = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (!Character.isWhitespace(c)) {
          total += 1
          val b = Character.UnicodeBlock.of(c)
          if (b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS ||
              b == Character.UnicodeBlock.HIRAGANA || b == Character.UnicodeBlock.KATAKANA ||
              b == Character.UnicodeBlock.HANGUL_SYLLABLES) cjk += 1
        }
        i += 1
      }
      if (total > 0 && cjk.toDouble / total > 0.25) "zh"
      else {
        val words = text.toLowerCase.split("\\W+")
        var best = "und"; var bestScore = 0
        for ((lang, sw) <- stopwords) {
          var s = 0
          var j = 0
          while (j < words.length) { if (sw.contains(words(j))) s += 1; j += 1 }
          if (s > bestScore) { bestScore = s; best = lang }
        }
        if (bestScore == 0) "und" else best
      }
    }
  }

  val langId: org.apache.spark.sql.expressions.UserDefinedFunction = udf(langIdFn)

  // ---------------------------------------------------------- fingerprint

  /** 64-bit rolling polynomial fingerprint of the normalized text
    * (lowercased, whitespace collapsed). Identical normalized content →
    * identical fingerprint; usable as a cheap partition/dedup key. */
  private val fingerprintFn: String => Long = (text: String) => {
    if (text == null) 0L
    else {
      val s = text.toLowerCase.trim.replaceAll("\\s+", " ")
      var h = 1125899906842597L // prime
      var i = 0
      while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
      h
    }
  }

  val fingerprint: org.apache.spark.sql.expressions.UserDefinedFunction = udf(fingerprintFn)

  // ------------------------------------------------------- decontamination

  /** Rolling word n-grams as strings, pure built-ins (codegen; no UDF).
    * NULL / empty / too-short texts all yield an empty array (the NULL
    * guard must come first: a null text makes the length/size comparisons
    * null, which `when` treats as false and falls through to the
    * otherwise branch). */
  def wordNgrams(text: Column, n: Int): Column = {
    val w = split(trim(text), "\\s+")
    when(text.isNull || length(trim(text)) === 0 || size(w) < n,
        array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(w) - (n - 1)), i =>
        array_join(slice(w, i, lit(n)), " ")))
  }

  /** Benchmark-contamination report: one row per (train doc, eval doc)
    * pair sharing at least one word n-gram, with the shared-gram count —
    * the standard "decontaminate training data against eval sets" check.
    *
    * Scale shape: both sides explode to (id, gram) and meet in ONE
    * equi-join on the gram string — never all-pairs. Eval sets are small,
    * so Catalyst broadcasts that side; at 100 TB the train side streams
    * through map-side broadcast probes with no shuffle at all. Drop
    * contaminated docs with an anti-join of `train` against the distinct
    * train_id of this result. */
  def contaminationPairs(train: DataFrame, eval: DataFrame, idCol: String,
                         textCol: String, n: Int = 8): DataFrame = {
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as), explode(wordNgrams(col(textCol), n)).as("g"))
    grams(train, "train_id").join(grams(eval, "eval_id"), "g")
      .groupBy("train_id", "eval_id")
      .agg(count_distinct(col("g")).as("n_shared"))
  }

  // --------------------------------------------------------- PII redaction

  /** Redaction patterns, applied IN ORDER on the progressively-redacted
    * text (email first so a phone-ish digit run inside an address can
    * never match; replacement tokens contain no digits, so later
    * patterns cannot re-match inside an earlier redaction). The regexes
    * stay inside the syntax subset Java regex and RE2 interpret
    * identically — leftmost match, greedy quantifiers, \b on [A-Za-z0-9_]
    * boundaries — so the operation is engine-portable (the DuckDB oracle
    * replays it with regexp_replace(..., 'g')). */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+?[0-9][0-9()\\-\\s]{6,}[0-9]", "<PHONE>"))

  /** PII-redacted text plus per-category match counts as a struct
    * `(clean, n_email, n_ssn, n_ip, n_phone)`. Pure built-in regex
    * expressions (codegen, stateless, streaming-safe): per-row cost only,
    * no shuffle — the shape that holds at 100 TB. */
  def redactPii(text: Column): Column = {
    val (cleanFinal, counts) = piiPatterns.foldLeft((text, Seq.empty[Column])) {
      case ((cur, acc), (cat, re, token)) =>
        val n = size(regexp_extract_all(cur, lit(re), lit(0))).cast("long").as(s"n_$cat")
        (regexp_replace(cur, re, token), acc :+ n)
    }
    struct(cleanFinal.as("clean") +: counts: _*)
  }

  // --------------------------------------------- repetition features (Gopher)

  /** Per-document repetition report in the Gopher-rules style: duplicate
    * line fraction, bullet/ellipsis line fractions, and the fraction of
    * all word 2-grams taken by the most frequent one. Line stats are a
    * single array projection (no shuffle); the top-2-gram stat explodes to
    * (doc, gram) and aggregates — one shuffle keyed by (doc, gram), fully
    * partition-parallel (never all-pairs, never one-task-per-doc).
    * Output: (id, n_lines, dup_line_frac, bullet_line_frac,
    * ellipsis_line_frac, top_bigram_frac). */
  def repetitionReport(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = filter(transform(split(col(textCol), "\n"), l => trim(l)),
      l => org.apache.spark.sql.functions.length(l) > 0)
    val nLines = size(lines).cast("long")
    val nDistinct = size(array_distinct(transform(lines, l => lower(l)))).cast("long")
    val nBullet = size(filter(lines, l =>
      l.startsWith("-") || l.startsWith("*") || l.startsWith("•"))).cast("long")
    val nEllipsis = size(filter(lines, l => l.endsWith("..."))).cast("long")
    val base = df.select(
      col(idCol),
      nLines.as("n_lines"),
      when(nLines > 0, lit(1.0) - nDistinct.cast("double") / nLines.cast("double"))
        .otherwise(lit(0.0)).as("dup_line_frac"),
      when(nLines > 0, nBullet.cast("double") / nLines.cast("double"))
        .otherwise(lit(0.0)).as("bullet_line_frac"),
      when(nLines > 0, nEllipsis.cast("double") / nLines.cast("double"))
        .otherwise(lit(0.0)).as("ellipsis_line_frac"))
    val grams = df.select(col(idCol), explode(wordNgrams(col(textCol), 2)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg((max(col("__n")).cast("double") / sum(col("__n")).cast("double"))
        .as("top_bigram_frac"))
    base.join(grams, Seq(idCol), "left")
      .withColumn("top_bigram_frac", coalesce(col("top_bigram_frac"), lit(0.0)))
  }

  // ------------------------------------------- vocabulary / unigram LM

  /** One row per whitespace token occurrence: (idCol, token). The single
    * explode behind both vocabulary building and unigram scoring; empty
    * and null texts contribute nothing. */
  private def tokenOccurrences(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("token"))

  /** Corpus vocabulary: the k most frequent whitespace tokens with their
    * counts, ties broken by token string ascending so the row set is
    * deterministic. One explode + one count shuffle keyed by token (partial
    * aggregation map-side), then a top-k sort over the vocabulary-sized
    * count table — never over the corpus. */
  def topTokens(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    tokenOccurrences(df, idCol, textCol)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Deterministic count-min bucket: row r's bucket for a token is the
    * first 7 hex chars of md5("r:token") mod w — md5 so a SQL engine
    * replays the sketch bit-for-bit (swap in xxhash64 in production if
    * the 4 digests/occurrence show up in a profile). */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private[llm] def cmsBucket(token: String, r: Int, w: Int): Int = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest((r + ":" + token).getBytes("UTF-8"))
    // first 7 hex chars = top 28 bits of the first 4 bytes
    val bits28 = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) >>> 4
    (bits28 % w).toInt
  }

  /** Count-min sketch of corpus token frequencies (Cormode & Muthu 2005):
    * a d×w long matrix where cell (r, b) totals every token hashing to
    * bucket b under row r's hash; a token's estimate is the MIN over its
    * d cells — always ≥ the true count, tight for heavy hitters.
    *
    * Scale shape: ONE `treeAggregate` pass over the exploded tokens —
    * each partition folds into its own d×w matrix (a few KB), partials
    * merge elementwise up a tree; token occurrences are never shuffled,
    * which is the whole point vs an exact groupBy at 100 TB. The result
    * is a driver-side bounded object, broadcastable for scoring. */
  def countMinSketch(df: DataFrame, idCol: String, textCol: String,
                     d: Int = 4, w: Int = 256): Array[Array[Long]] = {
    require(d > 0 && w > 0, s"countMinSketch: need d, w > 0, got d=$d w=$w")
    val spark = df.sparkSession
    import spark.implicits._
    tokenOccurrences(df, idCol, textCol).select("token").as[String].rdd
      .treeAggregate(Array.fill(d, w)(0L))(
        (m, tok) => {
          var r = 0
          while (r < d) { m(r)(cmsBucket(tok, r, w)) += 1; r += 1 }
          m
        },
        (a, b) => {
          var r = 0
          while (r < d) {
            var c = 0
            while (c < w) { a(r)(c) += b(r)(c); c += 1 }
            r += 1
          }
          a
        })
  }

  /** CMS point estimate: min over the token's d cells. */
  def cmsEstimate(sketch: Array[Array[Long]], token: String): Long = {
    val w = sketch(0).length
    var best = Long.MaxValue
    var r = 0
    while (r < sketch.length) {
      val v = sketch(r)(cmsBucket(token, r, w))
      if (v < best) best = v
      r += 1
    }
    best
  }

  /** Per-document mean unigram surprisal ("perplexity filtering" with the
    * corpus itself as the LM): each token costs ln(N / count(token)) nats,
    * where N is the corpus token total; a doc of common words scores low,
    * a doc of rare words scores high. Output: (idCol, n_tok, surprisal).
    *
    * Scale shape: token counts are one groupBy shuffle; scoring joins the
    * exploded corpus against the vocabulary-sized count table on the token
    * string — an equi-join AQE turns into a broadcast when the vocabulary
    * fits, and a plain hash join (still never all-pairs) when it does not.
    * The corpus total rides along as a one-row broadcast cross join. */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val occ = tokenOccurrences(df, idCol, textCol)
    val counts = occ.groupBy("token").agg(count(lit(1)).as("__tc"))
    val total = counts.agg(sum("__tc").as("__N"))
    occ.join(counts, "token")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        (org.apache.spark.sql.functions.log(col("__N").cast("double") / col("__tc").cast("double")))
          .as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tok"), avg(col("__nll")).as("surprisal"))
  }

  /**
   * Ingest-time unigram-LM quality gate — the streaming twin of
   * [[unigramSurprisal]] (CCNet's filter-at-ingest shape): the model is
   * the corpus's top-`maxVocab` token counts plus the total, collected
   * ONCE and broadcast (bounded by construction — the Zipf head carries
   * the mass; everything past it is OOV); the returned function maps a
   * text column to its Laplace-smoothed mean surprisal
   * `avg ln((N + V + 1) / (c_tok + 1))` as a fully STATELESS per-row
   * column that scores a Structured Streaming ingestion stream with
   * zero state and zero shuffle. When `maxVocab` covers the whole
   * vocabulary the formula is SQL-replayable exactly (the l_surprisal_gate
   * oracle); under truncation the semantics are "rare token = OOV",
   * which only sharpens the gate.
   */
  def unigramGateScore(corpus: DataFrame, textCol: String,
                       maxVocab: Int = 1 << 16): Column => Column = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val counts = corpus
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val n = counts.agg(sum("c")).as[Long].head()
    val top = counts.orderBy(col("c").desc, col("token").asc).limit(maxVocab)
      .as[(String, Long)].collect()
    val vocabB = spark.sparkContext.broadcast(top.toMap)
    val vSize = top.length
    val score = udf((t: String) => {
      if (t == null) null
      else {
        val toks = t.trim.split("\\s+").filter(_.nonEmpty)
        if (toks.isEmpty) null
        else {
          val m = vocabB.value
          var s = 0.0
          toks.foreach { tok =>
            s += math.log((n + vSize + 1).toDouble / (m.getOrElse(tok, 0L) + 1).toDouble)
          }
          java.lang.Double.valueOf(s / toks.length)
        }
      }
    })
    (c: Column) => score(c)
  }

  /**
   * Interpolated bigram language-model scoring — the CCNet-style
   * perplexity filter one order above [[unigramSurprisal]]:
   * `P(w_i | w_{i-1}) = λ·c(w_{i-1} w_i)/c(w_{i-1}) + (1−λ)·c(w_i)/N`,
   * with per-doc output (n_big bigram events, mean −ln P). λ is an
   * integer permille so both engines derive the identical double.
   *
   * Scale shape: the model is two count tables — unigrams
   * (vocabulary-bounded) and observed bigrams (Heaps-law sublinear) —
   * each built by ONE map-side partial-agg shuffle; scoring explodes a
   * doc's bigram events once and equi-joins the tables on their keys
   * (AQE broadcasts either side when it fits). No corpus-wide window,
   * nothing quadratic; the model tables are the bounded state a 100-TB
   * run would persist and reuse.
   */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String,
                      lambdaPermille: Int = 700): DataFrame = {
    require(lambdaPermille >= 0 && lambdaPermille <= 1000,
      "lambdaPermille must be in [0, 1000]")
    val lam = lambdaPermille / 1000.0
    val words = df.where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
    val events = words.where(size(col("__w")) >= 2)
      .select(col(idCol), explode(expr(
        """filter(
          |  transform(__w, (x, i) ->
          |    IF(i < size(__w) - 1, struct(x AS w1, __w[i + 1] AS w2),
          |       CAST(NULL AS STRUCT<w1: STRING, w2: STRING>))),
          |  p -> p IS NOT NULL)""".stripMargin)).as("__e"))
      .select(col(idCol), col("__e.w1").as("w1"), col("__e.w2").as("w2"))
    val toks = words.select(col(idCol), explode(col("__w")).as("token"))
    val uc = toks.groupBy("token").agg(count(lit(1)).as("__uc"))
    val bc = events.groupBy("w1", "w2").agg(count(lit(1)).as("__bc"))
    val total = toks.agg(sum(lit(1L)).as("__N"))
    events
      .join(bc, Seq("w1", "w2"))
      .join(uc.select(col("token").as("w1"), col("__uc").as("__c1")), Seq("w1"))
      .join(uc.select(col("token").as("w2"), col("__uc").as("__c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col(idCol),
        (-org.apache.spark.sql.functions.log(
          lit(lam) * col("__bc").cast("double") / col("__c1").cast("double") +
            lit(1.0 - lam) * col("__c2").cast("double") / col("__N").cast("double")))
          .as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_big"), avg(col("__nll")).as("surprisal"))
  }

  /**
   * Corpus snapshot diff — the curation-iteration primitive: classify
   * every doc id across two corpus versions as added / removed /
   * changed / unchanged by CONTENT fingerprint (md5 of the text), so a
   * re-crawled doc with identical bytes is "unchanged" regardless of
   * row order or partitioning. One full-outer equi-join on the id over
   * (id, md5) projections — the corpus text never shuffles.
   */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    // null text gets a sentinel hash so a present-but-null row is never
    // misread as an absent one by the outer-join null checks
    val o = oldDf.select(col(idCol).as("id"),
      coalesce(md5(col(textCol).cast("binary")), lit("__null__")).as("__oh"))
    val n = newDf.select(col(idCol).as("id"),
      coalesce(md5(col(textCol).cast("binary")), lit("__null__")).as("__nh"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("__oh").isNull, "added")
          .when(col("__nh").isNull, "removed")
          .when(col("__oh") =!= col("__nh"), "changed")
          .otherwise("unchanged").as("status"))
  }

  // ------------------------------------------------ tf-idf top terms

  /** Per-document top-k TF-IDF terms (sklearn-style smooth idf:
    * ln((1+N)/(1+df)) + 1, score = tf * idf). Ranking happens on the
    * score ROUNDED to 4 decimals with the term string as tiebreak, so
    * the selected rows are stable across engines despite last-ulp libm
    * differences in ln(). Output: (idCol, term, tf, score_r, rnk),
    * rnk 1..k.
    *
    * Scale shape: one explode feeding a (doc, term) count shuffle; doc
    * frequencies aggregate that table again by term (vocab-sized);
    * scores join back on the term key (AQE broadcasts the vocab side
    * when it fits); the top-k window partitions by doc — bounded by a
    * doc's distinct-term count, never the corpus. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    val tf = tokenOccurrences(df, idCol, textCol)
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val n = df.where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .agg(count(lit(1)).as("__n"))
    val docFreq = tf.groupBy("token").agg(count(lit(1)).as("__df"))
    val scored = tf.join(docFreq, "token").crossJoin(broadcast(n))
      .select(col(idCol), col("token").as("term"), col("tf"),
        round((col("tf").cast("double") *
          (org.apache.spark.sql.functions.log((lit(1) + col("__n")).cast("double") /
            (lit(1) + col("__df")).cast("double")) + 1.0)), 4).as("score_r"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score_r").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  // -------------------------------------- cross-source vocabulary overlap

  /** Pairwise source-similarity matrix over distinct word vocabularies:
    * for every source pair (a < b), the exact word-set jaccard — the
    * data-mixing diagnostic for "how much do my corpus components
    * overlap". Integer arithmetic until the final division.
    *
    * Scale shape: one (source, word) distinct shuffle; the pairwise
    * stage joins that table to itself on the WORD key, so fan-out per
    * word is bounded by the number of sources squared — fine whenever
    * sources are a bounded catalog (the data-mixing setting), never
    * all-pairs over rows. Per-source vocab sizes broadcast back. */
  def sourceVocabOverlap(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val sw = df.where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(sourceCol).as("src"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .distinct()
    val vocab = sw.groupBy("src").agg(count(lit(1)).as("nv"))
    sw.as("a").join(sw.as("b"),
        col("a.w") === col("b.w") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(vocab).as("va"), col("src_a") === col("va.src"))
      .join(broadcast(vocab).as("vb"), col("src_b") === col("vb.src"))
      .select(col("src_a"), col("src_b"), col("shared"),
        round(col("shared").cast("double") /
          (col("va.nv") + col("vb.nv") - col("shared")).cast("double"), 4).as("jaccard_r"))
  }

  // ------------------------------------- DSIR importance weighting

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169): score
    * each RAW document by the log-likelihood ratio of a hashed bag-of-words
    * model of the TARGET distribution vs the raw distribution — resampling
    * raw docs proportional to exp(weight) shifts the corpus toward the
    * target domain. Features are md5 hash buckets (the engine-portable
    * [[Sampling.hashBucket]] convention, so a DuckDB oracle replays the
    * identical bucketing); bucket probabilities are Laplace-smoothed
    * ((c+1)/(N+buckets)), so never-seen buckets stay finite. Rows whose
    * `isTarget` predicate holds define the target distribution and are not
    * scored. Output: (idCol, n_tok, weight) for every non-empty raw doc.
    *
    * Scale shape: exactly TWO passes over the corpus — one explode
    * feeding the bucket-count aggregation (map-side partials; at most
    * `buckets` rows survive), one for scoring against the broadcast
    * bucket→log-ratio table; the per-doc sum is one shuffle keyed by
    * idCol. The corpus totals come from an unpartitioned window over the
    * counts table — a single task, but over at most `buckets` rows by
    * construction, never the data. Nothing is ever all-pairs or
    * driver-side, and `buckets` bounds the model state regardless of
    * corpus size — the property that makes DSIR usable at 100 TB. */
  def importanceWeights(df: DataFrame, isTarget: Column, idCol: String,
                        textCol: String, buckets: Int = 1024): DataFrame = {
    val occ = df
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), isTarget.as("__t"),
        explode(split(trim(col(textCol)), "\\s+")).as("__w"))
      .select(col(idCol), col("__t"), Sampling.hashBucket(col("__w"), buckets).as("__b"))
    val counts = occ.groupBy("__b").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
      sum(when(col("__t"), 0L).otherwise(1L)).as("__cr"))
    val everything = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val ratios = counts.select(col("__b"), col("__ct"), col("__cr"),
        sum("__ct").over(everything).as("__nt"),
        sum("__cr").over(everything).as("__nr"))
      .select(col("__b"),
        (org.apache.spark.sql.functions.log((col("__ct") + 1).cast("double") /
            (col("__nt") + buckets).cast("double")) -
          org.apache.spark.sql.functions.log((col("__cr") + 1).cast("double") /
            (col("__nr") + buckets).cast("double"))).as("__lr"))
    occ.where(!col("__t"))
      .join(broadcast(ratios), "__b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tok"), sum(col("__lr")).as("weight"))
  }

  // ----------------------------------------------------- corpus data card

  /** Per-group corpus "data card": doc/token totals, language diversity,
    * char-length median, token-count p90, and mean quality score — the
    * summary table a dataset release ships with. One groupBy shuffle.
    *
    * `exact = true` uses Spark's exact `percentile` aggregate, which
    * buffers each group's values — right for oracle verification and
    * bounded groups, wrong for a trillion-row source. `exact = false`
    * switches to `approx_percentile` (t-digest-style sketch, constant
    * memory per group) — the 100-TB path; everything else is identical. */
  def corpusStats(df: DataFrame, groupCol: String, langCol: String,
                  textCol: String, charsCol: String,
                  exact: Boolean = true): DataFrame = {
    val pct: (String, Double) => Column =
      if (exact) (c, p) => expr(s"percentile($c, $p)")
      else (c, p) => expr(s"approx_percentile($c, $p)").cast("double")
    df.select(col(groupCol), col(langCol), col(charsCol),
        tokenCount(col(textCol)).cast("long").as("__n_tok"),
        qualityScore(col(textCol)).as("__q"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum("__n_tok").cast("long").as("n_tokens"),
        count_distinct(col(langCol)).as("n_langs"),
        round(pct(charsCol, 0.5), 4).as("median_chars"),
        round(pct("__n_tok", 0.9), 4).as("p90_tok"),
        round(avg("__q"), 4).as("mean_quality"))
  }

  /** Per-group quality-quantile gate — "drop each source's worst quartile":
    * keeps rows whose quality score is >= the group's p-quantile. Two
    * passes: a tiny per-group threshold table (one groupBy), broadcast
    * back over the corpus — the corpus itself never shuffles. Same
    * exact/approx percentile trade-off as [[corpusStats]]. */
  def filterByQualityQuantile(df: DataFrame, groupCol: String, textCol: String,
                              p: Double, exact: Boolean = true): DataFrame = {
    require(p > 0 && p < 1, "p must be in (0, 1)")
    val scored = df.withColumn("__q", qualityScore(col(textCol)))
    val pctExpr =
      if (exact) expr(s"percentile(__q, $p)")
      else expr(s"approx_percentile(__q, $p)").cast("double")
    val thresholds = scored.groupBy(col(groupCol))
      .agg(pctExpr.as("__thr"))
      .withColumnRenamed(groupCol, "__tgrp")
    scored
      .join(broadcast(thresholds), col(groupCol) === col("__tgrp"))
      .where(col("__q") >= col("__thr"))
      .drop("__q", "__thr", "__tgrp")
  }

  // ------------------------------------------------------- text chunking

  /** Fixed-size overlapping character chunks — the embedding/RAG prep
    * step: chunk i covers [i*(chunkChars-overlapChars),
    * ... + chunkChars). A doc of length <= chunkChars is one chunk;
    * otherwise enough chunks that the last window reaches the end. The
    * chunk count is pure INTEGER arithmetic (ceil via (x + step - 1) DIV
    * step), so any engine computes the identical chunk set. Empty docs
    * produce no rows. Per-row explode, no shuffle — streaming-safe. */
  def chunkText(df: DataFrame, idCol: String, textCol: String,
                chunkChars: Int, overlapChars: Int): DataFrame = {
    require(chunkChars > 0 && overlapChars >= 0 && overlapChars < chunkChars,
      "need 0 <= overlapChars < chunkChars")
    val step = chunkChars - overlapChars
    val len = length(col(textCol))
    val nChunks = when(len <= chunkChars, lit(1))
      .otherwise(expr(s"1 + (length($textCol) - $chunkChars + $step - 1) DIV $step"))
    df.where(col(textCol).isNotNull && len > 0)
      .select(col(idCol), col(textCol),
        explode(sequence(lit(0), nChunks.cast("int") - 1)).as("chunk_ix"))
      .select(col(idCol), col("chunk_ix"),
        expr(s"substring($textCol, chunk_ix * $step + 1, $chunkChars)").as("chunk"))
  }

  def register(spark: SparkSession): Unit = {
    spark.udf.register("doc_lang_id", langIdFn)
    spark.udf.register("doc_fingerprint", fingerprintFn)
    // doc_normalize is the text_normalize kernel call (not a ScalaUDF), so
    // SQL users get the same whole-stage-codegen plan as the Column API's
    // normalizeText
    graft.spark.TextExpressions.ensureRegistered(spark)
    ()
  }
}
