package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines, designed bucketed —
 * never all-pairs. Every candidate-pair generator is an equi-join on a
 * bucket key (hash group / LSH band / simhash value), so at 100 TB each
 * stage is one shuffle on a well-distributed key; the quadratic work is
 * confined to within-bucket comparisons.
 */
object Dedup {

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup stats + winners: one shuffle on md5(text).
    * keepFirst: minimal id per identical text survives. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.withColumn("__h", md5(col(textCol)))
      .groupBy("__h")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))
      .drop("__h")
  }

  /** Pairs of ids with byte-identical text (a < b), via hash-bucket
    * self-join — the oracle-checkable subset of any near-dup method. */
  def exactDupPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = df.select(col(idCol).as("id"), md5(col(textCol)).as("h"), col(textCol).as("t"))
    h.as("a").join(h.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          col("a.t") === col("b.t"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  // --------------------------------------------------------------- minhash

  /** Word-set MinHash signature: k hashes per document in one JVM pass
    * (double-hashing h1 + i*h2 over FNV-1a word hashes — one UDF call per
    * row beats k nested Catalyst lambda aggregates by an order of
    * magnitude at bench scale). */
  private def minhashSignatureFn(numHashes: Int): String => Array[Long] = (text: String) => {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (text != null) {
      val seen = new java.util.HashSet[String]()
      for (w <- text.trim.split("\\s+") if w.nonEmpty && seen.add(w)) {
        var h1 = 0xcbf29ce484222325L
        var i = 0
        while (i < w.length) { h1 ^= w.charAt(i); h1 *= 0x100000001b3L; i += 1 }
        // second independent hash: murmur-style finalizer of h1
        var h2 = h1
        h2 ^= h2 >>> 33; h2 *= 0xff51afd7ed558ccdL
        h2 ^= h2 >>> 33; h2 *= 0xc4ceb9fe1a85ec53L
        h2 ^= h2 >>> 33
        var k = 0
        var h = h1
        while (k < numHashes) {
          if (h < sig(k)) sig(k) = h
          h += h2
          k += 1
        }
      }
    }
    sig
  }

  def minhashSignature(textCol: Column, numHashes: Int): Column =
    udf(minhashSignatureFn(numHashes)).apply(textCol)

  /** Word-SHINGLE MinHash (the canonical near-dup pipeline: shingle ->
    * minhash -> band -> bucket-join): k hashes over the set of rolling
    * `shingleLen`-word windows, so local word reorderings change far more
    * shingles than single-word edits do — sharper than word-set MinHash
    * for document near-duplication. One UDF pass, rolling FNV combine. */
  private def minhashShingleFn(numHashes: Int, shingleLen: Int): String => Array[Long] =
    (text: String) => {
      val sig = Array.fill(numHashes)(Long.MaxValue)
      if (text != null) {
        val words = text.trim.split("\\s+").filter(_.nonEmpty)
        val n = words.length
        if (n > 0) {
          val wordHash = new Array[Long](n)
          var i = 0
          while (i < n) {
            var h = 0xcbf29ce484222325L
            val w = words(i)
            var j = 0
            while (j < w.length) { h ^= w.charAt(j); h *= 0x100000001b3L; j += 1 }
            wordHash(i) = h
            i += 1
          }
          val last = Math.max(0, n - shingleLen)
          i = 0
          while (i <= last) {
            // combine the window's word hashes order-sensitively
            var h1 = 0x9e3779b97f4a7c15L
            var j = 0
            val end = Math.min(i + shingleLen, n)
            var k = i
            while (k < end) { h1 = (h1 ^ wordHash(k)) * 0x100000001b3L; k += 1; j += 1 }
            var h2 = h1
            h2 ^= h2 >>> 33; h2 *= 0xff51afd7ed558ccdL
            h2 ^= h2 >>> 33; h2 *= 0xc4ceb9fe1a85ec53L
            h2 ^= h2 >>> 33
            var kk = 0
            var h = h1
            while (kk < numHashes) {
              if (h < sig(kk)) sig(kk) = h
              h += h2
              kk += 1
            }
            i += 1
          }
        }
      }
      sig
    }

  def minhashShingleSignature(textCol: Column, numHashes: Int, shingleLen: Int = 3): Column =
    udf(minhashShingleFn(numHashes, shingleLen)).apply(textCol)

  /** Shingle-MinHash LSH candidate pairs — same band-bucket join shape as
    * the word-set variant, over shingle signatures. */
  def minhashShingleCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                                   numHashes: Int = 64, bands: Int = 8,
                                   shingleLen: Int = 3): DataFrame = {
    bandedPairs(df.select(col(idCol).as("id"),
      minhashShingleSignature(col(textCol), numHashes, shingleLen).as("sig")), numHashes, bands)
  }

  /** Per-band bucket keys: split the signature into `bands` bands of
    * numHashes/bands rows each; band b's bucket is the 64-bit hash of its
    * sub-signature (xxhash64 hashes the array column directly — no string
    * materialization), seeded by b so equal sub-signatures in different
    * bands land in unrelated buckets. */
  def lshBandBuckets(sig: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(slice(sig, b * rows + 1, lit(rows)), b))
  }

  /** Band-bucket self-join with FIRST-COLLISION REPORTING: each side keeps
    * its full per-band bucket array, and a candidate pair is emitted only
    * from the first band whose buckets agree — every colliding pair
    * survives on exactly one band, so no distinct over the pair set. Same
    * multiplicity trick as the spatial join's smallest-common-cell
    * reporting: the dedupe becomes a per-row predicate instead of a
    * full shuffle of all candidate pairs.
    *
    * SIGNATURE-GROUP COLLAPSE (r21, optimization-guide §2.3/§8 "decide
    * with small rows, move the heavy work once"): docs with IDENTICAL
    * per-band key arrays — exact dups and word-set dups, the bulk of any
    * replica-heavy corpus — collide with each other in every band by
    * construction, and collide with any THIRD doc in exactly the same set
    * of bands (the band predicate reads only `bks`). The band self-join
    * therefore runs over ONE representative per distinct `bks`:
    *   - within-group pairs (all member pairs of a multi-member group)
    *     are generated directly from the group membership, split across
    *     tasks by a triangular salt when a group exceeds the hot-bucket
    *     cap ([[expandGroupPairs]]);
    *   - a rep-level band collision expands to all cross-group member
    *     pairs afterwards (two equi-joins on the group key).
    * The quadratic within-bucket work of the band join shrinks by the
    * square of the mean group size and the exploded band rows by the
    * collapse ratio; the emitted pair bag is IDENTICAL row-for-row
    * (measured r21 at sf10: 550k docs with signature groups up to ~1.5k
    * members, 597.7M candidate pairs — the rep join's buckets drop from
    * ~1.5k rows to a handful while the same 597.7M pairs stream out of
    * the expansion joins instead of a quadratic bucket self-join).
    *
    * Precondition: unique `id` per input row — output is bag-semantic (one
    * row per qualifying join match, no distinct), so a duplicated id emits
    * duplicate pair rows (the collapse preserves even that: a duplicated
    * id lands twice in its group's member list and expands twice).
    * Callers (Queries/Drive) count pair rows directly. */
  private def bandedPairs(sigs0: DataFrame, numHashes: Int, bands: Int,
                          maxBucket: Int = BucketPairs.Adaptive): DataFrame = {
    // compact: one row per doc (id + the bands-long bucket-key array, plus
    // an optional per-doc "__tag" payload carried through the expansion) —
    // this is what the adaptive path caches; the band explosion below is
    // pure column arithmetic re-derived per consumer
    val tagged = sigs0.columns.contains("__tag")
    val payload = if (tagged) Seq(col("__tag")) else Nil
    val compact0 = sigs0
      .select(Seq(col("id"), lshBandBuckets(col("sig"), numHashes, bands).as("bks")) ++
        payload: _*)
    def groupsOf(c: DataFrame): DataFrame =
      c.groupBy(col("bks")).agg(min(col("id")).as("gid"), count(lit(1)).as("gsz"))
    // unhinted on purpose (r21 A/B): at small SFs AQE broadcasts the
    // group side (no exchange of the doc rows at all — a forced
    // SHUFFLE_HASH read 1.22 -> 1.46 s at sf0.1); at sf10 the planner's
    // SMJ sorts are narrow 550k-row sides worth ~2 s inside a 26 s row —
    // not worth pinning the small-SF plan away from the broadcast
    def membersOf(c: DataFrame, g: DataFrame): DataFrame =
      c.join(g.select(col("bks"), col("gid"), col("gsz")), Seq("bks"))
        .select(Seq(col("gid"), col("id"), col("gsz")) ++ payload: _*)
    def run(groups: DataFrame, members: DataFrame): DataFrame = {
      val reps = groups.select(col("gid").as("id"), col("bks"))
      val exploded =
        reps.select(col("id"), col("bks"), posexplode(col("bks")).as(Seq("band", "bucket")))
      val firstMatch = firstAgreeingBand(col("a.bks"), col("b.bks"), bands)
      // the adaptive probe reads REP rows: one row per distinct signature
      // per band — cheaper to histogram and the right grain to bound the
      // rep join's per-task pair work (a salted bucket now holds many
      // distinct signatures, not a dup clique)
      val keys = Seq("band", "bucket")
      val s = BucketPairs.salt(exploded, exploded, "id", keys,
        BucketPairs.cap(exploded, keys, maxBucket))
      // shuffle-hash (not broadcast) self-join: unsalted, both sides
      // shuffle on the same (band, bucket) key from the same lineage, so
      // ReuseExchange (or the adaptive path's persist) computes the rep
      // stage ONCE and reads it twice — at any scale
      val gp = s.build.as("a").hint("shuffle_hash").join(s.probe.as("b").hint("shuffle_hash"),
          s.on("a", "b") && col("a.id") < col("b.id") && firstMatch === col("a.band") + 1)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      // maxBucket == 0 is the caller's "never salt" pin; keep the
      // expansion unsplit there too so the plan stays minimal
      expandGroupPairs(gp, members,
        splitCap = if (maxBucket < 0) BucketPairs.DefaultCap else maxBucket,
        tagged = tagged)
    }
    if (maxBucket < 0) {
      // adaptive default: persist the compact frame (the signature UDF
      // runs once), the group frame (consumed by the rep join and the
      // member attach) AND the member frame (consumed by all four
      // expansion join sides — uncached it re-executed the bks join four
      // times, r21 plan audit); all release when the first consuming
      // query completes (CacheLifecycle)
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val cc = compact0.persist(lvl)
      val gg = groupsOf(cc).persist(lvl)
      val mm = membersOf(cc, gg).persist(lvl)
      graft.spark.CacheLifecycle.releaseAfterUse(Seq(cc, gg, mm), run(gg, mm))
    } else {
      val gg = groupsOf(compact0)
      run(gg, membersOf(compact0, gg))
    }
  }

  /** Expand group-level pair decisions back to member pairs.
    *
    * `gp`: (id_a, id_b) group-REPRESENTATIVE pairs, id_a < id_b, distinct
    * groups only. `members`: (gid, id, gsz), one row per doc. Output: one
    * (id_a, id_b) row per member pair, id_a < id_b —
    *   - every cross-group pair {x ∈ X, y ∈ Y} for each gp row (X, Y),
    *     via two equi-joins on the group key (hot groups are a JOIN skew,
    *     which AQE's skew split divides; the output volume is the pair
    *     set itself, which no shape can shrink);
    *   - every within-group pair of each multi-member group, via a
    *     TRIANGULAR SALTED self-join: member m gets salt s(m) ∈ [0, ns)
    *     with ns = ceil(gsz / splitCap); the left side explodes to cells
    *     [s(m), ns) and joins the right side's own cell, so cell pair
    *     (i, j), i <= j, meets in exactly one task and a mega-group's
    *     quadratic expansion spreads over ~ns²/2 tasks instead of one
    *     (splitCap <= 0 disables the split: ns = 1). Equal salts keep the
    *     id order predicate, so each unordered pair survives exactly once. */
  private def expandGroupPairs(gp: DataFrame, members: DataFrame,
                               splitCap: Int, tagged: Boolean = false): DataFrame = {
    // tag columns ride along with their member id and swap with the
    // least/greatest orientation, so each output row's tag_a/tag_b always
    // belongs to id_a/id_b — attaching per-doc metadata here costs a few
    // bytes per MEMBER row instead of a join (and at scale: a sort) over
    // the emitted PAIR stream, which is orders of magnitude larger
    def oriented(ia: Column, ib: Column, ta: => Column, tb: => Column): Seq[Column] = {
      val base = Seq(least(ia, ib).as("id_a"), greatest(ia, ib).as("id_b"))
      if (!tagged) base
      else base ++ Seq(when(ia <= ib, ta).otherwise(tb).as("tag_a"),
        when(ia <= ib, tb).otherwise(ta).as("tag_b"))
    }
    val maCols = Seq(col("gid").as("id_a"), col("id").as("__ma")) ++
      (if (tagged) Seq(col("__tag").as("__ta")) else Nil)
    val mbCols = Seq(col("gid").as("id_b"), col("id").as("__mb")) ++
      (if (tagged) Seq(col("__tag").as("__tb")) else Nil)
    val cross = gp
      .join(members.select(maCols: _*).hint("shuffle_hash"), Seq("id_a"))
      .join(members.select(mbCols: _*).hint("shuffle_hash"), Seq("id_b"))
      .select(oriented(col("__ma"), col("__mb"), col("__ta"), col("__tb")): _*)
    // __x-prefixed names: "__salt" is the BAND-join salt marker the
    // governance tests grep for; the triangular expansion salt is a
    // different mechanism and must not trip that marker
    val multi = members.where(col("gsz") > 1)
    val cells = (if (splitCap <= 0) multi.withColumn("__xns", lit(1L))
                 else multi.withColumn("__xns",
                   ceil(col("gsz") / lit(splitCap.toDouble)).cast("long")))
      .withColumn("__xcell", pmod(xxhash64(col("id")), col("__xns")))
    val aSide = cells.withColumn("__xt", explode(sequence(col("__xcell"), col("__xns") - 1)))
    val within = aSide.as("a").hint("shuffle_hash")
      .join(cells.as("b").hint("shuffle_hash"),
        col("a.gid") === col("b.gid") && col("a.__xt") === col("b.__xcell") &&
          (col("a.__xcell") < col("b.__xcell") || col("a.id") < col("b.id")))
      .select(oriented(col("a.id"), col("b.id"), col("a.__tag"), col("b.__tag")): _*)
    within.unionAll(cross)
  }

  /**
   * MinHash-LSH candidate pairs: explode band keys, self-join per
   * (band, bucket), first-collision reporting (no pair-set distinct).
   * Identical word sets collide in every band (guaranteed); with 64
   * hashes / 8 bands (r=8), jaccard 0.9 pairs collide w.p. ~0.99 while
   * jaccard 0.5 pairs stay under ~3%.
   *
   * Hot (band, bucket)s are salted candidate-preservingly; `maxBucket`
   * follows [[BucketPairs]] (adaptive by default). The adaptive default
   * also holds a compact (id, band-keys) frame cached MEMORY_AND_DISK
   * (~(8 + 8*bands) bytes/doc) until the first query consuming the
   * result completes.
   */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 64, bands: Int = 8,
                            maxBucket: Int = BucketPairs.Adaptive): DataFrame = {
    bandedPairs(df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), numHashes).as("sig")), numHashes, bands, maxBucket)
  }

  /** [[minhashCandidatePairs]] with a per-doc TAG expression carried
    * through the pair expansion: output (id_a, id_b, tag_a, tag_b), same
    * pair bag, tags evaluated once per DOC. At corpus scale the candidate
    * pair stream is orders of magnitude larger than the doc set, so
    * joining per-doc metadata onto emitted pairs costs a shuffle — and
    * past the broadcast threshold, a SORT — of the pair stream (r19's
    * sf10 livelock was exactly that sort); carrying the tag through the
    * member expansion attaches it while each pair is being generated,
    * with zero exchanges over the pair stream (guide §8: audit how the
    * proxy's decisions get re-attached so the join does not sneak the
    * shuffle back in). */
  def minhashCandidatePairsTagged(df: DataFrame, idCol: String, textCol: String,
                                  tag: Column, numHashes: Int = 64,
                                  bands: Int = 8,
                                  maxBucket: Int = BucketPairs.Adaptive): DataFrame = {
    bandedPairs(df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), numHashes).as("sig"), tag.as("__tag")),
      numHashes, bands, maxBucket)
  }

  /** LSH candidate pairs VERIFIED by exact word-set Jaccard — the
    * standard two-stage near-dedup (candidate generation by banding,
    * then exact verification on the candidate set only): a pair
    * survives iff |A ∩ B| * 1000 >= minJaccardPermille * |A ∪ B| over
    * the docs' distinct word sets. The threshold is integer permille so
    * the cut is EXACT — no float boundary can disagree across engines.
    * Output: (id_a, id_b, n_common, n_union); jaccard = n_common/n_union.
    *
    * Scale shape: candidates come from the banded equi-join (never
    * all-pairs); the word arrays are then attached by two id equi-joins
    * and the intersect/union sizes are per-pair codegen array ops —
    * verification cost is O(candidates × doc length), the candidate set
    * being LSH-small is the whole point of the two-stage design. */
  def verifiedNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 64, bands: Int = 8,
                           minJaccardPermille: Int = 700): DataFrame = {
    require(minJaccardPermille >= 0 && minJaccardPermille <= 1000,
      s"minJaccardPermille must be in 0..1000, got $minJaccardPermille")
    // r21 (guide §8, same move as the l_dedup_minhash canon tag): the
    // word-set arrays ride THROUGH the candidate expansion as the per-doc
    // tag instead of being equi-joined onto the emitted pair stream — the
    // candidate stream is orders of magnitude larger than the doc set, so
    // the old two id-joins shuffled (and past the broadcast threshold,
    // SORTED) the pair stream twice; now the intersect/union sizes are
    // computed in the stage that GENERATES each pair and only survivors
    // leave it. Same pair bag, same arithmetic, zero pair-stream
    // exchanges.
    val words =
      array_distinct(filter(split(trim(col(textCol)), "\\s+"), w => w =!= ""))
    minhashCandidatePairsTagged(df, idCol, textCol, words, numHashes, bands)
      .withColumn("n_common", size(array_intersect(col("tag_a"), col("tag_b"))))
      .withColumn("n_union", size(array_union(col("tag_a"), col("tag_b"))))
      .where(col("n_common") * 1000 >= lit(minJaccardPermille) * col("n_union"))
      .select(col("id_a"), col("id_b"),
        col("n_common").cast("long").as("n_common"),
        col("n_union").cast("long").as("n_union"))
  }

  /** At-rest MinHash-LSH band index of a corpus: one row per (doc, band)
    * with the band's 64-bit bucket key — the persistent half of
    * incremental near-dedup. At 100 TB, write it once
    * `bucketBy(N, "band", "bucket").sortBy(...)` (saveAsTable): every
    * subsequent batch check joins against it with ONLY the batch side
    * shuffling (asserted in IncrementalDedupSpec), and appending a
    * digested batch is a union of its own bandIndex rows — the corpus
    * text is never re-read. */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                numHashes: Int = 64, bands: Int = 8): DataFrame =
    df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), numHashes).as("sig"))
      .select(col("id"),
        posexplode(lshBandBuckets(col("sig"), numHashes, bands)).as(Seq("band", "bucket")))

  /** Incremental near-dedup: check a NEW batch against an existing
    * [[bandIndex]] without touching the corpus text. Output, one row per
    * batch doc: (idCol, dup, dup_of) where dup_of is the smallest index
    * doc id sharing any band bucket (null → novel). Batch bands come
    * from the same signature chain, so an exact copy of an indexed doc
    * collides in every band by construction.
    *
    * Scale shape: one (band, bucket) equi-join — the index side reads
    * pre-bucketed storage with no exchange, the batch side shuffles its
    * own bands only — then a map-side partial min per batch doc. Cost
    * per batch is O(batch × collisions), independent of corpus size. */
  def nearDupAgainstIndex(batch: DataFrame, index: DataFrame, idCol: String,
                          textCol: String, numHashes: Int = 64,
                          bands: Int = 8): DataFrame = {
    val b = bandIndex(batch, idCol, textCol, numHashes, bands)
    val hits = b
      .join(index.select(col("id").as("__iid"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .groupBy(col("id")).agg(min(col("__iid")).as("dup_of"))
    batch.select(col(idCol))
      .join(hits.select(col("id").as(idCol), col("dup_of")), Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNotNull.as("dup"), col("dup_of"))
  }

  /** 1-based index of the FIRST band where both sides' bucket keys agree,
    * unrolled at plan time into a codegen CaseWhen chain; null when no
    * band agrees (the callers test `=== band + 1`, which null fails the
    * same way array_position's 0 did). The zip_with/array_position
    * spelling computed the identical value but higher-order functions
    * evaluate INTERPRETED — and this predicate runs once per CANDIDATE
    * PAIR inside the band join's condition, so the sf10 minhash join's
    * hot-bucket straggler tasks were interpreter-bound, not data-bound
    * (r19: jstack showed the last tasks inside ZipWith.eval for minutes). */
  private def firstAgreeingBand(a: Column, b: Column, bands: Int): Column =
    (0 until bands).foldRight(lit(null).cast("int")) { (i, acc) =>
      when(element_at(a, i + 1) === element_at(b, i + 1), lit(i + 1)).otherwise(acc)
    }

  /** Estimated jaccard from two signatures (fraction of equal components). */
  def minhashJaccardEstimate(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(sigA)

  /** Same estimate with the hash count known at plan time: a flat
    * codegen sum of `numHashes` equality terms instead of the public
    * overload's interpreted aggregate-over-zip_with (evaluated once per
    * emitted pair in the cross-corpus join). */
  private def jaccardEstimateUnrolled(sigA: Column, sigB: Column,
                                      numHashes: Int): Column =
    (0 until numHashes)
      .map(i => when(element_at(sigA, i + 1) === element_at(sigB, i + 1), 1).otherwise(0))
      .reduce(_ + _).cast("double") / numHashes

  /** CROSS-corpus MinHash-LSH candidate pairs — fuzzy decontamination:
    * surface train docs that are near-duplicates of eval/benchmark docs
    * even when the text was reordered or lightly edited (where the exact
    * n-gram `TextAnalysis.contaminationPairs` goes blind). Same banding
    * and first-collision reporting as [[minhashCandidatePairs]], but the
    * two sides are DIFFERENT corpora meeting in one (band, bucket)
    * equi-join — never all-pairs, and each qualifying pair surfaces on
    * exactly its first agreeing band, so there is no distinct over the
    * pair set. Output: (id_a from left, id_b from right, est_jaccard —
    * the signature-agreement estimate; identical word sets give exactly
    * 1.0 and collide in every band by construction).
    *
    * Scale shape: both sides shuffle once on (band, bucket); the eval
    * side is typically tiny, so AQE broadcast-joins it and the train
    * corpus never shuffles at all. */
  def minhashCrossPairs(left: DataFrame, right: DataFrame, idCol: String,
                        textCol: String, numHashes: Int = 64,
                        bands: Int = 8): DataFrame = {
    def sigs(df: DataFrame) = df
      .select(col(idCol).as("id"), minhashSignature(col(textCol), numHashes).as("sig"))
      .select(col("id"), col("sig"), lshBandBuckets(col("sig"), numHashes, bands).as("bks"))
      .select(col("id"), col("sig"), col("bks"),
        posexplode(col("bks")).as(Seq("band", "bucket")))
    val firstMatch = firstAgreeingBand(col("a.bks"), col("b.bks"), bands)
    sigs(left).as("a").join(sigs(right).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          firstMatch === col("a.band") + 1)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        jaccardEstimateUnrolled(col("a.sig"), col("b.sig"), numHashes).as("est_jaccard"))
  }

  // ------------------------------------------- duplicate-text spans

  /** Cross-document duplicate-text spans at word n-gram granularity —
    * the distributed shape of substring-level training-data dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499): an n-gram occurring in more
    * than one document marks a duplicated region, and overlapping hits
    * merge into maximal spans. Output, for every doc with at least one
    * hit: (idCol, n_tok, n_spans, covered) where `covered` counts the
    * tokens inside duplicated spans — all integer arithmetic, so the
    * result is engine-exact.
    *
    * Scale shape: the per-doc digest arrays from [[gramArrays]] feed a
    * map-side partial `groupBy(gh).agg(min(id), max(id))` (min != max IS
    * the "in >1 distinct doc" test — no count-distinct, no serializing
    * every occurrence of a hot gram into one reducer) and a SHUFFLE_HASH
    * join-back on the 16-byte digest; both sides re-explode the compact
    * per-doc arrays (cheap codegen Generate), so corpus-token-count rows
    * exist only inside the two pipelined stages, never at rest. See
    * [[dupGramHits]] for the gram-cache lifetime contract. The span
    * merge is per-doc array arithmetic over collected hit positions —
    * bounded by doc length, never cross-doc. No stage is all-pairs. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 8): DataFrame = {
    val grams = dupGramHits(df, idCol, textCol, n)
    // gaps between consecutive sorted hit positions drive the merge: a
    // gap > n opens a new span; a gap <= n extends the span by `gap`
    // tokens (the overlap with the previous gram hit is not re-counted)
    val spanStats = udf((ps: Seq[Int]) => {
      val a = ps.toArray
      java.util.Arrays.sort(a)
      var spans = 1L
      var covered = n.toLong
      var i = 1
      while (i < a.length) {
        val d = a(i) - a(i - 1)
        if (d > n) spans += 1
        covered += math.min(d, n).toLong
        i += 1
      }
      (spans, covered)
    })
    grams
      .groupBy(col(idCol))
      .agg(first(col("n_tok")).as("n_tok"), collect_list(col("pos")).as("__ps"))
      .select(col(idCol), col("n_tok"), spanStats(col("__ps")).as("__st"))
      .select(col(idCol), col("n_tok"),
        col("__st._1").as("n_spans"), col("__st._2").as("covered"))
  }

  /** Gram occurrences that are cross-document duplicates, with the
    * keeper id. Columns: (idCol, n_tok, pos, gh, __keep).
    *
    * Scale shape: the per-doc digest ARRAYS are persisted once
    * (memory-and-disk — doc-count rows, the MD5 pass never re-runs; the
    * cheap codegen explode re-runs from cache on each side), reduced by a
    * hash-aggregate `groupBy(gh).agg(min(id), max(id))` — which, unlike a
    * window over `partitionBy(gh)`, does MAP-SIDE partial aggregation, so
    * an ultra-common boilerplate gram contributes one (gh, min, max)
    * record per map task instead of serializing every occurrence into a
    * single reducer — and equi-joined back on the 16-byte digest, where
    * AQE's skew-join split can further divide any residual hot bucket.
    * min(id) != max(id) over the group IS the "more than one distinct
    * doc" test, and min(id) doubles as the keep-first owner.
    *
    * Cache lifetime: the per-doc gram cache is persisted ONLY when the
    * input is large enough for the saved second MD5 pass to beat the
    * cache-write cost (>= `spark.graft.dedup.gramCacheMinBytes`, default
    * 1 GiB — below that the two pipelined re-scans are cheaper than
    * materializing doc-count rows, the same small-input gate as
    * [[graft.llm.Ann.boundedClusters]]'s checkpointer), and it is
    * UNPERSISTED automatically when the first query consuming it
    * completes (success or failure), via a self-deregistering
    * QueryExecutionListener. No cached RDD outlives the consuming query;
    * repeated executions of the returned frame recompute without the
    * cache (correct, just un-shared). */
  private def dupGramHits(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
    // persist the COMPACT per-doc digest arrays (one row per doc; the MD5
    // pass runs once) and re-explode from cache on both sides — Generate
    // is cheap codegen, so the cache holds doc-count rows, not token-count.
    // Small inputs fan out first ([[graft.spark.FanOut]]): a single-row-
    // group file is one scan task, so without the fan-out BOTH gram-MD5
    // passes run on one core — the whole small-SF critical path.
    val src = graft.spark.FanOut.small(df)
    val docGrams = releasedAfterUse(gramArrays(src, idCol, textCol, n), src)
    if (src ne df) {
      // SMALL-INPUT SHAPE: one gh-partitioned exchange of the exploded
      // grams feeds BOTH the dup-owner aggregate and the join-back probe
      // (same plan subtree → Spark's ReuseExchange materializes it once),
      // so the gram MD5 pass runs ONCE and the join sees two sides
      // already co-partitioned on gh — zero further exchanges. The
      // subtrees are the same only if both consumers read the same
      // columns: column pruning would cut the aggregate's copy down to
      // (id, gh), and two differently pruned copies each ran the MD5 pass
      // and the shuffle. Hence the aggregate's always-true guard on n_tok
      // and pos (both are non-null, n_tok >= n > 0, pos >= 0). Strictly
      // less shuffle volume than the partial-agg form below (one gram
      // pass through the wire instead of gram partials + gram probes),
      // which only pays off while "all grams" is small — exactly the
      // fan-out gate that selected this branch.
      val grams = docGrams
        .select(col(idCol), col("n_tok"), posexplode(col("__ghs")).as(Seq("pos", "gh")))
        .repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col("gh"))
      val owner = when(col("n_tok") > 0 && col("pos") >= 0, col(idCol))
      val dupOwners = grams
        .groupBy(col("gh"))
        .agg(min(owner).as("__keep"), max(owner).as("__mx"))
        .where(col("__keep") =!= col("__mx"))
        .drop("__mx")
      grams.join(dupOwners.hint("SHUFFLE_HASH"), "gh")
        .select(col(idCol), col("n_tok"), col("pos"), col("gh"), col("__keep"))
    } else {
      val dupOwners = docGrams
        .select(col(idCol), explode(col("__ghs")).as("gh"))
        .groupBy(col("gh"))
        .agg(min(col(idCol)).as("__keep"), max(col(idCol)).as("__mx"))
        .where(col("__keep") =!= col("__mx"))
        .drop("__mx")
      // SHUFFLE_HASH: gh is a random digest, so sorting both sides for a
      // merge join buys nothing — hash-join on the shuffled partitions
      // (AQE may still downgrade to broadcast when the dup set is small,
      // and its skew-split applies to shuffled hash joins too)
      docGrams.select(col(idCol), col("n_tok"),
          posexplode(col("__ghs")).as(Seq("pos", "gh")))
        .join(dupOwners.hint("SHUFFLE_HASH"), "gh")
        .select(col(idCol), col("n_tok"), col("pos"), col("gh"), col("__keep"))
    }
  }

  /** Persist `frame` (MEMORY_AND_DISK) for intra-query branch reuse IF
    * `source` is big enough that the saved re-derivation beats the cache
    * write — gate `spark.graft.dedup.gramCacheMinBytes` (default 1 GiB)
    * against Catalyst's optimized-plan size estimate — and arm the shared
    * query-scoped release ([[graft.spark.CacheLifecycle.releaseAfterUse]])
    * so the cache unpersists as soon as the FIRST query consuming `frame`
    * completes, success or failure. Below the gate the frame passes
    * through untouched (the two pipelined re-scans cost less than
    * materializing the rows — the same small-input reasoning as
    * [[graft.llm.Ann.boundedClusters]]'s checkpoint gate). Either way, no
    * cached RDD outlives the consuming query. */
  private[llm] def releasedAfterUse(frame: DataFrame, source: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    val minBytes = spark.conf.getOption("spark.graft.dedup.gramCacheMinBytes")
      .map(_.toLong).getOrElse(1L << 30)
    val srcBytes =
      try source.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Throwable => BigInt(Long.MaxValue) }
    if (srcBytes < minBytes) return frame
    val cached = frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.spark.CacheLifecycle.releaseAfterUse(Seq(cached), cached)
  }

  /** Per-doc array of per-position word-n-gram MD5 digests, built in one
    * tight JVM pass per doc: (idCol, n_tok, __ghs ARRAY<BINARY(16)>).
    * The shuffle/join key downstream is the fixed-width 16-byte digest —
    * the full n-word gram string never leaves the map side (at corpus
    * scale the raw-string key is ~n× the corpus bytes of shuffle; 64-bit
    * keys would birthday-collide at trillions of grams, 128-bit does
    * not). */
  private def gramArrays(df: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame = {
    val gramHashArr = udf((text: String) => {
      val ws = text.trim.split("\\s+")
      if (ws.length < n) Array.empty[Array[Byte]]
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val space = Array(' '.toByte)
        Array.tabulate(ws.length - n + 1) { i =>
          md.reset()
          var j = i
          while (j < i + n) {
            if (j > i) md.update(space)
            md.update(ws(j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            j += 1
          }
          md.digest()
        }
      }
    })
    val ws = split(trim(col(textCol)), "\\s+")
    df.where(col(textCol).isNotNull && length(trim(col(textCol))) > 0 && size(ws) >= n)
      .select(col(idCol), size(ws).cast("long").as("n_tok"),
        gramHashArr(col(textCol)).as("__ghs"))
  }

  /** Exploded per-position view of [[gramArrays]]:
    * (idCol, n_tok, pos, gh BINARY(16)). */
  private def gramHashes(df: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame =
    gramArrays(df, idCol, textCol, n).select(col(idCol), col("n_tok"),
      posexplode(col("__ghs")).as(Seq("pos", "gh")))

  /** Excise cross-document duplicate spans (the payoff step of Lee et
    * al. 2021 substring dedup): every word position covered by an n-gram
    * that also occurs in another document is REMOVED, except in the one
    * keeper document (the min id among the gram's holders), which keeps
    * its text intact at those positions. Output, one row per input doc:
    * (idCol, n_tok_before, n_tok_after, text) where `text` is the
    * surviving words joined by single spaces (whitespace-normalised for
    * every doc, so the rewrite is well-defined and engine-exact).
    *
    * Scale shape: the same single explode + single digest-keyed window
    * pass as [[duplicateSpans]] (the keeper id is the window's min(id),
    * already on every row — no keeper join); the rewrite itself is
    * per-doc array arithmetic over collected removal positions —
    * bounded by doc length, never cross-doc. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 8): DataFrame = {
    val removals = dupGramHits(df, idCol, textCol, n)
      .where(col(idCol) =!= col("__keep"))
      .groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("__ps"))
    // drop every word index covered by any removal gram [pos, pos+n)
    val excise = udf((text: String, ps: Seq[Int]) => {
      val ws = if (text == null) Array.empty[String]
               else text.trim.split("\\s+").filter(_.nonEmpty)
      if (ps == null || ps.isEmpty) ws.mkString(" ")
      else {
        val drop = new Array[Boolean](ws.length)
        for (p <- ps) {
          var k = p
          while (k < math.min(p + n, ws.length)) { drop(k) = true; k += 1 }
        }
        val sb = new java.lang.StringBuilder
        var k = 0
        while (k < ws.length) {
          if (!drop(k)) { if (sb.length > 0) sb.append(' '); sb.append(ws(k)) }
          k += 1
        }
        sb.toString
      }
    })
    val nTokBefore = size(split(trim(coalesce(col(textCol), lit(""))), "\\s+"))
    df.join(removals, Seq(idCol), "left")
      .select(col(idCol),
        when(length(trim(coalesce(col(textCol), lit("")))) === 0, lit(0L))
          .otherwise(nTokBefore.cast("long")).as("n_tok_before"),
        excise(col(textCol), col("__ps")).as("text"))
      .withColumn("n_tok_after",
        when(length(col("text")) === 0, lit(0L))
          .otherwise(size(split(col("text"), " ")).cast("long")))
      .select(col(idCol), col("n_tok_before"), col("n_tok_after"), col("text"))
  }

  /** Bloom-filter decontamination — the MAP-SIDE-ONLY shape for "flag
    * training docs sharing any n-gram with the eval/benchmark suite" at
    * corpus scale: the eval side's gram-digest bit positions (four 32-bit
    * words sliced from each gram's MD5, mod `bits`) build one driver-side
    * bitset (bits/8 bytes — 512 KB at the 2^22 floor), broadcast to
    * every task; the training corpus is then scanned ONCE with zero
    * shuffle of corpus-scale data — only flagged grams (eval-set-sized at
    * most, plus deterministic false positives) reach the per-doc count
    * aggregate. Contrast with [[minhashCrossPairs]]/`contaminationPairs`,
    * which shuffle train-side grams into a join: at 100 TB train / small
    * eval, the Bloom broadcast is the only shape that never moves the
    * corpus. False positives are a deterministic function of (bits,
    * corpus), so an oracle replaying the same slicing agrees exactly.
    * Output: (idCol, n_flagged) per train doc with >= 1 flagged DISTINCT
    * gram.
    *
    * Driver-side bound: the collected distinct position set is at most
    * 4x the eval gram count (and at most `bits`); eval suites are small
    * by definition. `bits <= 0` (the default) AUTO-SIZES the bitset from
    * the observed eval gram count via [[autoBloomBits]] (2^22 floor);
    * pass an explicit power of two to pin the layout. */
  def bloomDecontam(train: DataFrame, ev: DataFrame, idCol: String,
                    textCol: String, n: Int = 8,
                    bits: Int = 0): DataFrame = {
    val (bsB, _, b) = evalBitset(ev, idCol, textCol, n, bits)
    val allSet = udf((gh: Array[Byte]) => {
      val bs = bsB.value
      var all = true
      var k = 0
      while (k < 4 && all) { all = bs.get((digestWord(gh, k) % b).toInt); k += 1 }
      all
    })
    // per-doc distinct via collect_set: one exchange on idCol (map-side
    // partial sets merge) instead of count_distinct's two-round shuffle;
    // the sets are bounded by the doc's own flagged-gram count — the same
    // per-doc bound every *_spans collect_list already lives under. The
    // digest is hex-encoded first: set membership over raw BINARY would
    // hash the byte ARRAY by reference, not by value — silent non-dedup.
    gramHashes(graft.spark.FanOut.small(train), idCol, textCol, n)
      .where(allSet(col("gh")))
      .groupBy(col(idCol))
      .agg(size(collect_set(hex(col("gh")))).cast("long").as("n_flagged"))
  }

  /** Bloom sizing for the decontamination bitset: the smallest power of
    * two >= 40x the eval gram count, floored at 2^22 (512 KB) and capped
    * at 2^30. Each gram sets 4 positions, so occupancy stays <= 4g/bits
    * <= 0.1 and the false-positive rate (all 4 probes set) is bounded by
    * ~0.1^4 = 1e-4 — derived purely from the observed gram count, so the
    * layout is a deterministic function of the eval set. */
  def autoBloomBits(evalGrams: Long, floor: Int = 1 << 22): Int = {
    require(floor > 0 && (floor & (floor - 1)) == 0, "floor must be a power of two")
    val need = 40L * math.max(evalGrams, 0L)
    var b = floor.toLong
    while (b < need && b < (1L << 30)) b <<= 1
    b.toInt
  }

  /** Per-row contamination flag backed by the same eval-side Bloom bitset
    * as [[bloomDecontam]]: true iff ANY word n-gram of the text is
    * Bloom-positive. The whole test runs inside one UDF call per row
    * (grams digested and short-circuit-checked in a single JVM pass, no
    * explode), so the returned Column is fully STATELESS and composes
    * unchanged with Structured Streaming — filter an ingestion stream
    * against a benchmark suite with zero streaming state and zero
    * shuffle. */
  def bloomContaminationFlag(ev: DataFrame, idCol: String, textCol: String,
                             n: Int = 8, bits: Int = 0): Column = {
    val (bsB, nB, b) = evalBitset(ev, idCol, textCol, n, bits)
    val flag = udf((text: String) => {
      if (text == null) false
      else {
        val ws = text.trim.split("\\s+")
        if (ws.length < nB) false
        else {
          val bs = bsB.value
          val md = java.security.MessageDigest.getInstance("MD5")
          val space = Array(' '.toByte)
          var i = 0
          var hit = false
          while (i <= ws.length - nB && !hit) {
            md.reset()
            var j = i
            while (j < i + nB) {
              if (j > i) md.update(space)
              md.update(ws(j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
              j += 1
            }
            val gh = md.digest()
            var all = true
            var k = 0
            while (k < 4 && all) { all = bs.get((digestWord(gh, k) % b).toInt); k += 1 }
            hit = all
            i += 1
          }
          hit
        }
      }
    })
    flag(col(textCol))
  }

  /** The digest's k-th big-endian 32-bit word — identical to the oracle's
    * hex-substring parse of md5(gram). */
  @inline private def digestWord(gh: Array[Byte], k: Int): Long = {
    val o = k * 4
    ((gh(o) & 0xffL) << 24) | ((gh(o + 1) & 0xffL) << 16) |
      ((gh(o + 2) & 0xffL) << 8) | (gh(o + 3) & 0xffL)
  }

  /** Build the broadcast Bloom bitset of the eval side's gram positions:
    * the raw 16-byte digests are collected straight from the map stage
    * (no distinct exchange — the driver bitset IS the dedup; the collect
    * is eval-gram-count x 16 B, smaller than the old position arrays),
    * the bitset size is the caller's power of two or, for `bits <= 0`,
    * [[autoBloomBits]] of the observed gram count. Returns
    * (broadcast bitset, n, bits used). */
  private def evalBitset(ev: DataFrame, idCol: String, textCol: String,
                         n: Int, bits: Int)
      : (org.apache.spark.broadcast.Broadcast[java.util.BitSet], Int, Int) = {
    val spark = ev.sparkSession
    import spark.implicits._
    val src = graft.spark.FanOut.small(ev)
    // SINGLE-PASS small-eval path (r21, guide §1.2/§2.4): auto-sizing
    // needs the gram count before the bitset layout exists, which naively
    // costs a separate split+sum sizing job over the eval text PLUS the
    // distributed build's tree-reduce stages. When the eval side is small
    // enough to have needed the synthetic fan-out anyway (the same
    // FanOut.isSmall gate — one definition of "small input"), its packed
    // probe words are collect-sized by construction: 16 B per gram, i.e.
    // no larger than the text the sizing job would have re-scanned. So
    // run the MD5 kernel ONCE, ship one packed long-array per partition,
    // and derive count -> bits -> bitset on the driver in the same job.
    // The gram stream enumerates every occurrence (gramArrays emits
    // n_tok - n + 1 digests per doc under the identical filter), so the
    // derived count — and therefore autoBloomBits and every downstream
    // bit — is bit-identical to the sizing job it replaces.
    // escape hatch + in-process A/B lever; a malformed value falls back
    // to the default, same contract as every other graft tuning conf
    val singlePass =
      try spark.conf.getOption("spark.graft.bloom.singlePass")
        .forall(_.toBoolean)
      catch { case scala.util.control.NonFatal(_) => true }
    if (bits <= 0 && singlePass && graft.spark.FanOut.isSmall(ev)) {
      val packed = gramHashes(src, idCol, textCol, n)
        .select(col("gh").as[Array[Byte]]).rdd
        .mapPartitions { it =>
          val buf = scala.collection.mutable.ArrayBuilder.make[Long]
          it.foreach { gh =>
            buf += (digestWord(gh, 0) << 32) | digestWord(gh, 1)
            buf += (digestWord(gh, 2) << 32) | digestWord(gh, 3)
          }
          Iterator.single(buf.result())
        }.collect()
      var cnt = 0L
      packed.foreach(a => cnt += a.length / 2)
      val b = autoBloomBits(cnt)
      val bitset = new java.util.BitSet(b)
      packed.foreach { arr =>
        var i = 0
        while (i < arr.length) {
          bitset.set(((arr(i) >>> 32) % b).toInt)
          bitset.set(((arr(i) & 0xffffffffL) % b).toInt)
          i += 1
        }
      }
      return (spark.sparkContext.broadcast(bitset), n, b)
    }
    // auto-sizing needs the gram count BEFORE any digest exists; it is
    // pure token arithmetic (sum over docs of n_tok - n + 1), so the
    // sizing job never runs the MD5 kernel. It counts the RAW eval side,
    // not the fanned-out `src` (r21): the fan-out exchange exists to
    // spread the MD5 kernel of the BUILD pass across cores, while the
    // sizing scan is a split+sum whose round-robin shuffle was pure
    // overhead — one whole exchange off a floor row's job chain.
    val b =
      if (bits > 0) bits
      else {
        val ws = split(trim(col(textCol)), "\\s+")
        val cnt = ev
          .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0 && size(ws) >= n)
          .select(sum((size(ws) - n + 1).cast("long")))
          .as[Option[Long]].head().getOrElse(0L)
        autoBloomBits(cnt)
      }
    require((b & (b - 1)) == 0, "bits must be a power of two")
    // the bitset builds DISTRIBUTED: each partition ORs its grams into a
    // local word array and the driver merges one array per partition —
    // replacing the old collect() of every raw digest, whose row-at-a-time
    // driver deserialization was the single largest slice of the whole
    // operator at bench SFs (and grows with the eval suite, while the
    // merged arrays are a fixed b/8 bytes x partition count).
    // MEMORY PRODUCT (ADVICE r18): each partition's zero value and each
    // combine payload is b/8 bytes — 128 MB at the 2^30-bit cap — so a
    // many-partition eval side multiplied against a large explicit `bits`
    // pressures executor memory at the combine level. The tree DEPTH
    // therefore grows with the array size (depth 3 past a 16 MB array),
    // bounding any single combiner's fan-in; the auto-sized path stays at
    // the cheap default (auto bits track the eval-suite gram count, which
    // is small by contract — the eval side broadcasts elsewhere too).
    val words = b / 64
    val depth = if (words >= (1 << 21)) 3 else 2 // >= 16 MB per payload
    // mapPartitions + treeReduce, NOT treeAggregate (r21): treeAggregate
    // serializes its ZERO VALUE into every task closure — at the 2^28/2^30
    // bit sizes the sf3/sf10 eval suites auto-derive, that was a 32-128 MB
    // task binary broadcast per stage (observed in the r21 window log).
    // Each partition now allocates its own local array; only the genuine
    // payload (one b/8-byte array per partition, depth-bounded fan-in)
    // crosses task boundaries.
    val rdd = gramHashes(src, idCol, textCol, n)
      .select(col("gh").as[Array[Byte]]).rdd
      .mapPartitions { it =>
        val acc = new Array[Long](words)
        it.foreach { gh =>
          var k = 0
          while (k < 4) {
            val pos = (digestWord(gh, k) % b).toInt
            acc(pos >> 6) |= 1L << (pos & 63)
            k += 1
          }
        }
        Iterator.single(acc)
      }
    val packed =
      if (rdd.getNumPartitions == 0) new Array[Long](words)
      else rdd.treeReduce(
        (a, c) => { var i = 0; while (i < words) { a(i) |= c(i); i += 1 }; a },
        depth = depth)
    val bitset = java.util.BitSet.valueOf(packed)
    (spark.sparkContext.broadcast(bitset), n, b)
  }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash over word unigrams (UDF: per-word 64-bit FNV hash,
    * per-bit vote, sign → bit — word order does not matter). */
  private val simhashFn: String => Long = (text: String) => {
    if (text == null) 0L
    else {
      val votes = new Array[Int](64)
      for (w <- text.trim.split("\\s+") if w.nonEmpty) {
        // FNV-1a 64-bit
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < w.length) { h ^= w.charAt(i); h *= 0x100000001b3L; i += 1 }
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    }
  }

  val simhash: org.apache.spark.sql.expressions.UserDefinedFunction = udf(simhashFn)

  /** SimHash candidate pairs: bucket-join on the four 16-bit sub-blocks
    * (any pair within hamming distance 3 shares at least one exact 16-bit
    * block — the classic block-permutation LSH). A pair sharing several
    * blocks is emitted only from the FIRST equal block — the first-
    * collision reporting trick again, derived from the two simhash values
    * already carried, so no distinct over the pair set. Hot
    * (blk, bucket)s — e.g. empty docs hashing to 0 — are salted
    * candidate-preservingly; `maxBucket` follows [[BucketPairs]]
    * (adaptive by default, which also holds the compact (id, sh) frame,
    * 16 bytes/doc, cached until the first consuming query completes). */
  def simhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            maxBucket: Int = BucketPairs.Adaptive): DataFrame = {
    // compact one-row-per-doc frame (id, sh) — what the adaptive path
    // caches (16 B/doc); the block explosion is re-derived per consumer
    val sh0 = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
    val sh = if (maxBucket < 0)
      sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else sh0
    val blocks = sh.select(col("id"), col("sh"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("blk"),
            shiftright(col("sh"), b * 16).bitwiseAND(lit(0xffffL)).as("bucket"))): _*)).as("bk"))
      .select(col("id"), col("sh"), col("bk.blk").as("blk"), col("bk.bucket").as("bucket"))
    def blockEq(b: Int): Column =
      shiftright(col("a.sh"), b * 16).bitwiseAND(lit(0xffffL)) ===
        shiftright(col("b.sh"), b * 16).bitwiseAND(lit(0xffffL))
    val firstBlk = when(blockEq(0), 0).when(blockEq(1), 1).when(blockEq(2), 2).otherwise(3)
    val keys = Seq("blk", "bucket")
    val s = BucketPairs.salt(blocks, blocks, "id", keys, BucketPairs.cap(blocks, keys, maxBucket))
    // same ReuseExchange/persist shape as the minhash self-join: the
    // simhash stage computes once
    val out = s.build.as("a").hint("shuffle_hash").join(s.probe.as("b").hint("shuffle_hash"),
        s.on("a", "b") && col("a.id") < col("b.id") && col("a.blk") === firstBlk)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
    graft.spark.CacheLifecycle.releaseAfterUse(if (maxBucket < 0) Seq(sh) else Nil, out)
  }

  /** Hamming distance between two 64-bit simhashes (built-in bit_count). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------------------- n-gram jaccard

  /** Character n-gram set jaccard similarity of two strings (UDF — the
    * refine step after LSH bucketing, never run all-pairs). */
  private def ngrams(s: String, n: Int): Set[String] = {
    if (s == null || s.length < n) Set.empty
    else (0 to s.length - n).iterator.map(i => s.substring(i, i + n)).toSet
  }

  private val ngramJaccardFn: (String, String, Int) => Double =
    (a: String, b: String, n: Int) => {
      val sa = ngrams(a, n); val sb = ngrams(b, n)
      if (sa.isEmpty && sb.isEmpty) 1.0
      else if (sa.isEmpty || sb.isEmpty) 0.0
      else {
        val inter = sa.intersect(sb).size
        inter.toDouble / (sa.size + sb.size - inter)
      }
    }

  val ngramJaccard: org.apache.spark.sql.expressions.UserDefinedFunction = udf(ngramJaccardFn)

  /** Word-set jaccard via built-ins only (codegen; no UDF). */
  def wordJaccard(a: Column, b: Column): Column = {
    val wa = array_distinct(split(trim(a), "\\s+"))
    val wb = array_distinct(split(trim(b), "\\s+"))
    val inter = size(array_intersect(wa, wb)).cast("double")
    inter / (size(wa) + size(wb) - inter)
  }

  // ---------------------------------------------------- cluster resolution

  /**
   * Connected components over a dup-pair graph — the stage that turns
   * candidate PAIRS into dedup CLUSTERS (a transitively-closed group of
   * near-identical docs from which one representative survives).
   *
   * Algorithm: iterative min-label propagation (hash-to-min). Every round
   * each node adopts the minimum label in its closed neighborhood; after
   * O(component diameter) rounds every node carries the component's
   * minimum id. Dup graphs from exact/LSH detection are unions of
   * near-cliques (diameter 1-2), so 2-3 rounds in practice. Each round
   * ALSO pointer-jumps (label(v) <- label(label(v))), which halves the
   * remaining hop distance to the component minimum — convergence is
   * O(log diameter) rounds, so the default `maxIter` = 20 covers chains
   * ~2^20 hops long. If a graph still has not converged at `maxIter`
   * the function THROWS rather than silently returning wrong labels
   * (dedupByPairs would otherwise keep duplicates with no error).
   * Per round: two join shuffles + one groupBy shuffle, all on the id
   * key — no all-pairs stage, scales with |E|. `checkpointer` cuts
   * lineage each round so round N's plan does not replay rounds 1..N-1;
   * the default `localCheckpoint` is right for single-JVM runs, but on a
   * real cluster pass `_.checkpoint()` (with a reliable checkpoint dir)
   * so a lost executor cannot drop cached rounds. Each round's retired
   * label cache is unpersisted once its successor materializes, so
   * block-manager storage stays O(|V|), not O(rounds * |V|).
   *
   * Input: (id_a, id_b) pair rows, any multiplicity, either order.
   * Output: (id, cluster_id) for every id appearing in `pairs`, where
   * cluster_id is the minimum id of the node's component.
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      checkpointer: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    val edges = checkpointer(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    // round 0: label = min(id, min neighbor)
    var labels = checkpointer(
      edges.select(col("src").as("id"), col("dst").as("label"))
        .union(edges.select(col("src").as("id"), col("src").as("label")))
        .groupBy("id").agg(min("label").as("label")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // push each node's label to its neighbors, keep the per-node min
      val pushed = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      // pointer jumping: adopt the label of your label's node, collapsing
      // long chains exponentially (the doubling trick from PRAM CC)
      val jumped = labels.as("a")
        .join(labels.as("b"), col("a.label") === col("b.id"))
        .select(col("a.id").as("id"), col("b.label").as("label"))
      val next = checkpointer(pushed.union(jumped).union(labels)
        .groupBy("id").agg(min("label").as("label")))
      val changed = next.as("n")
        .join(labels.as("o"), col("n.id") === col("o.id"))
        .where(col("n.label") < col("o.label"))
        .count()
      unpersistCheckpointed(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    unpersistCheckpointed(edges)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds; " +
        "labels would be WRONG (components larger than their computed clusters). " +
        "Raise maxIter — with pointer jumping each round doubles reach, so " +
        "maxIter=20 already covers ~2^20-hop chains.")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Free the block-manager storage behind a (local)checkpointed frame by
    * walking its physical RDD lineage to the first persisted ancestor.
    * A reliable `checkpoint()` stores to the checkpoint dir instead of the
    * block manager, so this is a harmless no-op there. */
  private[llm] def unpersistCheckpointed(df: DataFrame): Unit = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) {
        r.unpersist(blocking = false); ()
      } else r.dependencies.foreach(d => walk(d.rdd))
    try walk(df.queryExecution.toRdd) catch { case _: Throwable => () }
  }

  /** End-to-end dedup resolve: given docs and dup pairs, keep ONE
    * representative per connected dup cluster (the minimum id) plus every
    * unpaired doc. The drop set is tiny relative to the corpus (only
    * non-representative cluster members), so the anti-join broadcasts
    * when it fits and shuffles on id otherwise. */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = connectedComponents(pairs)
      .where(col("id") =!= col("cluster_id"))
      .select(col("id").as("__drop_id"))
    df.join(drop, df(idCol) === col("__drop_id"), "left_anti")
  }

  /** Quality-aware cluster resolution: keep the HIGHEST-scoring doc per
    * duplicate cluster ((score desc, id asc) tie-break) instead of
    * [[dedupByPairs]]' min-id policy — the production choice when
    * near-dups differ in quality (keep the longest / cleanest / highest
    * classifier score). Same pointer-jumping connected components; the
    * winner per cluster is one `max_by` partial aggregation over the
    * cluster-labeled SCORES (id + score rows only — texts never join
    * this path), then an anti-join drops the losers. Unclustered docs
    * always survive. */
  def dedupByPairsBest(df: DataFrame, idCol: String, pairs: DataFrame,
                       scoreCol: String): DataFrame = {
    val scored = connectedComponents(pairs)
      .join(df.select(col(idCol).as("id"), col(scoreCol).as("__sc")), Seq("id"))
    // lexicographic (score, -id) max == (score desc, id asc) winner
    val winners = scored.groupBy("cluster_id")
      .agg(max_by(col("id"), struct(col("__sc"), (lit(-1L) * col("id")).as("__negid")))
        .as("win_id"))
    val losers = scored.join(winners, Seq("cluster_id"))
      .where(col("id") =!= col("win_id"))
      .select(col("id").as("__drop_id"))
    df.join(losers, df(idCol) === col("__drop_id"), "left_anti")
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("ngram_jaccard", ngramJaccardFn)
    spark.udf.register("simhash", simhashFn)
    ()
  }
}
