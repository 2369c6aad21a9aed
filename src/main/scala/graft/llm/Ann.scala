package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (Array[Float]).
 *
 * - candidate-pair cosine / dot scoring uses the codegen natives of
 *   spark/VecExpressions → whole-stage codegen, no UDF.
 * - bruteForceTopK broadcasts the (small) query side; the corpus streams —
 *   the right plan when queries << corpus (the common case at 100 TB).
 * - lshTopK buckets both sides with signed-random-projection LSH so the
 *   pair space shrinks from |Q|x|C| to per-bucket; the scale path.
 */
object Ann {

  // JVM primitives for the scoring loops that run over primitive arrays
  // (the bruteForceTopK kernel, the quantizers, the embedding
  // contamination flag).
  private val dotFn: (Array[Float], Array[Float]) => Double =
    (a: Array[Float], b: Array[Float]) => {
      var s = 0.0
      val n = Math.min(a.length, b.length)
      var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
  private val normFn: Array[Float] => Double = (a: Array[Float]) => {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    Math.sqrt(s)
  }

  // Native codegen scoring (spark/VecExpressions): the candidate-pair join
  // paths register the natives on the frame's session and score with zero
  // per-pair allocations (a UDF converter would copy both arrays on every
  // call).
  private def nativeDot(spark: org.apache.spark.sql.SparkSession,
                        a: Column, b: Column): Column = {
    graft.spark.VecExpressions.ensureRegistered(spark)
    call_function(graft.spark.VecExpressions.InternalDot, a, b)
  }
  private def nativeNorm(spark: org.apache.spark.sql.SparkSession, a: Column): Column = {
    graft.spark.VecExpressions.ensureRegistered(spark)
    call_function(graft.spark.VecExpressions.InternalNorm, a)
  }
  // bit-identical native form of packBits(srpSignature(v, bits), bits) —
  // the parity spec in VecExprSpec and the pinned l_ann_recall values
  // hold it to the lambda chain's exact outputs
  private def nativeSrpPacked(spark: org.apache.spark.sql.SparkSession,
                              a: Column, bits: Int, seed: Int = 42): Column = {
    graft.spark.VecExpressions.ensureRegistered(spark)
    call_function(graft.spark.VecExpressions.InternalSrpPacked, a, lit(bits), lit(seed))
  }

  /**
   * Exact top-k neighbors for each query row against the corpus.
   *
   * The query side is collected and broadcast (same "small side" contract
   * as the previous broadcast-join form); the corpus streams through ONE
   * mapPartitions pass that converts each corpus vector to a primitive
   * array once, scores it against every query with a tight float loop,
   * and keeps a bounded per-query top-k heap per partition. Only
   * partitions × |Q| × k candidate rows reach the final window — at 10×
   * scale this kernel replaced a per-pair UnsafeRow→Array conversion that
   * made the UDF join 6× slower than the vectorized oracle. Ties break on
   * corpus id asc, exactly as before.
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qArr = queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id, v, normFn(v)) }
    val qB = spark.sparkContext.broadcast(qArr)

    val candidates = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val qs = qB.value
        // per-query bounded min-heaps: worst kept candidate at the root,
        // ordered (sim asc, c_id desc) so replacement preserves the final
        // (sim desc, c_id asc) ranking exactly
        val ord = Ordering.by[(Long, Double), (Double, Long)] { case (cid, s) => (-s, cid) }
        val heaps = Array.fill(qs.length)(scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord))
        rows.foreach { case (cId, vec) =>
          val cNorm = normFn(vec)
          var qi = 0
          while (qi < qs.length) {
            val (qId, qVec, qNorm) = qs(qi)
            if (qId != cId) {
              val sim = dotFn(qVec, vec) / (qNorm * cNorm)
              val h = heaps(qi)
              if (h.size < k) h.enqueue((cId, sim))
              else {
                val (wId, wSim) = h.head
                if (sim > wSim || (sim == wSim && cId < wId)) { h.dequeue(); h.enqueue((cId, sim)) }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (cId, sim) => (qs(qi)._1, cId, sim) }
        }
      }
      .toDF("q_id", "c_id", "sim")
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    candidates.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /**
   * Per-row EMBEDDING-SPACE contamination flag: true iff the row's vector
   * has cosine similarity >= `threshold` to ANY eval-side embedding — the
   * embedding twin of Dedup.bloomContaminationFlag (that one catches
   * verbatim n-gram overlap; this one catches paraphrases and near-copies
   * that share no surface text). The eval matrix is collected and
   * broadcast (same bounded small-side contract as [[bruteForceTopK]]'s
   * query side — eval suites are small by definition), each row is scored
   * in one tight JVM pass with early exit on the first hit, and the
   * returned Column is fully STATELESS — it filters a Structured
   * Streaming ingestion stream with zero state and zero shuffle.
   */
  def embeddingContaminationFlag(ev: DataFrame, vecCol: String,
                                 threshold: Double): Column = {
    val spark = ev.sparkSession
    import spark.implicits._
    val evArr = ev.select(col(vecCol)).as[Array[Float]].collect()
      .filter(v => v != null && v.length > 0)
      .map(v => (v, normFn(v)))
    val evB = spark.sparkContext.broadcast(evArr)
    val flag = udf((v: Array[Float]) => {
      if (v == null || v.isEmpty) false
      else {
        val es = evB.value
        val n = normFn(v)
        var i = 0
        var hit = false
        while (i < es.length && !hit) {
          val (e, en) = es(i)
          if (e.length == v.length) {
            val d = dotFn(v, e)
            hit = n > 0 && en > 0 && d / (n * en) >= threshold
          }
          i += 1
        }
        hit
      }
    })
    flag(col(vecCol))
  }

  /**
   * Deterministic signed-random-projection LSH signature: `bits` hyperplanes
   * whose components are derived from xxhash64(seed, plane, dim) — no
   * driver-side randomness, identical on every executor.
   */
  def srpSignature(vec: Column, bits: Int, seed: Int = 42): Column = {
    val planes = sequence(lit(0), lit(bits - 1))
    transform(planes, p => {
      // pseudo-random +-1 component per (plane, dim): parity of xxhash64
      val contrib = zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) =>
        when(xxhash64(lit(seed), p, i).bitwiseAND(1L) === 1L, x).otherwise(-x))
      when(aggregate(contrib, lit(0.0d), (acc, v) => acc + v) >= 0, 1L).otherwise(0L)
    })
  }

  /** Pack an array of `n` bits into a single long bucket key. */
  def packBits(bits: Column, n: Int): Column =
    (0 until n).map(i => element_at(bits, i + 1) * lit(1L << i)).reduce(_ + _)

  /** All single-bit flips of a packed signature (multiprobe ring). */
  private def flips(sig: Column, n: Int): Seq[Column] =
    (0 until n).map(b => sig.bitwiseXOR(lit(1L << b)))

  /**
   * Approximate top-k: bucket queries and corpus by SRP signature, compare
   * only within buckets (plus single-bit-flip probing for recall), exact
   * rerank inside the bucket. Scale path: one equi-join shuffle.
   *
   * Skew guard: anisotropic embeddings pile up in a few signatures, and
   * one giant bucket is one straggler task doing a quadratic chunk of the
   * join. Corpus buckets over the cap are salted candidate-preservingly —
   * the result is unchanged. `maxBucket` follows [[BucketPairs]], except
   * that the default ALWAYS salts at [[BucketPairs.DefaultCap]]: the split
   * map is at most 2^bits rows, broadcast, and no probe job runs.
   *
   * Precondition: `idCol` is unique per row on BOTH sides. Candidates are
   * bag-semantic (no distinct — each join match scores and ranks once), so a
   * duplicated id would emit duplicate neighbor rows and displace real ones
   * from the top-k. Callers that count pair rows (Drive/Queries) rely on
   * unique ids.
   */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxBucket: Int = BucketPairs.DefaultCap): DataFrame = {
    val sess = queries.sparkSession
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      nativeNorm(sess, col(vecCol)).as("q_norm"),
      nativeSrpPacked(sess, col(vecCol), bits).as("sig"))
    // multiprobe: original bucket + each 1-bit flip
    val probes = q.withColumn("bucket",
      explode(array(col("sig") +: flips(col("sig"), bits): _*)))
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      nativeNorm(sess, col(vecCol)).as("c_norm"),
      nativeSrpPacked(sess, col(vecCol), bits).as("bucket"))
    val s = BucketPairs.salt(c, probes, "c_id", Seq("bucket"),
      BucketPairs.cap(c, Seq("bucket"), maxBucket))
    // norms hoisted to one UDF per ROW above: each candidate pair pays a
    // single dot-product call instead of dot + two norms
    // no pair dedupe needed: each corpus row lives in exactly ONE bucket
    // (and one salt) and a query's probe keys (sig + its 1-bit flips, salt
    // replicas included) are pairwise-distinct, so every (q,c) pair joins
    // at most once — a distinct here would be a pure extra shuffle
    val scored = s.build.join(s.probe.hint("shuffle_hash"), s.keys)
      .where(col("q_id") =!= col("c_id"))
      .withColumn("sim",
        nativeDot(sess, col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .select("q_id", "c_id", "sim")
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /**
   * IVF-style approximate top-k: a deterministic coarse quantizer
   * (centroids sampled by id from the corpus itself) partitions the corpus;
   * each query probes its `nprobe` nearest centroid cells only. The scale
   * path when the corpus is huge and LSH bucket skew is a concern: the
   * centroid assignment is one broadcast pass, the probe an equi-join on
   * the cell id.
   *
   * Precondition: unique `idCol` per row (see [[lshTopK]] — same
   * bag-semantic candidate generation, no dedupe).
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nlist: Int = 16,
              nprobe: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // deterministic "training": the nlist corpus rows with the smallest
    // id-hash are the coarse centroids. orderBy+limit(nlist) executes as
    // TakeOrderedAndProject (per-partition top-K heap + driver merge — one
    // pass, NO global sort, no single-partition Window), and the bounded
    // nlist-row result is materialized once to number the centroids and
    // broadcast them — the standard shape for building a tiny quantizer.
    val sampled = corpus
      .select(col(idCol).cast("long").as("cent_id"), col(vecCol).as("cent_vec"))
      .orderBy(xxhash64(col("cent_id")).asc, col("cent_id").asc)
      .limit(nlist)
      .as[(Long, Array[Float])]
      .collect()
    val cents = sampled.sortBy(_._1).zipWithIndex
      .map { case ((_, vec), i) => (i + 1, vec, normFn(vec)) }
    val centsB = spark.sparkContext.broadcast(cents)

    // centroid assignment is a per-row argmax over <= nlist broadcast
    // primitives — one mapPartitions pass, no per-pair row conversion, no
    // Window (the r5 brute-force kernel lesson applied to the quantizer)
    def assign(df: DataFrame, id: String, vec: String, n: Int, outCol: String): DataFrame =
      df.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
        .mapPartitions { rows =>
          val cs = centsB.value
          rows.flatMap { case (rid, rvec) =>
            val rNorm = normFn(rvec)
            // rank centroids by (cosine desc, cent_no asc); keep top n
            val scored = cs.map { case (no, cvec, cNorm) =>
              (no, dotFn(rvec, cvec) / (rNorm * cNorm))
            }
            scored.sortBy { case (no, d) => (-d, no) }.take(n)
              .map { case (no, _) => (rid, rvec, no) }
          }
        }
        .toDF(id, vec, outCol)

    val c = assign(corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec")),
      "c_id", "c_vec", 1, "cell")
      .withColumn("c_norm", nativeNorm(spark, col("c_vec")))
    val q = assign(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")),
      "q_id", "q_vec", nprobe, "cell")
      .withColumn("q_norm", nativeNorm(spark, col("q_vec")))
    // each corpus row is in exactly one cell and a query's nprobe cells are
    // distinct centroid numbers, so every (q,c) pair joins at most once —
    // no pair dedupe, the rank window below is the only shuffle
    val scored = c.join(q, Seq("cell")).where(col("q_id") =!= col("c_id"))
      .withColumn("sim",
        nativeDot(spark, col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .select("q_id", "c_id", "sim")
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /**
   * Lloyd's k-means over an embedding column with DETERMINISTIC,
   * partitioning-independent arithmetic: initial centroids are the k
   * lowest-id rows, assignment is argmin squared-L2 with ties broken by
   * centroid number, and each update accumulates per-dimension INTEGER
   * sums of the vectors quantized at 2^20 — exact long addition commutes,
   * so the centroids are bit-identical under any shuffle order (a float
   * sum would drift with partitioning). Returns the input rows plus a
   * 1-based `cluster` column.
   *
   * Scale shape: per iteration, one broadcast assignment pass (no
   * shuffle) fused with a treeAggregate that accumulates the k x dim
   * integer sums and counts INSIDE each partition — nothing row-shaped
   * ever shuffles; each partition emits one k x dim x 8B partial and the
   * tree combine folds them to the driver to build the next broadcast
   * (tiny, the same bounded-side contract as the IVF quantizer).
   * Clusters that lose all members keep their previous centroid.
   *
   * This is the clustering step of SemDeDup-style semantic dedup
   * (cluster first, compare within clusters only).
   */
  def kmeans(df: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
             k: Int = 16, iters: Int = 3): DataFrame = {
    require(k > 0 && iters >= 0, "k must be positive, iters non-negative")
    val spark = df.sparkSession
    import spark.implicits._
    val Q = 1L << 20
    val rows = df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    var cents: Array[(Int, Array[Double])] = rows
      .orderBy(col(idCol).asc).limit(k).collect()
      .zipWithIndex.map { case ((_, v), i) => (i + 1, v.map(_.toDouble)) }

    def assigned(cs: Array[(Int, Array[Double])]) = {
      val csB = spark.sparkContext.broadcast(cs)
      rows.mapPartitions { it =>
        val cc = csB.value
        it.map { case (rid, rvec) =>
          var best = 0; var bestD = Double.MaxValue
          var i = 0
          while (i < cc.length) {
            val cv = cc(i)._2
            var d = 0.0; var j = 0
            while (j < rvec.length) { val t = rvec(j) - cv(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = cc(i)._1 }
            i += 1
          }
          (rid, rvec, best)
        }
      }.toDF(idCol, vecCol, "cluster")
    }

    // HALF_UP at scale 0, matching Spark's round(): f.toDouble * 2^20 is
    // EXACT (power-of-two scaling of a 24-bit mantissa), so the only tie
    // handling that matters is the literal x.5 case — away from zero
    @inline def qRound(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else -math.floor(0.5 - x).toLong
    if (cents.nonEmpty) {
      val dim = cents(0)._2.length
      val kk = cents.length
      for (_ <- 1 to iters) {
        // per-partition k x dim accumulator: the same commutative exact
        // long sums the old (cluster, dim) aggregation shuffled row-wise,
        // now folded inside each partition and tree-combined to the driver
        val zero = (Array.ofDim[Long](kk * dim), Array.ofDim[Long](kk * dim))
        val (sums, cnts) = assigned(cents)
          .select(col("cluster"), col(vecCol))
          .as[(Int, Array[Float])]
          .rdd.treeAggregate(zero)(
            seqOp = { case (acc @ (s, c), (cl, v)) =>
              val base = (cl - 1) * dim
              var j = 0
              val m = math.min(v.length, dim)
              while (j < m) {
                s(base + j) += qRound(v(j).toDouble * Q)
                c(base + j) += 1L
                j += 1
              }
              acc
            },
            combOp = { case (a @ (s1, c1), (s2, c2)) =>
              var i = 0
              while (i < s1.length) { s1(i) += s2(i); c1(i) += c2(i); i += 1 }
              a
            })
        cents = cents.map { case (no, old) =>
          val base = (no - 1) * dim
          val v = old.clone()
          var j = 0
          while (j < dim) {
            val n = cnts(base + j)
            if (n > 0L) v(j) = sums(base + j).toDouble / Q / n
            j += 1
          }
          (no, v) // empty cluster (all-zero counts) keeps its centroid
        }
      }
    }
    assigned(cents)
  }

  /**
   * SemDeDup-style semantic near-duplicate pairs: k-means-cluster the
   * corpus, then exact cosine >= threshold WITHIN each cluster only — the
   * comparison count drops from N^2 to the sum of cluster sizes squared.
   * Identical vectors can never be split across clusters (identical
   * distances, deterministic tie-break); merely-similar pairs straddling a
   * cluster boundary are missed by construction — SemDeDup's accepted
   * approximation (raise k for finer cells, or fall back to
   * [[cosineNearDupPairs]] for LSH recall guarantees). Precondition:
   * unique `idCol` (bag semantics, as the other pair generators).
   *
   * k SCALES WITH THE CORPUS: k <= 0 (the default) derives
   * k = max(16, ceil(N / targetClusterSize)), so the expected compare
   * count is N * targetClusterSize — LINEAR in N, not N^2/const. Clusters
   * that still come out larger than 4 * targetClusterSize (skewed data)
   * are re-clustered at finer k, up to maxSplitDepth rounds, so a dense
   * region cannot silently degrade the self-join toward n^2; only
   * genuinely indivisible groups (near-identical vectors, whose pairs ARE
   * the output) survive oversized. Driver-side bound: the centroid
   * quantizer collects k x dim doubles per round — at targetClusterSize
   * 1024 and dim 64 that is ~0.5 GB at N = 1e9; raise targetClusterSize
   * for larger corpora to keep the broadcast bounded.
   */
  def semanticDedupPairs(df: DataFrame, threshold: Double, k: Int = 0,
                         iters: Int = 2, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         targetClusterSize: Int = 1024,
                         maxSplitDepth: Int = 3): DataFrame = {
    val sess = df.sparkSession
    val clustered = boundedClusters(df, idCol, vecCol, k, iters,
        targetClusterSize, maxSplitDepth)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("cluster"))
      .withColumn("nrm", nativeNorm(sess, col("vec")))
    clustered.as("a").join(clustered.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .withColumn("sim",
        nativeDot(sess, col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
      .where(col("sim") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("sim"))
  }

  /** Cluster assignment with derived k and an oversize-split loop (the
    * clustering half of [[semanticDedupPairs]], exposed for testing):
    * returns (idCol, vecCol, cluster BIGINT) where every cluster is
    * either <= 4 * targetClusterSize members or has resisted
    * maxSplitDepth rounds of finer re-clustering (identical vectors
    * co-assign by construction, so true dup-groups never split). Each
    * round re-clusters ONLY the members of oversized clusters, together,
    * at k = ceil(remaining / targetClusterSize) — label spaces are
    * disjoint per round. */
  def boundedClusters(df: DataFrame, idCol: String = "vec_id",
                      vecCol: String = "embedding", k: Int = 0,
                      iters: Int = 2, targetClusterSize: Int = 1024,
                      maxSplitDepth: Int = 3,
                      checkpointer: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    require(targetClusterSize > 0, "targetClusterSize must be positive")
    // `checkpointer` materializes each round's input/assignment ONCE, so
    // Lloyd's iters+1 passes and the size/split consumers read cached rows
    // instead of re-deriving the whole lineage per pass (the same contract
    // as Dedup.connectedComponents: localCheckpoint for single-JVM runs,
    // reliable checkpoint() on a cluster). Intermediates are freed once
    // the final clustering materializes; transient storage peaks at ~2x
    // the corpus vectors (round inputs shrink geometrically). Below 1M
    // vectors the materialization JOBS cost more than the re-scans they
    // save (each eager checkpoint pays the per-job scheduling floor —
    // measured 0.89 s -> 3.6 s on the 541-vector correctness corpus), so
    // small inputs skip checkpointing entirely.
    val base0 = df.select(col(idCol), col(vecCol))
    val n0 = base0.count()
    val ckpt: DataFrame => DataFrame =
      if (n0 >= (1L << 20)) checkpointer else identity
    val retired = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val base = ckpt(base0)
    retired += base
    def derivedK(n: Long) =
      math.max(16L, (n + targetClusterSize - 1) / targetClusterSize)
        .min(Int.MaxValue).toInt
    val k0 = if (k > 0) k else derivedK(n0)
    val cap = 4L * targetClusterSize
    // label offset per split round keeps rounds' cluster ids disjoint
    val RoundStride = 1L << 40
    var pending = ckpt(kmeans(base, idCol, vecCol, k0, iters)
      .select(col(idCol), col(vecCol), col("cluster").cast("long").as("cluster")))
    retired += pending
    var done: DataFrame = null
    var depth = 0
    var growing = true
    while (growing) {
      val sizes = pending.groupBy("cluster").agg(count(lit(1)).as("__cn"))
      val withSz = pending.join(sizes, "cluster")
      val small = withSz.where(col("__cn") <= cap)
        .select(col(idCol), col(vecCol), col("cluster"))
      done = if (done == null) small else done.unionByName(small)
      val big = withSz.where(col("__cn") > cap)
      val bigN = big.count()
      if (bigN == 0 || depth >= maxSplitDepth) {
        if (bigN > 0)  // indivisible remainder keeps its (oversized) label
          done = done.unionByName(big.select(col(idCol), col(vecCol), col("cluster")))
        growing = false
      } else {
        depth += 1
        pending = ckpt(kmeans(big.select(col(idCol), col(vecCol)), idCol,
            vecCol, derivedK(bigN), iters)
          .select(col(idCol), col(vecCol),
            (col("cluster").cast("long") + lit(depth * RoundStride)).as("cluster")))
        retired += pending
      }
    }
    val out = ckpt(done)
    retired.foreach(Dedup.unpersistCheckpointed)
    out
  }

  /** Embedding near-duplicate pairs: cosine >= threshold via LSH buckets,
    * with oversized buckets salted (see [[lshTopK]]). Precondition:
    * unique `idCol` — output is bag-semantic (one row per join match), so
    * duplicate ids would emit duplicate pair rows (see [[lshTopK]]). */
  def cosineNearDupPairs(df: DataFrame, threshold: Double, bits: Int = 8,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         maxBucket: Int = BucketPairs.DefaultCap): DataFrame = {
    val sess = df.sparkSession
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      nativeNorm(sess, col(vecCol)).as("nrm"),
      nativeSrpPacked(sess, col(vecCol), bits).as("sig"))
    val probes = v.withColumn("bucket",
      explode(array(col("sig") +: flips(col("sig"), bits): _*)))
      .select(col("id"), col("vec"), col("nrm"), col("bucket"))
    val base = v.select(col("id"), col("vec"), col("nrm"), col("sig").as("bucket"))
    val s = BucketPairs.salt(base, probes, "id", Seq("bucket"),
      BucketPairs.cap(base, Seq("bucket"), maxBucket))
    s.build.as("a").join(s.probe.as("b"), s.on("a", "b") && col("a.id") < col("b.id"))
      .withColumn("sim",
        nativeDot(sess, col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
      .where(col("sim") >= threshold)
      // at most one match per pair: the base side carries only its own sig
      // bucket and salt (one row per id) and the probe side's keys are distinct
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("sim"))
  }

  /**
   * Product-quantization codebooks (Jégou, Douze & Schmid 2011, "Product
   * Quantization for Nearest Neighbor Search"): the vector space splits
   * into `m` equal subspaces, each with its own `ksub`-centroid codebook,
   * so a dim-float vector compresses to m bytes — dim*4/m compression
   * (64-dim float → 8 bytes is 32×), the storage/scan regime where a
   * 100-TB embedding corpus becomes a ~3-TB code table.
   *
   * Training is driver-side Lloyd's over a BOUNDED deterministic id-hash
   * sample (the same TakeOrderedAndProject + bounded small-side contract
   * as [[ivfTopK]]'s coarse quantizer; PQ codebooks are sample-trained in
   * every production system — the corpus is never collected). Sample
   * order, init (the first ksub sample rows in hash order), and the
   * fixed-order driver accumulation are all partitioning-independent, so
   * the codebooks are bit-identical across runs — the l_ann_pq oracle row
   * pins exact recall values on top of a floor assertion.
   */
  def pqTrain(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
              sampleN: Int = 512, idCol: String = "vec_id",
              vecCol: String = "embedding", iters: Int = 8): Array[Array[Array[Float]]] = {
    require(m > 0 && ksub > 1 && ksub <= 256 && sampleN >= ksub,
      "pqTrain: need m > 0, 1 < ksub <= 256 (byte codes), sampleN >= ksub")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .orderBy(xxhash64(col("id")).asc, col("id").asc)
      .limit(sampleN)
      .as[(Long, Array[Float])].collect().map(_._2)
    require(sample.nonEmpty, "pqTrain: empty corpus")
    pqTrainLocal(sample, m, ksub, iters)
  }

  /** Nearest-centroid (squared-L2) code of one vector, one byte/subspace. */
  private def pqCode(cb: Array[Array[Array[Float]]], v: Array[Float]): Array[Byte] = {
    val m = cb.length
    val sub = v.length / m
    val code = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val cents = cb(j); val off = j * sub
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var d = 0.0; var i = 0
        while (i < sub) { val t = v(off + i) - cents(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      code(j) = best.toByte
      j += 1
    }
    code
  }

  /** Compress each vector to its m-byte PQ code — the at-rest column a
    * pipeline stores next to (or instead of) the raw embedding. One
    * broadcast-codebook map pass, no shuffle; identical vectors get
    * identical codes (the planted-copy tests rely on this). */
  def pqEncode(df: DataFrame, codebooks: Array[Array[Array[Float]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cbB = spark.sparkContext.broadcast(codebooks)
    df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cb = cbB.value
        rows.map { case (id, v) => (id, pqCode(cb, v)) }
      }.toDF(idCol, "pq_code")
  }

  /**
   * IVF-PQ approximate top-k — the canonical billion-scale index shape
   * (coarse quantizer routes each vector to one of `nlist` cells; a
   * product quantizer codes the RESIDUAL v − centroid, which is far
   * tighter than coding raw vectors; queries probe `nprobe` cells and
   * score codes by ADC): at 100 TB the at-rest index is (cell, m bytes)
   * per vector — written `partitionBy(cell)`, a query's scan prunes to
   * its probe cells' partitions.
   *
   * Everything trains on bounded, deterministic state: coarse centroids
   * are the [[ivfTopK]] id-hash sample; PQ codebooks train driver-side
   * on the residuals of the same bounded sample; the per-(cell, code)
   * cross-terms ADC needs (dot(centroid, codeword), ‖codeword‖²,
   * dot(q, centroid)) are nlist×m×ksub-bounded lookup tables. Scoring:
   * cosine(q, centroid_cell + recon_residual) with the query at full
   * precision — dot and norm decompose into table lookups, so a
   * candidate costs 2m lookups, no float-vector math. Corpus pass
   * shape = [[pqTopK]]'s bounded per-partition k-heaps, with non-probed
   * cells skipped per query before any scoring.
   */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 64,
                sampleN: Int = 512, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val model = ivfPqTrain(corpus, nlist, m, ksub, sampleN, idCol, vecCol)
    ivfPqSearch(model, ivfPqEncode(model, corpus, idCol, vecCol),
      queries, k, nprobe, idCol, vecCol)
  }

  /** Bounded IVF-PQ model: `nlist` coarse centroids + m×ksub residual
    * codebooks — a few hundred KB broadcast, never corpus-sized. */
  final case class IvfPqModel(cents: Array[Array[Float]],
                              codebooks: Array[Array[Array[Float]]]) {
    def dim: Int = cents(0).length
    private[llm] def nearestCell(v: Array[Float]): Int = {
      val vn = normFn(v)
      var best = 0; var bestS = Double.MinValue; var c = 0
      while (c < cents.length) {
        val s = dotFn(v, cents(c)) / (vn * normFn(cents(c)) + 1e-300)
        if (s > bestS) { bestS = s; best = c }
        c += 1
      }
      best
    }
  }

  /** Train the bounded IVF-PQ model driver-side: coarse centroids from
    * the [[ivfTopK]] deterministic id-hash sample, PQ codebooks by
    * Lloyd's on the same sample's RESIDUALS (v − centroid). */
  def ivfPqTrain(corpus: DataFrame, nlist: Int = 16, m: Int = 8,
                 ksub: Int = 64, sampleN: Int = 512, idCol: String = "vec_id",
                 vecCol: String = "embedding"): IvfPqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sampled = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .orderBy(xxhash64(col("id")).asc, col("id").asc)
      .limit(math.max(nlist, sampleN))
      .as[(Long, Array[Float])].collect()
    require(sampled.nonEmpty, "ivfPqTrain: empty corpus")
    val cents: Array[Array[Float]] = sampled.take(nlist).sortBy(_._1).map(_._2)
    val dim = cents(0).length
    val pre = IvfPqModel(cents, Array.empty)
    val resSample = sampled.map { case (_, v) =>
      val ct = cents(pre.nearestCell(v))
      val r = new Array[Float](dim)
      var i = 0
      while (i < dim) { r(i) = v(i) - ct(i); i += 1 }
      r
    }
    IvfPqModel(cents, pqTrainLocal(resSample, m, ksub))
  }

  /** Compress a corpus to the (id, cell, m-byte residual code) index rows
    * in one stateless pass. At rest, write `partitionBy("cell")` so a
    * search's scan prunes to its probe cells' partitions (asserted in
    * PqSpec); the same map runs unchanged on a stream. */
  def ivfPqEncode(model: IvfPqModel, df: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val modelB = spark.sparkContext.broadcast(model)
    df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val mv = modelB.value
        rows.map { case (id, v) =>
          val best = mv.nearestCell(v)
          val ct = mv.cents(best)
          val r = new Array[Float](v.length)
          var i = 0
          while (i < v.length) { r(i) = v(i) - ct(i); i += 1 }
          (id, best, pqCode(mv.codebooks, r))
        }
      }.toDF(idCol, "cell", "pq_code")
  }

  /** ADC search over an encoded index (see [[ivfPqTopK]] for the score
    * decomposition). The union of all queries' probe cells is computed
    * driver-side and applied as a `cell IN (...)` filter BEFORE the scan,
    * so a parquet index partitioned by cell reads only probed partitions. */
  def ivfPqSearch(model: IvfPqModel, codes: DataFrame, queries: DataFrame,
                  k: Int, nprobe: Int = 4, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val cents = model.cents
    val cb = model.codebooks
    val dim = model.dim
    val m = cb.length
    val cbB = spark.sparkContext.broadcast(cb)
    val qArr = queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
    val qB = spark.sparkContext.broadcast(qArr)
    val sub = dim / m
    // query-independent cross tables: per (cell ∅, subspace, codeword)
    val cw2 = Array.tabulate(m) { j =>          // ‖codeword‖² per subspace
      cb(j).map { w => var s = 0.0; var i = 0; while (i < w.length) { s += w(i) * w(i); i += 1 }; s }
    }
    val centDotCw = Array.tabulate(cents.length) { c =>   // dot(centroid_sub, codeword)
      Array.tabulate(m) { j =>
        val off = j * sub
        cb(j).map { w =>
          var s = 0.0; var i = 0
          while (i < w.length) { s += cents(c)(off + i) * w(i); i += 1 }
          s
        }
      }
    }
    val centN2 = cents.map(ct => { var s = 0.0; var i = 0; while (i < ct.length) { s += ct(i).toDouble * ct(i); i += 1 }; s })
    // per query (bounded by the collect contract): probe-cell set,
    // per-subspace dot tables vs residual codewords, dot(q, centroid)
    // per cell — all driver-side so the probe union prunes the scan
    val probeSets = new Array[Array[Boolean]](qArr.length)
    val qTabs = new Array[Array[Array[Double]]](qArr.length)
    val qCentDots = new Array[Array[Double]](qArr.length)
    val qNorms = new Array[Double](qArr.length)
    var qi0 = 0
    while (qi0 < qArr.length) {
      val qv = qArr(qi0)._2
      qNorms(qi0) = normFn(qv)
      val cd = cents.map(ct => dotFn(qv, ct))
      qCentDots(qi0) = cd
      val scored = cents.indices.map { c =>
        (c, cd(c) / (qNorms(qi0) * math.sqrt(centN2(c)) + 1e-300))
      }.sortBy { case (c, s) => (-s, c) }.take(nprobe).map(_._1)
      val set = new Array[Boolean](cents.length)
      scored.foreach(set(_) = true)
      probeSets(qi0) = set
      qTabs(qi0) = Array.tabulate(m) { j =>
        val off = j * sub
        cb(j).map { w =>
          var s = 0.0; var i = 0
          while (i < w.length) { s += qv(off + i) * w(i); i += 1 }
          s
        }
      }
      qi0 += 1
    }
    val probedCells: Seq[Int] =
      cents.indices.filter(c => probeSets.exists(_(c)))
    val tablesB = spark.sparkContext.broadcast(
      (cw2, centDotCw, centN2, probeSets, qTabs, qCentDots, qNorms))

    // cell IN (probe union) BEFORE the scan: on a partitionBy("cell")
    // parquet index this is partition pruning, not a row filter
    val cands = codes.select(col(idCol), col("cell"), col("pq_code"))
      .where(col("cell").isin(probedCells.map(Integer.valueOf): _*))
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { rows =>
        val qs = qB.value; val cbv = cbB.value
        val (cw2v, cdcw, cn2, probeSets, qTabs, qCentDots, qNorms) = tablesB.value
        val mm = cbv.length
        val ord = Ordering.by[(Long, Double), (Double, Long)] { case (cid, s) => (-s, cid) }
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord))
        rows.foreach { case (cId, cell, code) =>
          // reconstructed norm² = ‖centroid‖² + 2·dot(centroid, res) + ‖res‖²
          var cdr = 0.0; var r2 = 0.0; var j = 0
          while (j < mm) {
            val b = code(j) & 0xff
            cdr += cdcw(cell)(j)(b); r2 += cw2v(j)(b); j += 1
          }
          val rn = math.sqrt(math.max(cn2(cell) + 2.0 * cdr + r2, 0.0))
          var q2 = 0
          while (q2 < qs.length) {
            if (probeSets(q2)(cell) && qs(q2)._1 != cId) {
              val tab = qTabs(q2)
              var qdr = 0.0; var jj = 0
              while (jj < mm) { qdr += tab(jj)(code(jj) & 0xff); jj += 1 }
              val sim = if (rn == 0.0) 0.0
                        else (qCentDots(q2)(cell) + qdr) / (qNorms(q2) * rn)
              val h = heaps(q2)
              if (h.size < k) h.enqueue((cId, sim))
              else {
                val (wId, wSim) = h.head
                if (sim > wSim || (sim == wSim && cId < wId)) { h.dequeue(); h.enqueue((cId, sim)) }
              }
            }
            q2 += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi2) =>
          h.iterator.map { case (cId, s) => (qs(qi2)._1, cId, s) }
        }
      }.toDF("q_id", "c_id", "sim")
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    cands.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /**
   * Persist an IVF-PQ index AT REST: the codes table partitioned by cell,
   * plus the bounded model (coarse centroids + residual codebooks) as two
   * small parquet sidecars. Because [[ivfPqSearch]] filters
   * `cell IN (probe union)` BEFORE its scan, a search against the loaded
   * index becomes Spark PARTITION PRUNING — it reads only the nprobe cell
   * directories a query panel routes to, so query cost is independent of
   * corpus size at rest. This is the ANN twin of the persisted near-dedup
   * band index (Dedup.writeBandIndex): build once, serve forever.
   */
  def ivfPqWriteIndex(model: IvfPqModel, codes: DataFrame, path: String,
                      idCol: String = "vec_id"): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    codes.select(col(idCol), col("cell"), col("pq_code"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    model.cents.zipWithIndex.toSeq
      .map { case (v, c) => (c, v) }
      .toDF("cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cents")
    (for ((cbj, j) <- model.codebooks.zipWithIndex.toSeq; (w, c) <- cbj.zipWithIndex)
      yield (j, c, w))
      .toDF("subspace", "code", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Load an index written by [[ivfPqWriteIndex]]: the bounded model is
    * collected (a few hundred KB); the codes stay a lazy cell-partitioned
    * scan for [[ivfPqSearch]] to prune. */
  def ivfPqLoadIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     idCol: String = "vec_id"): (IvfPqModel, DataFrame) = {
    import spark.implicits._
    val codes = spark.read.parquet(s"$path/codes")
      .select(col(idCol), col("cell").cast("int").as("cell"), col("pq_code"))
    (ivfPqLoadModel(spark, path), codes)
  }

  /** Only the bounded model sidecars of a persisted index (what the
    * append path needs — it never reads the codes). */
  def ivfPqLoadModel(spark: org.apache.spark.sql.SparkSession,
                     path: String): IvfPqModel = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$path/cents")
      .select(col("cell").cast("int"), col("vec"))
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
    val cbRows = spark.read.parquet(s"$path/codebooks")
      .select(col("subspace").cast("int"), col("code").cast("int"), col("vec"))
      .as[(Int, Int, Array[Float])].collect()
    val codebooks = cbRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.sortBy(_._2).map(_._3) }.toArray
    IvfPqModel(cents, codebooks)
  }

  /**
   * FROZEN-MODEL incremental append to a persisted IVF-PQ index — the
   * daily-ingest path the index exists for (100-TB corpus at rest, new
   * vectors arriving continuously): encode the new rows with the index's
   * OWN model (loaded from the sidecars, never retrained) and append
   * them into the cell partition layout. Appended files land inside the
   * existing `cell=N` directories, so [[ivfPqSearch]]'s partition pruning
   * is oblivious to how many appends built the index, and search cost
   * stays nprobe-bounded. Search-after-append is IDENTICAL to
   * search-after-full-rebuild under the same frozen model (spec-pinned —
   * encoding is a stateless per-row map). The ANN twin of the
   * incremental band-index dedup (Dedup.writeBandIndex's append path).
   * Caller owns id uniqueness across appends — codes are bag-semantic
   * like every Ann entry point; re-appending a batch duplicates it.
   */
  def ivfPqAppendIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       df: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val model = ivfPqLoadModel(spark, path)
    ivfPqEncode(model, df, idCol, vecCol)
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
  }

  /** Driver-side PQ Lloyd's over already-materialized vectors (the
    * bounded-sample half of [[pqTrain]], shared with residual training). */
  private def pqTrainLocal(sample: Array[Array[Float]], m: Int, ksub: Int,
                           iters: Int = 8): Array[Array[Array[Float]]] = {
    require(sample.nonEmpty, "pqTrainLocal: empty sample")
    // Codes are stored as bytes (`best.toByte` in pqCode): ksub > 256 would
    // silently wrap codes modulo 256 and corrupt every search result.
    require(m > 0 && ksub > 1 && ksub <= 256,
      "pqTrainLocal: need m > 0, 1 < ksub <= 256 (byte codes)")
    val dim = sample(0).length
    require(dim % m == 0, s"pqTrainLocal: dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m) { j =>
      val off = j * sub
      val nc = math.min(ksub, sample.length)
      val cents = Array.tabulate(nc) { c =>
        java.util.Arrays.copyOfRange(sample(c), off, off + sub)
      }
      var it = 0
      while (it < iters) {
        val sums = Array.fill(nc, sub)(0.0)
        val counts = new Array[Long](nc)
        sample.foreach { v =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < nc) {
            var d = 0.0; var i = 0
            while (i < sub) { val t = v(off + i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < sub) { sums(best)(i) += v(off + i); i += 1 }
        }
        var c = 0
        while (c < nc) {
          if (counts(c) > 0) {
            var i = 0
            while (i < sub) { cents(c)(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
          }
          c += 1
        }
        it += 1
      }
      cents
    }
  }

  /** Reconstruct approximate vectors from PQ codes (centroid lookup per
    * subspace) — the read path of the compressed at-rest representation:
    * store 8-byte codes, decode on demand for downstream consumers that
    * need vector-shaped input. One broadcast map pass; decode(encode(v))
    * is each subspace's nearest centroid, so reconstruction error is the
    * quantizer's (PqSpec bounds it against the trivial zero vector). */
  def pqDecode(df: DataFrame, codebooks: Array[Array[Array[Float]]],
               idCol: String = "vec_id", codeCol: String = "pq_code",
               outCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cbB = spark.sparkContext.broadcast(codebooks)
    df.select(col(idCol).cast("long"), col(codeCol)).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val cb = cbB.value
        val sub = if (cb.isEmpty) 0 else cb(0)(0).length
        rows.map { case (id, code) =>
          val out = new Array[Float](cb.length * sub)
          var j = 0
          while (j < cb.length) {
            System.arraycopy(cb(j)(code(j) & 0xff), 0, out, j * sub, sub)
            j += 1
          }
          (id, out)
        }
      }.toDF(idCol, outCol)
  }

  /**
   * Approximate top-k by asymmetric distance computation (ADC) over PQ
   * codes: cosine(q, c) ≈ dot(q, recon(c)) / (|q| · |recon(c)|), where
   * recon(c) is the code's reconstruction — dot(q, recon(c)) is m table
   * lookups into a per-query (m × ksub) table of subspace dot products,
   * and |recon(c)|² is m lookups into a query-independent table of
   * centroid squared norms. The query keeps full precision (asymmetric),
   * so quantization error enters once, not twice.
   *
   * Scale shape: the corpus streams as m-byte codes (dim·4/m less scan
   * I/O than [[bruteForceTopK]]), scoring is table lookups instead of a
   * dim-length float loop, queries are bounded-broadcast, and the
   * reduction is the same per-partition bounded k-heap → only
   * partitions × |Q| × k candidate rows reach the final window.
   */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 8,
             ksub: Int = 16, sampleN: Int = 512,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = pqTrain(corpus, m, ksub, sampleN, idCol, vecCol)
    val codes = pqEncode(corpus, cb, idCol, vecCol)
    val qArr = queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
    val qB = spark.sparkContext.broadcast(qArr)
    val cbB = spark.sparkContext.broadcast(cb)
    val cands = codes.select(col(idCol), col("pq_code")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val qs = qB.value; val cbv = cbB.value
        val mm = cbv.length
        // query-independent: per-centroid reconstructed squared norms
        val cn2 = Array.tabulate(mm) { j =>
          cbv(j).map { cent =>
            var s = 0.0; var i = 0
            while (i < cent.length) { s += cent(i) * cent(i); i += 1 }
            s
          }
        }
        // per-query: subspace dot-product tables + full-precision norms
        val tabs = qs.map { case (_, qv) =>
          val sub = qv.length / mm
          Array.tabulate(mm) { j =>
            val off = j * sub
            cbv(j).map { cent =>
              var s = 0.0; var i = 0
              while (i < cent.length) { s += qv(off + i) * cent(i); i += 1 }
              s
            }
          }
        }
        val qNorms = qs.map { case (_, qv) => normFn(qv) }
        val ord = Ordering.by[(Long, Double), (Double, Long)] { case (cid, s) => (-s, cid) }
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord))
        rows.foreach { case (cId, code) =>
          var rn2 = 0.0; var j = 0
          while (j < mm) { rn2 += cn2(j)(code(j) & 0xff); j += 1 }
          val rNorm = math.sqrt(rn2)
          var qi = 0
          while (qi < qs.length) {
            if (qs(qi)._1 != cId) {
              val tab = tabs(qi)
              var dotv = 0.0; var jj = 0
              while (jj < mm) { dotv += tab(jj)(code(jj) & 0xff); jj += 1 }
              val sim = if (rNorm == 0.0) 0.0 else dotv / (qNorms(qi) * rNorm)
              val h = heaps(qi)
              if (h.size < k) h.enqueue((cId, sim))
              else {
                val (wId, wSim) = h.head
                if (sim > wSim || (sim == wSim && cId < wId)) { h.dequeue(); h.enqueue((cId, sim)) }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (cId, s) => (qs(qi)._1, cId, s) }
        }
      }.toDF("q_id", "c_id", "sim")
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    cands.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }
}
