package graft.spark

import org.apache.spark.sql.DataFrame

/**
 * Query-scoped cache lifetime: persist intermediate frames for intra-query
 * branch reuse, then unpersist them ALL as soon as the first query that
 * consumes the operator's result completes (success or failure), via a
 * self-deregistering QueryExecutionListener. No cached RDD outlives its
 * consuming query; repeated executions of the returned frame recompute
 * without the cache (correct, just un-shared).
 *
 * This is the discipline established for the dup-gram cache
 * ([[graft.llm.Dedup]], round 12) and the pointer-jumping checkpoint
 * chain, shared so every iterative operator (connected components,
 * k-means) bounds its footprint the same way.
 *
 * Bounds: results built but never executed would leak their armed
 * listener, so at most [[MaxArmed]] releases can be armed per JVM —
 * arming one more force-releases the oldest (its caches recompute if
 * still needed; correctness unaffected). Two CONCURRENT operators over
 * sameResult-identical consumers may release each other's caches early —
 * the victim query recomputes, again correctness-neutral.
 */
object CacheLifecycle {

  private val MaxArmed = 16
  private val armed = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Arm `frames` (already persisted by the caller) to unpersist when the
    * first query whose analyzed plan contains `consumer`'s completes.
    * Returns `consumer` for chaining. */
  def releaseAfterUse(frames: Seq[DataFrame], consumer: DataFrame): DataFrame = {
    if (frames.isEmpty) return consumer
    val spark = consumer.sparkSession
    val target = consumer.queryExecution.analyzed
    val flag = new java.util.concurrent.atomic.AtomicBoolean(true)
    lazy val release: () => Unit = () => {
      if (flag.compareAndSet(true, false)) {
        frames.foreach(_.unpersist(blocking = false))
        spark.listenerManager.unregister(listener)
        armed.remove(release)
        ()
      }
    }
    lazy val listener: org.apache.spark.sql.util.QueryExecutionListener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        private def maybeRelease(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
          val touches =
            try qe.analyzed.exists(p => p.sameResult(target))
            catch { case _: Throwable => false }
          if (touches) release()
        }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = maybeRelease(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = maybeRelease(qe)
      }
    spark.listenerManager.register(listener)
    armed.add(release)
    while (armed.size > MaxArmed) {
      val oldest = armed.poll()
      if (oldest != null) oldest()
    }
    consumer
  }
}
