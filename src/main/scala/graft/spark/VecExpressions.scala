package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Kernels of the `vec_*` SQL names (`ARRAY<FLOAT>` dot product, L2 norm,
 * packed SRP signature). These sit on every candidate pair of the
 * LSH / IVF / near-dup joins — a UDF form pays a catalyst→Scala
 * converter that ALLOCATES AND COPIES both arrays per pair; the
 * [[NativeCall]] reads the UnsafeArrayData buffers in place inside
 * whole-stage codegen, so a candidate pair costs one float loop and
 * zero allocations.
 */
object VecNative {
  def vecDot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def vecNorm(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = a.getFloat(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }

  /**
   * Packed signed-random-projection LSH signature — BIT-IDENTICAL to the
   * original Catalyst-lambda chain
   * `packBits(transform(planes, p -> sum_i(±v_i by xxhash64(seed,p,i)
   * parity) >= 0))`: the same XXH64.hashInt chain Spark's `xxhash64`
   * runs (internal seed 42, then seed/plane/dim ints folded in order),
   * the same left-to-right double accumulation, the same `>= 0` bit and
   * little-endian packing. One pass over the vector per plane instead of
   * `bits` materialized lambda arrays per row — the pinned LSH recall
   * values (l_ann_recall) prove the outputs unchanged.
   */
  def srpPacked(v: ArrayData, bits: Int, seed: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = v.numElements()
    val h1 = XXH64.hashInt(seed, 42L)
    var packed = 0L
    var p = 0
    while (p < bits) {
      val h2 = XXH64.hashInt(p, h1)
      var s = 0.0
      var i = 0
      while (i < n) {
        val x = v.getFloat(i)
        s += (if ((XXH64.hashInt(i, h2) & 1L) == 1L) x else -x).toDouble
        i += 1
      }
      if (s >= 0) packed |= 1L << p
      p += 1
    }
    packed
  }
}

object VecExpressions {

  /** Collision-proof names the library join paths resolve through — a
    * user-registered `vec_dot` must never be able to hijack (or be
    * clobbered by) graft's internal scoring. */
  val InternalDot = "__graft_vec_dot"
  val InternalNorm = "__graft_vec_norm"
  val InternalSrpPacked = "__graft_vec_srp_packed"

  /** Idempotent session registration — the ANN join paths call this at
    * build time so library users need no explicit register step. Every
    * name, the public `vec_*` aliases and the `__graft_` internal names
    * alike, is claimed only while it is free: a library method like
    * lshTopK can never silently replace a function the user registered
    * under the same name, and the `__graft_` prefix makes an existing
    * internal binding necessarily ours. */
  def ensureRegistered(spark: SparkSession): Unit =
    SqlFunctions.install(spark, SqlFunctions.vec, replace = false)
}
