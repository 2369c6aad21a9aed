package graft.spark

import org.apache.spark.sql.SparkSession

/**
 * Spark binding layer: registers every kernel operator as a SQL-callable
 * function (reference registers 53 scalars at extension load,
 * /root/reference/src/geography_extension.cpp:23-34 and
 * src/function_builder.cpp:6-43 — same surface, Spark-first mechanics).
 *
 * GEOGRAPHY is a BinaryType column holding the tagged blob encoding
 * (GeoCodec); S2_CELL / S2_CELL_CENTER are LongType (sign-flip via
 * s2_cell_sortkey for unsigned order); S2_CELL_UNION is ArrayType(LongType).
 *
 * Every `s2_*` name is one row of the table in [[SqlFunctions]]: a
 * [[NativeCall]] of one static [[S2Native]] kernel, inside whole-stage
 * codegen, with cells accepted in every geography slot. DataFrame code
 * reaches a name through `call_function`. Catalyst still drives pushdown,
 * pruning, constant folding and join planning around it.
 */
object S2Functions {

  private val registeredSessions =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotent per-session registration — lets library entry points
    * (S2Join) rely on the SQL registry without requiring an explicit
    * register() call from the user. */
  def ensureRegistered(spark: SparkSession): Unit =
    if (registeredSessions.add(spark)) register(spark)

  /** Register every `s2_*` function under its reference-parity SQL name,
    * replacing any existing binding. */
  def register(spark: SparkSession): Unit =
    SqlFunctions.install(spark, SqlFunctions.s2, replace = true)
}
