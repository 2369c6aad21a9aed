package graft.spark

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-surface contract, checked for every row of the one function
  * table ([[SqlFunctions.table]]) so that a new name cannot skip it:
  * (a) its column is named after it and its analyzed plan holds no
  * ScalaUDF; (b) a typed NULL in any argument slot gives NULL — through
  * whole-stage codegen and through interpreted evaluation — except in a
  * constant-contract slot, whose builder raises its pinned
  * IllegalArgumentException; never an NPE or a ClassCastException. */
class SqlSurfaceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", false)
      .appName("graft-sql-surface").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    S2Functions.register(spark)
    S2Boxes.register(spark)
    S2Data.register(spark)
    VecExpressions.ensureRegistered(spark)
    TextExpressions.ensureRegistered(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** A constant argument of the slot's type, valid for every checked
    * builder (level, ring, precision, bits and seed 3; meters 1.5); a
    * BINARY is the point (1 2), a struct the box (0 1, 2 3). */
  private def sample(s: Slot): Literal = s.dataType match {
    case BinaryType => Literal(S2Native.geogPoint(1.0, 2.0))
    case StringType => Literal("POINT (1 2)")
    case IntegerType => Literal(3)
    case LongType => Literal(5L)
    case DoubleType => Literal(1.5)
    case t @ ArrayType(LongType, _) => Literal.create(Seq(5L), t)
    case t @ ArrayType(DoubleType, _) => Literal.create(Seq(1.0, 0.0, 0.0), t)
    case t @ ArrayType(FloatType, _) => Literal.create(Seq(1.0f, 2.0f), t)
    case t: StructType => Literal(InternalRow(0.0, 1.0, 2.0, 3.0), t)
  }

  /** The constant-contract slots and the message each builder raises
    * there for a NULL. */
  private val contracts: Map[(String, Int), String] = {
    val srp = Seq("vec_srp_packed", VecExpressions.InternalSrpPacked).flatMap(n => Seq(
      (n, 1) -> "vec_srp_packed(): bits must be a constant",
      (n, 2) -> "vec_srp_packed(): seed must be a constant"))
    (Seq(
      ("s2_covering_fixed_level", 1) ->
        "s2_covering_fixed_level(): level must be between 0 and 30",
      ("s2_covering_fixed_level_with_ring", 1) ->
        "s2_covering_fixed_level_with_ring(): level must be between 0 and 30",
      ("s2_dwithin_xyz", 4) -> "s2_dwithin_xyz(): meters must be a constant") ++ srp).toMap
  }

  /** Slots whose builder demands a constant but takes a NULL one. */
  private val constants: Set[(String, Int)] =
    contracts.keySet ++ Set(("s2_format", 1), ("s2_covering_fixed_level_with_ring", 2))

  private def call(fn: SqlFn, args: Seq[String]): String = s"${fn.name}(${args.mkString(", ")})"
  private def samples(fn: SqlFn): Seq[String] = fn.slots.map(sample(_).sql)

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("the table is the whole installed surface, one row and one kernel per name") {
    val names = SqlFunctions.table.map(_.name)
    assert(names.distinct.size === names.size)
    assert(names.size === 76)
    val reg = spark.sessionState.functionRegistry
    assert(names.filterNot(n => reg.functionExists(FunctionIdentifier(n))).isEmpty)
    assert(contracts.keySet.forall { case (n, i) => SqlFunctions.byName(n).slots.size > i })
    // interpreted on the samples, every kernel resolves and takes its slot
    // types (a sample may still be a bad value for it, e.g. not WKB)
    for (fn <- SqlFunctions.table) {
      val chain = try { fn(fn.slots.map(sample)).eval(); Nil } catch { case t: Throwable => causes(t) }
      assert(!chain.exists(c => c.isInstanceOf[NoSuchMethodException] ||
        c.isInstanceOf[NullPointerException] || c.isInstanceOf[ClassCastException]),
        s"${fn.name}: ${chain.headOption}")
    }
  }

  test("every name's column starts with its name, and no analyzed plan holds a ScalaUDF") {
    for (fn <- SqlFunctions.table) {
      val q = spark.sql(s"SELECT ${call(fn, samples(fn))}")
      // s2_dwithin_xyz builds its chord-band composite, whose column is
      // the IF tree around the s2_dwithin kernel
      val want = if (fn.name == "s2_dwithin_xyz") "(IF(" else s"${fn.name}("
      assert(q.columns.head.startsWith(want), s"${fn.name}: column ${q.columns.head}")
      val plan = q.queryExecution.analyzed.toString
      assert(!plan.contains("UDF"), s"ScalaUDF in ${fn.name}:\n$plan")
    }
  }

  test("a typed NULL in any slot gives NULL, or the slot's contract error") {
    // one row of typed NULLs read from an RDD: not foldable, so the calls
    // run inside whole-stage codegen (a constant slot takes a NULL literal)
    val types = SqlFunctions.table.flatMap(_.slots.map(_.dataType)).distinct
    val schema = StructType(types.zipWithIndex.map { case (t, i) => StructField(s"n$i", t) })
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row.fromSeq(types.map(_ => null))), 1),
      schema).createOrReplaceTempView("nulls")
    def nullArg(fn: SqlFn, i: Int): String = {
      val t = fn.slots(i).dataType
      if (constants((fn.name, i))) s"CAST(NULL AS ${t.sql})" else s"n${types.indexOf(t)}"
    }
    for (fn <- SqlFunctions.table) {
      val open = fn.slots.indices.filterNot(i => contracts.contains((fn.name, i)))
      val cols = open.map(i => call(fn, samples(fn).updated(i, nullArg(fn, i))))
      if (cols.nonEmpty) {
        val row = spark.sql(s"SELECT ${cols.mkString(", ")} FROM nulls").collect().head
        for (k <- open.indices) assert(row.isNullAt(k), cols(k))
      }
      // interpreted: the built expression evaluated on a NULL literal
      for (i <- open) {
        val args = fn.slots.map(sample).updated(i, Literal(null, fn.slots(i).dataType))
        assert(fn(args).eval() === null, s"${fn.name} slot $i (interpreted)")
      }
      for (i <- fn.slots.indices if contracts.contains((fn.name, i))) {
        val q = call(fn, samples(fn).updated(i, nullArg(fn, i)))
        val e = intercept[Exception](spark.sql(s"SELECT $q").collect())
        val chain = causes(e)
        assert(!chain.exists(c => c.isInstanceOf[NullPointerException] ||
          c.isInstanceOf[ClassCastException]), s"$q: $e")
        assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains(contracts((fn.name, i)))), s"$q: $e")
      }
    }
  }
}
