package graft.spark

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, If, IsNull, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types._

/**
 * The one SQL-scalar expression: `name(children)` calls the static kernel
 * method of `name`'s [[SqlFn]] entry in [[SqlFunctions.table]]. Whole-stage
 * codegen emits the direct static call; interpreted evaluation (constant
 * folding, codegen fallback) invokes the same method, resolved once by
 * reflection. Null in, null out: later arguments are not evaluated once one
 * is null, and a kernel never sees a null argument nor returns null.
 */
final case class NativeCall(name: String, children: Seq[Expression]) extends Expression {
  @transient private lazy val fn: SqlFn = SqlFunctions.byName(name)
  @transient private lazy val method: Method =
    fn.owner.getClass.getMethod(fn.method, fn.slots.map(s => CodeGenerator.javaClass(s.dataType)): _*)
  @transient private lazy val args: Array[Expression] = children.toArray

  override def dataType: DataType = fn.dataType
  override def nullable: Boolean = children.exists(_.nullable)
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = name
  override protected def flatArguments: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = {
    val values = new Array[AnyRef](args.length)
    var i = 0
    while (i < args.length) {
      val v = args(i).eval(input)
      if (v == null) return null
      values(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try method.invoke(fn.owner, values: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val owner = fn.owner.getClass.getName.stripSuffix("$")
    val assign = s"${ev.value} = $owner.${fn.method}(${gens.map(_.value).mkString(", ")});"
    val javaType = CodeGenerator.javaType(dataType)
    val init = s"$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (!nullable) {
      ev.copy(code = code"${gens.map(_.code.toString).mkString("\n")}\n$init\n$assign",
        isNull = FalseLiteral)
    } else {
      val body = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$assign") {
        case ((c, g), inner) => s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)}"
      }
      ev.copy(code = code"boolean ${ev.isNull} = true;\n$init\n$body")
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): NativeCall =
    copy(children = newChildren)
}

/** The kind of one argument slot: how a SQL argument binds to the kernel's
  * parameter. */
private[graft] sealed trait Slot {
  def dataType: DataType
  def coerce(e: Expression): Expression
}

/** A value of `dataType`, `Cast` when the argument's type differs other
  * than in nullability. */
private[graft] final case class Arg(dataType: DataType) extends Slot {
  def coerce(e: Expression): Expression =
    if (DataTypeUtils.equalsIgnoreNullability(e.dataType, dataType)) e else Cast(e, dataType)
}

/** A GEOGRAPHY: BINARY, or a cell (BIGINT) / cell union (ARRAY<BIGINT>)
  * taken as its polygon. The reference registers CELL -> GEOGRAPHY and
  * CELL_UNION -> GEOGRAPHY as implicit casts (src/s2_cell_ops.cpp:1034-1051),
  * so `SELECT s2_area(cell)` binds without an explicit `s2_cell_to_geog`;
  * invalid ids behave as in the explicit cast. VARCHAR stays explicit-only,
  * like the reference's string<->geography casts. */
private[graft] case object Geog extends Slot {
  val dataType: DataType = BinaryType
  def coerce(e: Expression): Expression = e.dataType match {
    case LongType | IntegerType => SqlFunctions.call("s2_cell_to_geog", e)
    case ArrayType(LongType, _) => SqlFunctions.call("s2_cellunion_to_geog", e)
    case _ => Arg(BinaryType).coerce(e)
  }
}

/** One SQL scalar: its name, the static kernel method it calls on `owner`,
  * its result type and one [[Slot]] per argument. `build` turns the coerced
  * arguments into the expression; the default is the [[NativeCall]], a
  * checked builder validates constant arguments first. */
private[graft] final class SqlFn(val name: String, val owner: AnyRef, val method: String,
                                 val dataType: DataType, val slots: Seq[Slot],
                                 build: (String, Seq[Expression]) => Expression = NativeCall(_, _)) {
  /** The registry's function builder: arity, slot coercion, then `build`. */
  def apply(args: Seq[Expression]): Expression = {
    require(args.size == slots.size, s"$name expects ${slots.size} argument(s)")
    build(name, args.zip(slots).map { case (a, s) => s.coerce(a) })
  }

  def alias(other: String): SqlFn = new SqlFn(other, owner, method, dataType, slots, build)
}

/**
 * Every `s2_*`, `vec_*` and text-normalize SQL scalar graft installs, in one
 * table (the reference registers its scalars through one FunctionBuilder,
 * src/include/function_builder.hpp); the llm scoring UDFs (doc_lang_id,
 * doc_fingerprint, simhash, ngram_jaccard) are not rows yet. Adding a
 * function is one entry here plus one kernel method. The
 * installers pick their rows: [[S2Functions.register]] the `s2` rows,
 * [[S2Boxes.register]] the `boxes` rows, [[S2Data.register]] the `data`
 * rows, [[VecExpressions.ensureRegistered]]
 * and [[TextExpressions.ensureRegistered]] the `vec` and `text` rows.
 */
private[graft] object SqlFunctions {
  private val G = Geog
  private val Bin = Arg(BinaryType)
  private val Str = Arg(StringType)
  private val I = Arg(IntegerType)
  private val L = Arg(LongType)
  private val D = Arg(DoubleType)
  private val Cells = Arg(ArrayType(LongType))
  private val CellsOut = ArrayType(LongType, containsNull = false)

  private def s2fn(name: String, method: String, dataType: DataType, slots: Slot*): SqlFn =
    new SqlFn(name, S2Native, method, dataType, slots)

  /** The value of a constant argument; None when it is not a constant or
    * folds to null. */
  private def constant(e: Expression): Option[Any] = if (e.foldable) Option(e.eval()) else None

  /** The reference's constant-level contract (src/s2_bounds.cpp:91-99). */
  private def fixedLevel(notConstant: String)(name: String, a: Seq[Expression]): Expression = {
    if (a.drop(1).exists(!_.foldable)) throw new IllegalArgumentException(s"$name(): $notConstant")
    constant(a(1)) match {
      case Some(level: Int) if level >= 0 && level <= 30 => NativeCall(name, a)
      case _ => throw new IllegalArgumentException(s"$name(): level must be between 0 and 30")
    }
  }

  val s2: Seq[SqlFn] = Seq(
    // predicates, measures and accessors
    s2fn("s2_intersects", "intersects", BooleanType, G, G),
    s2fn("s2_contains", "contains", BooleanType, G, G),
    s2fn("s2_dwithin", "dwithin", BooleanType, G, G, D),
    s2fn("s2_equals", "equalsGeog", BooleanType, G, G),
    s2fn("s2_mayintersect", "mayIntersect", BooleanType, G, G),
    s2fn("s2_distance", "distance", DoubleType, G, G),
    s2fn("s2_max_distance", "maxDistance", DoubleType, G, G),
    s2fn("s2_area", "area", DoubleType, G),
    s2fn("s2_perimeter", "perimeter", DoubleType, G),
    s2fn("s2_length", "lengthM", DoubleType, G),
    s2fn("s2_x", "x", DoubleType, G),
    s2fn("s2_y", "y", DoubleType, G),
    s2fn("s2_dimension", "dimension", IntegerType, G),
    s2fn("s2_num_points", "numPoints", IntegerType, G),
    s2fn("s2_isempty", "isEmptyBlob", BooleanType, G),
    s2fn("s2_is_valid", "isValid", BooleanType, G),
    s2fn("s2_is_valid_reason", "isValidReason", StringType, G),
    // constructors, serializers and overlays
    s2fn("s2_geogpoint", "geogPoint", BinaryType, D, D),
    s2fn("s2_geogfromtext", "geogFromText", BinaryType, Str),
    s2fn("s2_geogfromtext_novalidate", "geogFromTextNoValidate", BinaryType, Str),
    s2fn("s2_geogfromwkb", "geogFromWkb", BinaryType, Bin),
    s2fn("s2_geogfromwkb_novalidate", "geogFromWkbNoValidate", BinaryType, Bin),
    s2fn("s2_astext", "asText", StringType, G),
    s2fn("s2_aswkb", "asWkb", BinaryType, G),
    new SqlFn("s2_format", S2Native, "formatBlob", StringType, Seq(G, I), (name, a) => {
      // reference contract: src/s2_functions_io.cpp:166-169
      if (!a(1).foldable)
        throw new IllegalArgumentException("Can't use s2_format() with non-constant precision")
      NativeCall(name, a)
    }),
    s2fn("s2_prepare", "prepare", BinaryType, G),
    s2fn("s2_intersection", "intersection", BinaryType, G, G),
    s2fn("s2_difference", "difference", BinaryType, G, G),
    s2fn("s2_union", "unionGeog", BinaryType, G, G),
    // coverings and the join-refine surface
    s2fn("s2_covering", "covering", CellsOut, G),
    new SqlFn("s2_covering_fixed_level", S2Native, "coveringFixedLevel", CellsOut, Seq(G, I),
      fixedLevel("level must be a constant")),
    new SqlFn("s2_covering_fixed_level_with_ring", S2Native, "coveringFixedLevelWithRing",
      CellsOut, Seq(G, I, I), fixedLevel("level and ring must be constants")),
    s2fn("s2_cells_with_ring", "cellsWithRing", CellsOut, Cells, I),
    s2fn("s2_point_xyz", "pointXyz", ArrayType(DoubleType, containsNull = false), G),
    // a composite: the chord band over the xyz slots, the s2_dwithin kernel
    // outside it; meters must fold so the band constants are computed once.
    // A NULL in any slot gives NULL, as for every name: the band alone
    // would decide a pair whose geography is NULL.
    new SqlFn("s2_dwithin_xyz", S2Native, "dwithin", BooleanType,
      Seq(Arg(ArrayType(DoubleType)), Arg(ArrayType(DoubleType)), G, G, D), (name, a) =>
        constant(a(4)) match {
          case Some(m: Double) =>
            If(a.take(4).map(IsNull(_): Expression).reduce(Or(_, _)), Literal(null, BooleanType),
              GeogExpressions.dwithinXyzTree(a(0), a(1), a(2), a(3), m))
          case _ => throw new IllegalArgumentException(s"$name(): meters must be a constant")
        }),
    // cells (BIGINT) and cell unions (ARRAY<BIGINT>)
    s2fn("s2_cellfromlonlat", "cellFromLonLat", LongType, D, D),
    s2fn("s2_cellfromwkb", "cellFromWkb", LongType, Bin),
    s2fn("s2_arbitrarycellfromwkb", "arbitraryCellFromWkb", LongType, Bin),
    s2fn("s2_cell_from_token", "cellFromToken", LongType, Str),
    s2fn("s2_cell_from_debug", "cellFromDebug", LongType, Str),
    s2fn("s2_cell_token", "cellToken", StringType, L),
    s2fn("s2_cell_debug", "cellDebug", StringType, L),
    s2fn("s2_cell_level", "cellLevel", IntegerType, L),
    s2fn("s2_cell_parent", "cellParent", LongType, L, I),
    s2fn("s2_cell_child", "cellChild", LongType, L, I),
    s2fn("s2_cell_edge_neighbor", "cellEdgeNeighbor", LongType, L, I),
    s2fn("s2_cell_all_neighbors", "cellAllNeighbors", CellsOut, L),
    s2fn("s2_cell_vertex", "cellVertex", BinaryType, L, I),
    s2fn("s2_cell_contains", "cellContains", BooleanType, L, L),
    s2fn("s2_cell_intersects", "cellIntersects", BooleanType, L, L),
    s2fn("s2_cell_range_min", "cellRangeMin", LongType, L),
    s2fn("s2_cell_range_max", "cellRangeMax", LongType, L),
    s2fn("s2_cell_sortkey", "cellSortKey", LongType, L),
    // the cast graph (SURVEY §1.4), with the reference's error texts
    s2fn("s2_cellcenter_to_geog", "cellCenterToGeog", BinaryType, L),
    s2fn("s2_cell_to_geog", "cellToGeog", BinaryType, L),
    s2fn("s2_geog_to_cellcenter", "geogToCellCenter", LongType, G),
    s2fn("s2_cellunion_to_geog", "cellUnionToGeog", BinaryType, Cells),
    s2fn("s2_cellunion_normalize", "cellUnionNormalize", CellsOut, Cells),
    s2fn("s2_cellunion_from_list", "cellUnionFromList", CellsOut, Cells))

  val boxes: Seq[SqlFn] = {
    val box = Arg(S2Boxes.BoxType)
    def fn(name: String, method: String, dataType: DataType, slots: Slot*) =
      new SqlFn(name, S2Boxes, method, dataType, slots)
    Seq(
      fn("s2_bounds_box", "boundsBox", S2Boxes.BoxType, G),
      fn("s2_box", "box", S2Boxes.BoxType, D, D, D, D),
      fn("s2_box_intersects", "boxIntersects", BooleanType, box, box),
      fn("s2_box_union", "boxUnion", S2Boxes.BoxType, box, box),
      fn("s2_box_struct", "boxStruct", S2Boxes.BoxType, box),
      fn("s2_box_wkb", "boxWkb", BinaryType, box))
  }

  val data: Seq[SqlFn] = Seq(
    s2fn("s2_data_city", "dataCity", BinaryType, Str),
    s2fn("s2_data_country", "dataCountry", BinaryType, Str))

  val vec: Seq[SqlFn] = {
    val floats = Arg(ArrayType(FloatType))
    val dot = new SqlFn("vec_dot", VecNative, "vecDot", DoubleType, Seq(floats, floats))
    val norm = new SqlFn("vec_norm", VecNative, "vecNorm", DoubleType, Seq(floats))
    val srp = new SqlFn("vec_srp_packed", VecNative, "srpPacked", LongType, Seq(floats, I, I),
      (name, a) => {
        def const(i: Int, what: String): Int = constant(a(i)) match {
          case Some(v: Int) => v
          case _ => throw new IllegalArgumentException(s"vec_srp_packed(): $what must be a constant")
        }
        val bits = const(1, "bits")
        const(2, "seed")
        require(bits > 0 && bits <= 63, "vec_srp_packed(): bits must be in [1, 63]")
        NativeCall(name, a)
      })
    Seq(dot.alias(VecExpressions.InternalDot), norm.alias(VecExpressions.InternalNorm),
      srp.alias(VecExpressions.InternalSrpPacked), dot, norm, srp)
  }

  val text: Seq[SqlFn] = {
    val normalize = new SqlFn("text_normalize", TextNative, "normalize", StringType, Seq(Str))
    Seq(normalize.alias(TextExpressions.InternalNormalize), normalize,
      // the TextAnalysis SQL-surface alias
      normalize.alias("doc_normalize"))
  }

  val table: Seq[SqlFn] = s2 ++ boxes ++ data ++ vec ++ text
  val byName: Map[String, SqlFn] = table.map(f => f.name -> f).toMap

  /** `name(args)` built as the SQL surface builds it. */
  def call(name: String, args: Expression*): Expression = byName(name)(args)

  /** Bind `fns` in the session's function registry: `replace` rebinds an
    * existing name, otherwise a name is claimed only while it is free. */
  def install(spark: SparkSession, fns: Seq[SqlFn], replace: Boolean): Unit = {
    val reg = spark.sessionState.functionRegistry
    for (fn <- fns if replace || !reg.functionExists(FunctionIdentifier(fn.name)))
      reg.createOrReplaceTempFunction(fn.name, fn.apply _, "built-in")
  }
}
