package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions (with doGenCode) for the hottest cell-math
 * operators: pure Long arithmetic that belongs inside whole-stage codegen
 * with no UDF serialization/conversion overhead. The calls compile to a
 * static JVM method invocation on the kernel, keeping the codegen span
 * unbroken (the brief's preference order: native Expression > UDF).
 *
 * `S2Functions.register` installs these as the only implementation of
 * their names; DataFrame code reaches them through `call_function`.
 */
object CellExpressions {

  case class S2CellFromLonLat(left: Expression, right: Expression)
      extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(lon: Any, lat: Any): Any =
      graft.core.S2CellId.fromLonLatDegrees(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.core.S2CellId.fromLonLatDegrees($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "s2_cellfromlonlat"
  }

  case class S2CellParentExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(cell: Any, lvl: Any): Any =
      graft.core.S2CellId.parentChecked(cell.asInstanceOf[Long], lvl.asInstanceOf[Int])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.core.S2CellId.parentChecked($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "s2_cell_parent"
  }

  case class S2CellLevelExpr(child: Expression)
      extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = IntegerType
    override def nullSafeEval(cell: Any): Any = {
      val id = cell.asInstanceOf[Long]
      if (graft.core.S2CellId.isValid(id)) graft.core.S2CellId.level(id) else -1
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"(graft.core.S2CellId.isValid($c) ? graft.core.S2CellId.level($c) : -1)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_cell_level"
  }

  case class S2CellSortKeyExpr(child: Expression)
      extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(cell: Any): Any =
      cell.asInstanceOf[Long] ^ Long.MinValue
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"($c ^ Long.MIN_VALUE)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_cell_sortkey"
  }

  case class S2CellRangeMinExpr(child: Expression)
      extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(cell: Any): Any = {
      val id = cell.asInstanceOf[Long]
      if (graft.core.S2CellId.isValid(id)) graft.core.S2CellId.rangeMin(id)
      else graft.core.S2CellId.Sentinel
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"(graft.core.S2CellId.isValid($c) ? graft.core.S2CellId.rangeMin($c) : -1L)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_cell_range_min"
  }

  case class S2CellRangeMaxExpr(child: Expression)
      extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(cell: Any): Any = {
      val id = cell.asInstanceOf[Long]
      if (graft.core.S2CellId.isValid(id)) graft.core.S2CellId.rangeMax(id)
      else graft.core.S2CellId.Sentinel
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"(graft.core.S2CellId.isValid($c) ? graft.core.S2CellId.rangeMax($c) : -1L)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_cell_range_max"
  }

  case class S2CellContainsExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any, b: Any): Any =
      graft.core.S2CellId.contains(a.asInstanceOf[Long], b.asInstanceOf[Long])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.core.S2CellId.contains($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "s2_cell_contains"
  }

  case class S2CellTokenExpr(child: Expression)
      extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override def nullSafeEval(cell: Any): Any =
      UTF8String.fromString(graft.core.S2CellId.toToken(cell.asInstanceOf[Long]))
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.core.S2CellId.toToken($c))")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_cell_token"
  }

  /** Cast-graph natives (SURVEY §1.4): the cell <-> geography casts, inside
    * the codegen span, with the reference's "Can't convert ..." /
    * "Cell not valid <...>" error texts. */
  case class S2CellCenterToGeogExpr(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override def nullSafeEval(cell: Any): Any =
      S2Native.cellCenterToGeog(cell.asInstanceOf[Long])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.spark.S2Native.cellCenterToGeog($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_cellcenter_to_geog"
  }

  case class S2CellToGeogExpr(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override def nullSafeEval(cell: Any): Any =
      S2Native.cellToGeog(cell.asInstanceOf[Long])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.spark.S2Native.cellToGeog($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_cell_to_geog"
  }

  case class S2GeogToCellCenterExpr(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(b: Any): Any =
      S2Native.geogToCellCenter(b.asInstanceOf[Array[Byte]])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.spark.S2Native.geogToCellCenter($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_geog_to_cellcenter"
  }

  case class S2CellUnionToGeogExpr(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override def nullSafeEval(ids: Any): Any =
      S2Native.cellUnionToGeog(ids.asInstanceOf[ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.spark.S2Native.cellUnionToGeog($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_cellunion_to_geog"
  }

  case class S2CellUnionNormalizeExpr(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(ids: Any): Any =
      S2Native.cellUnionNormalize(ids.asInstanceOf[ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.spark.S2Native.cellUnionNormalize($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_cellunion_normalize"
  }

  case class S2CellUnionFromListExpr(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(ids: Any): Any =
      S2Native.cellUnionFromList(ids.asInstanceOf[ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.spark.S2Native.cellUnionFromList($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_cellunion_from_list"
  }

  /** Install the native builders in the session's function registry. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def put1(name: String, f: Expression => Expression): Unit =
      reg.createOrReplaceTempFunction(name, { args: Seq[Expression] =>
        require(args.size == 1, s"$name expects 1 argument")
        f(args.head)
      }, "built-in")
    def put2(name: String, f: (Expression, Expression) => Expression): Unit =
      reg.createOrReplaceTempFunction(name, { args: Seq[Expression] =>
        require(args.size == 2, s"$name expects 2 arguments")
        f(args(0), args(1))
      }, "built-in")
    def d(e: Expression) = if (e.dataType == DoubleType) e else Cast(e, DoubleType)
    def l(e: Expression) = if (e.dataType == LongType) e else Cast(e, LongType)
    def i(e: Expression) = if (e.dataType == IntegerType) e else Cast(e, IntegerType)
    put2("s2_cellfromlonlat", (a, b) => S2CellFromLonLat(d(a), d(b)))
    put2("s2_cell_parent", (a, b) => S2CellParentExpr(l(a), i(b)))
    put1("s2_cell_level", a => S2CellLevelExpr(l(a)))
    put1("s2_cell_sortkey", a => S2CellSortKeyExpr(l(a)))
    put1("s2_cell_range_min", a => S2CellRangeMinExpr(l(a)))
    put1("s2_cell_range_max", a => S2CellRangeMaxExpr(l(a)))
    put2("s2_cell_contains", (a, b) => S2CellContainsExpr(l(a), l(b)))
    put1("s2_cell_token", a => S2CellTokenExpr(l(a)))
    def bin(e: Expression) = if (e.dataType == BinaryType) e else Cast(e, BinaryType)
    def arrL(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => e
      case _ => Cast(e, ArrayType(LongType))
    }
    put1("s2_cellcenter_to_geog", a => S2CellCenterToGeogExpr(l(a)))
    put1("s2_cell_to_geog", a => S2CellToGeogExpr(l(a)))
    put1("s2_geog_to_cellcenter", a => S2GeogToCellCenterExpr(bin(a)))
    put1("s2_cellunion_to_geog", a => S2CellUnionToGeogExpr(arrL(a)))
    put1("s2_cellunion_normalize", a => S2CellUnionNormalizeExpr(arrL(a)))
    put1("s2_cellunion_from_list", a => S2CellUnionFromListExpr(arrL(a)))
  }
}
