package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, And, BinaryExpression, CaseWhen, Cast, EqualTo, Expression, GetArrayItem, GreaterThan, If, LessThanOrEqual, Literal, Multiply, Size, Subtract, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/**
 * Static, primitive-typed kernel entry points for whole-stage codegen: the
 * generated Java calls these directly (no Scala-function boxing, no
 * Option allocation, no catalyst<->scala converters). Null handling stays in
 * the expression layer (nullIntolerant): null in, null out, for predicates
 * too (null, not false).
 */
object S2Native {

  /** Per-executor decode cache: repeated predicate evaluation against the
    * same blob (broadcast build sides, VALUES-joined polygons) reuses the
    * decoded shapes + lazy edge index instead of re-decoding per row —
    * the Spark analogue of the reference's per-chunk decoder reuse
    * (s2_binary_index_ops.cpp:290-292) + prepared-geometry dispatch. */
  private final class BytesKey(val bytes: Array[Byte]) {
    private val h = java.util.Arrays.hashCode(bytes)
    override def hashCode: Int = h
    override def equals(o: Any): Boolean = o match {
      case k: BytesKey => java.util.Arrays.equals(bytes, k.bytes)
      case _ => false
    }
  }
  /** Per-thread LRU of decoded shapes. Thread-local on purpose: a shared
    * map is contended by every executor thread on every predicate call, and
    * the previous clear-on-overflow policy turned >cap distinct blobs into
    * a cache-clear storm (observed: a 2880-distinct-point grid against a
    * 512 cap). An access-ordered LinkedHashMap evicts one entry at a time
    * and is touched by exactly one thread, so the hot path is a plain hash
    * lookup with no synchronization. Worst case per executor thread is
    * cap × largest-prepared-blob decoded size — bounded, and duplicated
    * decode across threads is the accepted cost of zero contention. */
  private val ShapeCacheCap = 512
  private val shapeCache = new ThreadLocal[java.util.LinkedHashMap[BytesKey, GeoShapes]] {
    override def initialValue(): java.util.LinkedHashMap[BytesKey, GeoShapes] =
      new java.util.LinkedHashMap[BytesKey, GeoShapes](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[BytesKey, GeoShapes]): Boolean =
          size() > ShapeCacheCap
      }
  }

  /** Two-slot per-thread identity cache in front of the value cache: in a
    * broadcast nested-loop or hash join the STREAM side's blob is the same
    * JVM array instance across the whole inner loop, so an `eq` check
    * replaces a full-array hash+compare per build row. Two slots because a
    * binary predicate alternates (streamGeog, buildGeog) lookups. */
  private val identCache = new ThreadLocal[Array[AnyRef]] {
    override def initialValue(): Array[AnyRef] = new Array[AnyRef](4)
  }

  private def shapes(b: Array[Byte]): GeoShapes = {
    val tl = identCache.get()
    if (tl(0) eq b) return tl(1).asInstanceOf[GeoShapes]
    if (tl(2) eq b) return tl(3).asInstanceOf[GeoShapes]
    val s = shapesByValue(b)
    tl(2) = tl(0); tl(3) = tl(1)
    tl(0) = b; tl(1) = s
    s
  }

  private def shapesByValue(b: Array[Byte]): GeoShapes = {
    // cache every PREPARED blob (the user explicitly asked for reuse —
    // broadcast build sides under 4 KiB must not re-decode per row);
    // unprepared blobs only when decode+index clearly beats hashing the key
    if (!GeoCodec.isPrepared(b) && b.length < 4096) return GeoCodec.decodeShapes(b)
    val cache = shapeCache.get()
    val key = new BytesKey(b)
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val s = GeoCodec.decodeShapes(b)
      cache.put(key, s)
      s
    }
  }

  /** Prepared blobs print their index form, not WKT (reference:
    * s2_functions_io.cpp:188-192, functions_io.test:43-52). */
  private def printBlob(b: Array[Byte], precision: Int): String =
    if (GeoCodec.isPrepared(b)) s"<S2ShapeIndex ${b.length} b>"
    else if (precision < 0) Wkt.write(GeoCodec.decode(b))
    else Wkt.write(GeoCodec.decode(b), precision)

  def intersects(a: Array[Byte], b: Array[Byte]): Boolean = {
    if (GeoCodec.isEmptyBlob(a) || GeoCodec.isEmptyBlob(b)) false
    else if (!Covering.unionsIntersect(GeoCodec.coveringOf(a), GeoCodec.coveringOf(b))) false
    else Relate.intersects(shapes(a), shapes(b))
  }

  def dwithin(a: Array[Byte], b: Array[Byte], meters: Double): Boolean =
    Relate.dwithin(shapes(a), shapes(b), meters)

  def contains(a: Array[Byte], b: Array[Byte]): Boolean = {
    if (GeoCodec.isEmptyBlob(a) || GeoCodec.isEmptyBlob(b)) false
    else Relate.contains(shapes(a), shapes(b))
  }

  def geogPoint(lon: Double, lat: Double): Array[Byte] =
    GeoCodec.encode(graft.core.Geography.point(lon, lat))

  def coveringFixedLevel(b: Array[Byte], level: Int): ArrayData =
    new GenericArrayData(RegionCoverer.coverFixedLevel(GeoCodec.decode(b), level))

  def cellsWithRing(cov: ArrayData, ring: Int): ArrayData =
    new GenericArrayData(S2Functions.cellsWithNeighborsRing(cov.toLongArray(), ring))

  def coveringFixedLevelWithRing(b: Array[Byte], level: Int, ring: Int): ArrayData =
    new GenericArrayData(S2Functions.cellsWithNeighborsRing(
      RegionCoverer.coverFixedLevel(GeoCodec.decode(b), level), ring))

  def formatBlob(b: Array[Byte], precision: Int): UTF8String =
    UTF8String.fromString(printBlob(b, precision))

  def asText(b: Array[Byte]): UTF8String =
    UTF8String.fromString(printBlob(b, -1))

  def distance(a: Array[Byte], b: Array[Byte]): Double =
    Relate.distanceMeters(shapes(a), shapes(b))

  def area(b: Array[Byte]): Double = S2Measure.areaMeters2(GeoCodec.decode(b))

  def equalsGeog(a: Array[Byte], b: Array[Byte]): Boolean =
    Relate.equalsGeog(shapes(a), shapes(b))

  def mayIntersect(a: Array[Byte], b: Array[Byte]): Boolean =
    !GeoCodec.isEmptyBlob(a) && !GeoCodec.isEmptyBlob(b) &&
      Covering.unionsIntersect(GeoCodec.coveringOf(a), GeoCodec.coveringOf(b))

  def isEmptyBlob(b: Array[Byte]): Boolean = GeoCodec.isEmptyBlob(b)

  def perimeter(b: Array[Byte]): Double = S2Measure.perimeterMeters(GeoCodec.decode(b))
  def lengthM(b: Array[Byte]): Double = S2Measure.lengthMeters(GeoCodec.decode(b))
  def x(b: Array[Byte]): Double = S2Measure.x(GeoCodec.decode(b))
  def y(b: Array[Byte]): Double = S2Measure.y(GeoCodec.decode(b))
  def dimension(b: Array[Byte]): Int = GeoCodec.decode(b).dimension
  def numPoints(b: Array[Byte]): Int = GeoCodec.decode(b).numPoints
  def isValid(b: Array[Byte]): Boolean = Validation.findError(GeoCodec.decode(b)).isEmpty

  def maxDistance(a: Array[Byte], b: Array[Byte]): Double =
    Relate.maxDistanceMeters(shapes(a), shapes(b))

  // ---- cast-graph kernels (SURVEY §1.4): cell <-> geography casts
  def cellCenterToGeog(id: Long): Array[Byte] =
    GeoCodec.encode(graft.core.Geography.CellCenter(id))

  def cellToGeog(id: Long): Array[Byte] =
    if (!S2CellId.isValid(id)) GeoCodec.encode(graft.core.Geography.Polygons(Vector.empty))
    else GeoCodec.encode(graft.core.Geography.Polygons(Vector(Vector(S2CellId.vertices(id).toVector))))

  def geogToCellCenter(b: Array[Byte]): Long =
    if (GeoCodec.isEmptyBlob(b)) S2CellId.Sentinel
    else if (GeoCodec.kindOf(b) == GeoCodec.KindCellCenter) GeoCodec.cellCenterIdOf(b)
    else S2Measure.singlePoint(GeoCodec.decode(b)) match {
      case Some(p) => S2CellId.fromPoint(p.x, p.y, p.z)
      case None => throw new IllegalArgumentException(
        "Can't convert geography that is not empty nor a single point to S2_CELL_CENTER")
    }

  def cellUnionToGeog(ids: ArrayData): Array[Byte] = {
    val valid = ids.toLongArray().filter(S2CellId.isValid)
    if (valid.isEmpty) GeoCodec.encode(graft.core.Geography.Polygons(Vector.empty))
    else GeoCodec.encode(graft.core.Geography.Polygons(
      valid.toVector.map(id => Vector(S2CellId.vertices(id).toVector))))
  }

  def cellUnionNormalize(ids: ArrayData): ArrayData =
    new GenericArrayData(Covering.normalize(ids.toLongArray()))

  def cellUnionFromList(ids: ArrayData): ArrayData = {
    val arr = ids.toLongArray()
    var i = 0
    while (i < arr.length) {
      if (!S2CellId.isValid(arr(i)))
        throw new IllegalArgumentException(
          s"Cell not valid <${S2CellId.toDebugString(arr(i))}>")
      i += 1
    }
    new GenericArrayData(Covering.normalize(arr))
  }

  private val EmptyXyz = new GenericArrayData(Array.emptyDoubleArray)

  /** Unit vector [x,y,z] of a SINGLE plain point geography; empty array for
    * anything else (empty, multipoint, lines, polygons, collections — those
    * take the exact-kernel path in the dwithin chord-band refine). Decoded
    * once per INPUT row by the join builders, before the covering explode,
    * so the per-candidate-pair refine never re-decodes point blobs. */
  def pointXyz(b: Array[Byte]): ArrayData = {
    val s = shapes(b)
    if (s.points.size == 1 && s.lines.isEmpty && s.polyGroups.isEmpty) {
      val p = s.points(0)
      new GenericArrayData(Array(p.x, p.y, p.z))
    } else EmptyXyz
  }
}

/**
 * Native Catalyst expressions for the hot geography predicates and
 * constructors (SURVEY §2.4/§2.8 refine path): these sit inside every
 * cover-then-refine join and every scan filter, so they get doGenCode and
 * live inside WholeStageCodegen instead of breaking the span with a UDF.
 * Each builder is the only implementation of its name, on the SQL surface
 * and (via `call_function`) the DataFrame surface alike; the
 * constant-argument contracts of the reference are enforced at build time
 * with the reference's exact error messages
 * (src/s2_functions_io.cpp:166-169, src/s2_bounds.cpp:91-99).
 */
object GeogExpressions {

  case class S2IntersectsExpr(left: Expression, right: Expression) extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any, b: Any): Any =
      S2Native.intersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.spark.S2Native.intersects($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "s2_intersects"
  }

  case class S2ContainsExpr(left: Expression, right: Expression) extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any, b: Any): Any =
      S2Native.contains(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.spark.S2Native.contains($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "s2_contains"
  }

  case class S2DwithinExpr(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any, b: Any, m: Any): Any =
      S2Native.dwithin(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
        m.asInstanceOf[Double])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, m) => s"graft.spark.S2Native.dwithin($a, $b, $m)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)
    override def prettyName: String = "s2_dwithin"
  }

  case class S2GeogPointExpr(left: Expression, right: Expression) extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override def nullSafeEval(lon: Any, lat: Any): Any =
      S2Native.geogPoint(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.spark.S2Native.geogPoint($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "s2_geogpoint"
  }

  case class S2CoveringFixedLevelExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(b: Any, lvl: Any): Any =
      S2Native.coveringFixedLevel(b.asInstanceOf[Array[Byte]], lvl.asInstanceOf[Int])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (b, l) => s"graft.spark.S2Native.coveringFixedLevel($b, $l)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "s2_covering_fixed_level"
  }

  case class S2CellsWithRingExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(cov: Any, ring: Any): Any =
      S2Native.cellsWithRing(cov.asInstanceOf[ArrayData], ring.asInstanceOf[Int])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (c, r) => s"graft.spark.S2Native.cellsWithRing($c, $r)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "s2_cells_with_ring"
  }

  case class S2CoveringFixedLevelWithRingExpr(first: Expression, second: Expression,
                                              third: Expression)
      extends TernaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(b: Any, lvl: Any, ring: Any): Any =
      S2Native.coveringFixedLevelWithRing(b.asInstanceOf[Array[Byte]],
        lvl.asInstanceOf[Int], ring.asInstanceOf[Int])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (b, l, r) =>
        s"graft.spark.S2Native.coveringFixedLevelWithRing($b, $l, $r)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                   t: Expression): Expression =
      copy(first = f, second = s, third = t)
    override def prettyName: String = "s2_covering_fixed_level_with_ring"
  }

  case class S2FormatExpr(left: Expression, right: Expression) extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override def nullSafeEval(b: Any, p: Any): Any =
      S2Native.formatBlob(b.asInstanceOf[Array[Byte]], p.asInstanceOf[Int])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (b, p) => s"graft.spark.S2Native.formatBlob($b, $p)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "s2_format"
  }

  case class S2PointXyzExpr(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(b: Any): Any = S2Native.pointXyz(b.asInstanceOf[Array[Byte]])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.spark.S2Native.pointXyz($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_point_xyz"
  }

  /**
   * Chord-band dwithin refine over hoisted unit vectors: when BOTH sides
   * are single plain points (xyz arrays of length 3 from [[S2PointXyzExpr]],
   * computed once per input row), the pair is decided by comparing the
   * squared chord length against constants for radius*(1∓1e-9) — pure
   * codegen arithmetic, no blob decode, no kernel call. Only pairs inside
   * that ±1e-9 relative band (none in practice: fp divergence between this
   * chord and the kernel's atan2 angle is ~1e-15 relative) or with a
   * non-point side fall back to the exact [[S2DwithinExpr]] kernel, so the
   * result is bit-identical to s2_dwithin on every input. Null semantics
   * match s2_dwithin: xyz is null iff its blob is null, and every null
   * route lands in the nullIntolerant exact expression.
   */
  def dwithinXyzTree(lxyz: Expression, rxyz: Expression,
                     ga: Expression, gb: Expression, meters: Double): Expression = {
    val exact: Expression = S2DwithinExpr(ga, gb, Literal(meters))
    // chord length caps at 2 (antipodal): beyond ~pi*R the band mapping is
    // no longer monotone, and radius 0 pins the band to a single fp value —
    // both take the kernel directly
    if (!(meters > 0.0) || meters >= 1.9e7) return exact
    def chord2(f: Double): Double = {
      val half = Math.min((meters * f) / S2EdgeDist.EarthRadiusMeters, Math.PI) / 2.0
      val c = 2.0 * Math.sin(half)
      c * c
    }
    val lo2 = chord2(1.0 - 1e-9)
    val hi2 = chord2(1.0 + 1e-9)
    def it(a: Expression, i: Int) = GetArrayItem(a, Literal(i))
    def sq(e: Expression) = Multiply(e, e)
    val dxyz2 = Add(
      Add(
        sq(Subtract(it(lxyz, 0), it(rxyz, 0))),
        sq(Subtract(it(lxyz, 1), it(rxyz, 1)))),
      sq(Subtract(it(lxyz, 2), it(rxyz, 2))))
    val bothPoints = And(EqualTo(Size(lxyz), Literal(3)), EqualTo(Size(rxyz), Literal(3)))
    If(bothPoints,
      CaseWhen(Seq(
        (LessThanOrEqual(dxyz2, Literal(lo2)), Literal.TrueLiteral),
        (GreaterThan(dxyz2, Literal(hi2)), Literal.FalseLiteral)), exact),
      exact)
  }

  /** Generic unary native expression over a static S2Native method —
    * mechanical accessors share one shape. */
  case class S2Unary1(child: Expression, method: String, dataType: DataType)
      extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(b: Any): Any = {
      val bytes = b.asInstanceOf[Array[Byte]]
      method match {
        case "asText" => S2Native.asText(bytes)
        case "area" => S2Native.area(bytes)
        case "isEmptyBlob" => S2Native.isEmptyBlob(bytes)
        case "perimeter" => S2Native.perimeter(bytes)
        case "lengthM" => S2Native.lengthM(bytes)
        case "x" => S2Native.x(bytes)
        case "y" => S2Native.y(bytes)
        case "dimension" => S2Native.dimension(bytes)
        case "numPoints" => S2Native.numPoints(bytes)
        case "isValid" => S2Native.isValid(bytes)
      }
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.spark.S2Native.$method($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "s2_" + method.toLowerCase
  }

  /** Generic binary geography->primitive native expression. */
  case class S2Binary2(left: Expression, right: Expression, method: String,
                       dataType: DataType) extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val ab = a.asInstanceOf[Array[Byte]]; val bb = b.asInstanceOf[Array[Byte]]
      method match {
        case "distance" => S2Native.distance(ab, bb)
        case "equalsGeog" => S2Native.equalsGeog(ab, bb)
        case "mayIntersect" => S2Native.mayIntersect(ab, bb)
        case "maxDistance" => S2Native.maxDistance(ab, bb)
      }
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.spark.S2Native.$method($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "s2_" + method.toLowerCase
  }

  /** Install the native builders in the session's function registry,
    * enforcing the reference's constant-argument contracts. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def put(name: String, n: Int)(f: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, { args: Seq[Expression] =>
        require(args.size == n, s"$name expects $n arguments")
        f(args)
      }, "built-in")
    // IMPLICIT CAST GRAPH into geography slots (r15, closes SURVEY §1.5's
    // last ergonomic delta; reference src/s2_cell_ops.cpp:1034-1051
    // registers CELL -> GEOGRAPHY and CELL_UNION -> GEOGRAPHY as IMPLICIT
    // casts, so `SELECT s2_area(cell)` binds without an explicit
    // s2_cell_to_geog call). Spark has no distinct CELL type — cells are
    // BIGINT, unions ARRAY<BIGINT> — so a long/array argument in a
    // geography slot takes the cell interpretation (invalid ids raise the
    // reference's "Cell not valid" error, same as the explicit cast).
    // VARCHAR stays non-implicit exactly like the reference (its
    // string<->geography casts are registered explicit-only).
    def bin(e: Expression) = e.dataType match {
      case BinaryType => e
      case LongType | IntegerType =>
        CellExpressions.S2CellToGeogExpr(
          if (e.dataType == LongType) e else Cast(e, LongType))
      case ArrayType(LongType, _) => CellExpressions.S2CellUnionToGeogExpr(e)
      case _ => Cast(e, BinaryType)
    }
    def d(e: Expression) = if (e.dataType == DoubleType) e else Cast(e, DoubleType)
    def i(e: Expression) = if (e.dataType == IntegerType) e else Cast(e, IntegerType)

    put("s2_intersects", 2)(a => S2IntersectsExpr(bin(a(0)), bin(a(1))))
    put("s2_contains", 2)(a => S2ContainsExpr(bin(a(0)), bin(a(1))))
    put("s2_astext", 1)(a => S2Unary1(bin(a(0)), "asText", StringType))
    put("s2_area", 1)(a => S2Unary1(bin(a(0)), "area", DoubleType))
    put("s2_isempty", 1)(a => S2Unary1(bin(a(0)), "isEmptyBlob", BooleanType))
    put("s2_distance", 2)(a => S2Binary2(bin(a(0)), bin(a(1)), "distance", DoubleType))
    put("s2_equals", 2)(a => S2Binary2(bin(a(0)), bin(a(1)), "equalsGeog", BooleanType))
    put("s2_mayintersect", 2)(a => S2Binary2(bin(a(0)), bin(a(1)), "mayIntersect", BooleanType))
    put("s2_max_distance", 2)(a => S2Binary2(bin(a(0)), bin(a(1)), "maxDistance", DoubleType))
    put("s2_perimeter", 1)(a => S2Unary1(bin(a(0)), "perimeter", DoubleType))
    put("s2_length", 1)(a => S2Unary1(bin(a(0)), "lengthM", DoubleType))
    put("s2_x", 1)(a => S2Unary1(bin(a(0)), "x", DoubleType))
    put("s2_y", 1)(a => S2Unary1(bin(a(0)), "y", DoubleType))
    put("s2_dimension", 1)(a => S2Unary1(bin(a(0)), "dimension", IntegerType))
    put("s2_num_points", 1)(a => S2Unary1(bin(a(0)), "numPoints", IntegerType))
    put("s2_is_valid", 1)(a => S2Unary1(bin(a(0)), "isValid", BooleanType))
    put("s2_dwithin", 3)(a => S2DwithinExpr(bin(a(0)), bin(a(1)), d(a(2))))
    put("s2_geogpoint", 2)(a => S2GeogPointExpr(d(a(0)), d(a(1))))
    put("s2_covering_fixed_level", 2) { a =>
      // reference contract: src/s2_bounds.cpp:91-99
      if (!a(1).foldable)
        throw new IllegalArgumentException("s2_covering_fixed_level(): level must be a constant")
      val lvl = Cast(a(1), IntegerType).eval() match {
        case x: java.lang.Integer => x.intValue
        case _ => -1
      }
      if (lvl < 0 || lvl > 30)
        throw new IllegalArgumentException("s2_covering_fixed_level(): level must be between 0 and 30")
      S2CoveringFixedLevelExpr(bin(a(0)), i(a(1)))
    }
    put("s2_cells_with_ring", 2)(a => S2CellsWithRingExpr(a(0), i(a(1))))
    put("s2_covering_fixed_level_with_ring", 3) { a =>
      // same constant-level contract as s2_covering_fixed_level
      if (!a(1).foldable || !a(2).foldable)
        throw new IllegalArgumentException(
          "s2_covering_fixed_level_with_ring(): level and ring must be constants")
      val lvl = Cast(a(1), IntegerType).eval() match {
        case x: java.lang.Integer => x.intValue
        case _ => -1
      }
      if (lvl < 0 || lvl > 30)
        throw new IllegalArgumentException(
          "s2_covering_fixed_level_with_ring(): level must be between 0 and 30")
      S2CoveringFixedLevelWithRingExpr(bin(a(0)), i(a(1)), i(a(2)))
    }
    put("s2_point_xyz", 1)(a => S2PointXyzExpr(bin(a(0))))
    put("s2_dwithin_xyz", 5) { a =>
      // internal join-refine surface: meters must fold so the chord-band
      // constants are computed once at plan time
      if (!a(4).foldable)
        throw new IllegalArgumentException("s2_dwithin_xyz(): meters must be a constant")
      Cast(a(4), DoubleType).eval() match {
        case m: java.lang.Double => dwithinXyzTree(a(0), a(1), bin(a(2)), bin(a(3)), m.doubleValue)
        case _ => throw new IllegalArgumentException("s2_dwithin_xyz(): meters must be a constant")
      }
    }
    put("s2_format", 2) { a =>
      // reference contract: src/s2_functions_io.cpp:166-169
      if (!a(1).foldable)
        throw new IllegalArgumentException("Can't use s2_format() with non-constant precision")
      S2FormatExpr(bin(a(0)), i(a(1)))
    }
  }
}
