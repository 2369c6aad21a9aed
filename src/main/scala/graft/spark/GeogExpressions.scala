package graft.spark

import org.apache.spark.sql.catalyst.expressions.{Add, And, CaseWhen, EqualTo, Expression, GetArrayItem, GreaterThan, If, LessThanOrEqual, Literal, Multiply, Size, Subtract}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/**
 * The geography and cell kernels of the `s2_*` SQL names, one static method
 * per name, typed in Catalyst types (`Array[Byte]` for GEOGRAPHY and WKB,
 * `UTF8String`, `ArrayData`, primitives). Whole-stage codegen calls them
 * directly (no Scala-function boxing, no catalyst<->scala converters);
 * [[NativeCall]] invokes the same method when it is interpreted. Null
 * handling stays in the expression (null in, null out, for predicates too):
 * a kernel never sees a null argument and never returns null.
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
    GeoCodec.encode(Geography.point(lon, lat))

  def coveringFixedLevel(b: Array[Byte], level: Int): ArrayData =
    new GenericArrayData(RegionCoverer.coverFixedLevel(GeoCodec.decode(b), level))

  def cellsWithRing(cov: ArrayData, ring: Int): ArrayData =
    new GenericArrayData(cellsWithNeighborsRing(cov.toLongArray(), ring))

  def coveringFixedLevelWithRing(b: Array[Byte], level: Int, ring: Int): ArrayData =
    new GenericArrayData(cellsWithNeighborsRing(
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

  // ---- parsers, serializers, validation and overlays
  def geogFromText(wkt: UTF8String): Array[Byte] =
    GeoCodec.encode(Wkt.read(wkt.toString, validate = true))
  def geogFromTextNoValidate(wkt: UTF8String): Array[Byte] =
    GeoCodec.encode(Wkt.read(wkt.toString, validate = false))
  def geogFromWkb(b: Array[Byte]): Array[Byte] = GeoCodec.encode(Wkb.read(b, validate = true))
  def geogFromWkbNoValidate(b: Array[Byte]): Array[Byte] =
    GeoCodec.encode(Wkb.read(b, validate = false))
  def asWkb(b: Array[Byte]): Array[Byte] = Wkb.write(GeoCodec.decode(b))
  def prepare(b: Array[Byte]): Array[Byte] = GeoCodec.prepare(b)

  def isValidReason(b: Array[Byte]): UTF8String =
    UTF8String.fromString(Validation.findError(GeoCodec.decode(b)).getOrElse(""))

  /** Overlay prefilter from the STORED blob coverings — skips the per-row
    * re-cover of both operands inside Overlay (empty blobs don't matter:
    * the empty-side short-circuits run before the hint is consulted). */
  private def storedDisjoint(a: Array[Byte], b: Array[Byte]): Some[Boolean] =
    Some(!Covering.unionsIntersect(GeoCodec.coveringOf(a), GeoCodec.coveringOf(b)))

  def intersection(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    GeoCodec.encode(Overlay.intersection(GeoCodec.decode(a), GeoCodec.decode(b),
      storedDisjoint(a, b)))
  def difference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    GeoCodec.encode(Overlay.difference(GeoCodec.decode(a), GeoCodec.decode(b),
      storedDisjoint(a, b)))
  def unionGeog(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    GeoCodec.encode(Overlay.union(GeoCodec.decode(a), GeoCodec.decode(b)))

  /** Re-covers the decoded geometry with RegionCoverer (the reference's
    * exact cell goldens) rather than reading the inline covering, which
    * blobs written by the earlier greedy coverer differ in. */
  def covering(b: Array[Byte]): ArrayData =
    new GenericArrayData(RegionCoverer.cover(GeoCodec.decode(b)))

  // ---- cell ops (pure long math; no geometry decode)
  def cellFromLonLat(lon: Double, lat: Double): Long = S2CellId.fromLonLatDegrees(lon, lat)
  def cellParent(id: Long, level: Int): Long = S2CellId.parentChecked(id, level)
  def cellChild(id: Long, k: Int): Long = S2CellId.childChecked(id, k)
  def cellLevel(id: Long): Int = if (S2CellId.isValid(id)) S2CellId.level(id) else -1
  def cellSortKey(id: Long): Long = id ^ Long.MinValue
  def cellRangeMin(id: Long): Long =
    if (S2CellId.isValid(id)) S2CellId.rangeMin(id) else S2CellId.Sentinel
  def cellRangeMax(id: Long): Long =
    if (S2CellId.isValid(id)) S2CellId.rangeMax(id) else S2CellId.Sentinel
  def cellContains(a: Long, b: Long): Boolean = S2CellId.contains(a, b)
  def cellIntersects(a: Long, b: Long): Boolean = S2CellId.intersects(a, b)
  def cellToken(id: Long): UTF8String = UTF8String.fromString(S2CellId.toToken(id))
  def cellFromToken(s: UTF8String): Long = S2CellId.fromToken(s.toString)
  def cellDebug(id: Long): UTF8String = UTF8String.fromString(S2CellId.toDebugString(id))
  def cellFromDebug(s: UTF8String): Long = S2CellId.fromDebugString(s.toString)
  def cellFromWkb(b: Array[Byte]): Long = Wkb.cellFromWkb(b)
  def arbitraryCellFromWkb(b: Array[Byte]): Long = Wkb.arbitraryCellFromWkb(b)

  def cellEdgeNeighbor(id: Long, k: Int): Long =
    if (!S2CellId.isValid(id) || k < 0 || k > 3) S2CellId.Sentinel
    else S2CellId.edgeNeighbors(id)(k)

  def cellAllNeighbors(id: Long): ArrayData =
    new GenericArrayData(if (S2CellId.isValid(id)) S2CellId.allNeighbors(id) else Array.empty[Long])

  def cellVertex(id: Long, k: Int): Array[Byte] =
    if (!S2CellId.isValid(id) || k < 0 || k > 3) GeoCodec.encode(Geography.emptyPoint)
    else GeoCodec.encode(Geography.Points(Vector(S2CellId.vertices(id)(k))))

  /** Distinct union of the input cells and their ring-`r` neighborhoods
    * (BFS over 8-neighbor steps) — the probe set of the dwithin join.
    * Crossing `r` rings of level-l cells takes more than r × kMinWidth(l)
    * of distance, so a ring chosen with r·minWidth >= radius is a
    * sufficient buffer at ANY level — that is what lets the join trade a
    * finer level (more shuffle keys) against a wider ring while staying
    * exact. Cells are deduped across origins so the exploded candidate
    * space stays minimal. */
  def cellsWithNeighborsRing(ids: Array[Long], ring: Int): Array[Long] = {
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var frontier = new java.util.ArrayList[java.lang.Long]()
    var i = 0
    while (i < ids.length) {
      if (out.add(ids(i))) frontier.add(ids(i))
      i += 1
    }
    var step = 0
    while (step < ring) {
      val next = new java.util.ArrayList[java.lang.Long]()
      var f = 0
      while (f < frontier.size()) {
        val nb = S2CellId.allNeighbors(frontier.get(f))
        var k = 0
        while (k < nb.length) {
          if (out.add(nb(k))) next.add(nb(k))
          k += 1
        }
        f += 1
      }
      frontier = next
      step += 1
    }
    val res = new Array[Long](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { res(j) = it.next(); j += 1 }
    res
  }

  // ---- bundled-data lookups (S2Data)
  def dataCity(name: UTF8String): Array[Byte] = S2Data.city(name.toString)
  def dataCountry(name: UTF8String): Array[Byte] = S2Data.country(name.toString)

  // ---- cast-graph kernels (SURVEY §1.4): cell <-> geography casts
  def cellCenterToGeog(id: Long): Array[Byte] =
    GeoCodec.encode(Geography.CellCenter(id))

  def cellToGeog(id: Long): Array[Byte] =
    if (!S2CellId.isValid(id)) GeoCodec.encode(Geography.Polygons(Vector.empty))
    else GeoCodec.encode(Geography.Polygons(Vector(Vector(S2CellId.vertices(id).toVector))))

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
    if (valid.isEmpty) GeoCodec.encode(Geography.Polygons(Vector.empty))
    else GeoCodec.encode(Geography.Polygons(
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

/** The `s2_dwithin_xyz` composite, also planned by [[SpatialJoinRewrite]]. */
object GeogExpressions {

  /**
   * Chord-band dwithin refine over hoisted unit vectors: when BOTH sides
   * are single plain points (xyz arrays of length 3 from `s2_point_xyz`,
   * computed once per input row), the pair is decided by comparing the
   * squared chord length against constants for radius*(1∓1e-9) — pure
   * codegen arithmetic, no blob decode, no kernel call. Only pairs inside
   * that ±1e-9 relative band (none in practice: fp divergence between this
   * chord and the kernel's atan2 angle is ~1e-15 relative) or with a
   * non-point side fall back to the exact `s2_dwithin` kernel, so the
   * result is bit-identical to s2_dwithin on every input. Null semantics
   * match s2_dwithin: xyz is null iff its blob is null, and every null
   * route lands in the nullIntolerant exact expression.
   */
  def dwithinXyzTree(lxyz: Expression, rxyz: Expression,
                     ga: Expression, gb: Expression, meters: Double): Expression = {
    val exact = NativeCall("s2_dwithin", Seq(ga, gb, Literal(meters)))
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
}
