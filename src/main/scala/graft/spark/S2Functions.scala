package graft.spark

import org.apache.spark.sql.SparkSession

import graft.core._

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
 * Each `s2_*` name has exactly one implementation. The hot predicates,
 * measures, accessors and cell casts are native Catalyst expressions
 * ([[GeogExpressions]], [[CellExpressions]]); the names below are the rest,
 * registered via `spark.udf.register`. DataFrame code reaches either form
 * by name through `call_function`. Catalyst still drives pushdown, pruning
 * and join planning around both.
 */
object S2Functions {

  // ------------------------------------------------------------ kernel fns
  // Shared, stateless, serializable function values for the names that have
  // no native expression. Each closes over nothing; the kernel objects are
  // JVM singletons per executor.

  val geogFromText: String => Array[Byte] =
    (wkt: String) => if (wkt == null) null else GeoCodec.encode(Wkt.read(wkt, validate = true))
  val geogFromTextNoValidate: String => Array[Byte] =
    (wkt: String) => if (wkt == null) null else GeoCodec.encode(Wkt.read(wkt, validate = false))
  val geogFromWkb: Array[Byte] => Array[Byte] =
    (b: Array[Byte]) => if (b == null) null else GeoCodec.encode(Wkb.read(b, validate = true))
  val geogFromWkbNoValidate: Array[Byte] => Array[Byte] =
    (b: Array[Byte]) => if (b == null) null else GeoCodec.encode(Wkb.read(b, validate = false))
  val asWkb: Array[Byte] => Array[Byte] =
    (b: Array[Byte]) => if (b == null) null else Wkb.write(GeoCodec.decode(b))
  val prepare: Array[Byte] => Array[Byte] =
    (b: Array[Byte]) => if (b == null) null else GeoCodec.prepare(b)

  // Null discipline (reference: DuckDB executors null-propagate for every
  // scalar, src/s2_accessors.cpp:44 Execute templates): null in -> null out.
  // Primitive-returning functions wrap in Option so Spark surfaces a true
  // SQL NULL; reference-returning ones return null directly.

  val isValidReason: Array[Byte] => String =
    (b: Array[Byte]) => if (b == null) null else Validation.findError(GeoCodec.decode(b)).getOrElse("")

  /** Overlay prefilter from the STORED blob coverings — skips the per-row
    * re-cover of both operands inside Overlay (empty blobs don't matter:
    * the empty-side short-circuits run before the hint is consulted). */
  private def storedDisjoint(a: Array[Byte], b: Array[Byte]): Some[Boolean] =
    Some(!Covering.unionsIntersect(GeoCodec.coveringOf(a), GeoCodec.coveringOf(b)))

  val intersection: (Array[Byte], Array[Byte]) => Array[Byte] =
    (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null
      else GeoCodec.encode(Overlay.intersection(GeoCodec.decode(a), GeoCodec.decode(b),
        storedDisjoint(a, b)))
  val difference: (Array[Byte], Array[Byte]) => Array[Byte] =
    (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null
      else GeoCodec.encode(Overlay.difference(GeoCodec.decode(a), GeoCodec.decode(b),
        storedDisjoint(a, b)))
  val unionGeog: (Array[Byte], Array[Byte]) => Array[Byte] =
    (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null
      else GeoCodec.encode(Overlay.union(GeoCodec.decode(a), GeoCodec.decode(b)))

  // s2_covering re-covers the decoded geometry with RegionCoverer (the
  // reference's exact cell goldens) rather than reading the inline
  // covering, which blobs written by the earlier greedy coverer differ in
  val covering: Array[Byte] => Array[Long] =
    (b: Array[Byte]) => if (b == null) null else RegionCoverer.cover(GeoCodec.decode(b))

  // ---- cell ops (pure long math; no geometry decode)
  val cellFromWkb: Array[Byte] => Option[Long] =
    (b: Array[Byte]) => if (b == null) None else Some(Wkb.cellFromWkb(b))
  val arbitraryCellFromWkb: Array[Byte] => Option[Long] =
    (b: Array[Byte]) => if (b == null) None else Some(Wkb.arbitraryCellFromWkb(b))
  val cellFromToken: String => Option[Long] =
    (s: String) => if (s == null) None else Some(S2CellId.fromToken(s))
  val cellIntersects: (Long, Long) => Boolean = (a: Long, b: Long) => S2CellId.intersects(a, b)
  val cellChild: (Long, Int) => Long = (id: Long, k: Int) => S2CellId.childChecked(id, k)
  val cellEdgeNeighbor: (Long, Int) => Long =
    (id: Long, k: Int) =>
      if (!S2CellId.isValid(id) || k < 0 || k > 3) S2CellId.Sentinel
      else S2CellId.edgeNeighbors(id)(k)
  val cellDebug: Long => String = (id: Long) => S2CellId.toDebugString(id)
  val cellAllNeighbors: Long => Array[Long] =
    (id: Long) => if (S2CellId.isValid(id)) S2CellId.allNeighbors(id) else Array.empty[Long]
  /** Distinct union of the input cells and their ring-`r` neighborhoods
    * (BFS over 8-neighbor steps) — the probe set of the dwithin join.
    * Crossing `r` rings of level-l cells takes more than r × kMinWidth(l)
    * of distance, so a ring chosen with r·minWidth >= radius is a
    * sufficient buffer at ANY level — that is what lets the join trade a
    * finer level (more shuffle keys) against a wider ring while staying
    * exact. Cells are deduped across origins so the exploded candidate
    * space stays minimal. */
  val cellsWithNeighborsRing: (Array[Long], Int) => Array[Long] =
    (ids: Array[Long], ring: Int) =>
      if (ids == null) null
      else {
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

  val cellFromDebug: String => Option[Long] =
    (s: String) => if (s == null) None else Some(S2CellId.fromDebugString(s))
  val cellVertex: (Long, Int) => Array[Byte] =
    (id: Long, k: Int) =>
      if (!S2CellId.isValid(id) || k < 0 || k > 3) GeoCodec.encode(Geography.emptyPoint)
      else GeoCodec.encode(Geography.Points(Vector(S2CellId.vertices(id)(k))))

  private val registeredSessions =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotent per-session registration — lets library entry points
    * (S2Join) rely on the SQL registry without requiring an explicit
    * register() call from the user. */
  def ensureRegistered(spark: SparkSession): Unit =
    if (registeredSessions.add(spark)) register(spark)

  /** Register every function under its reference-parity SQL name: the
    * UDFs above, then the native expressions. The two name sets are
    * disjoint. */
  def register(spark: SparkSession): Unit = {
    val r = spark.udf
    r.register("s2_geogfromtext", geogFromText)
    r.register("s2_geogfromtext_novalidate", geogFromTextNoValidate)
    r.register("s2_geogfromwkb", geogFromWkb)
    r.register("s2_geogfromwkb_novalidate", geogFromWkbNoValidate)
    r.register("s2_aswkb", asWkb)
    r.register("s2_prepare", prepare)
    r.register("s2_is_valid_reason", isValidReason)
    r.register("s2_intersection", intersection)
    r.register("s2_difference", difference)
    r.register("s2_union", unionGeog)
    r.register("s2_covering", covering)
    r.register("s2_cellfromwkb", cellFromWkb)
    r.register("s2_arbitrarycellfromwkb", arbitraryCellFromWkb)
    r.register("s2_cell_from_token", cellFromToken)
    r.register("s2_cell_intersects", cellIntersects)
    r.register("s2_cell_child", cellChild)
    r.register("s2_cell_edge_neighbor", cellEdgeNeighbor)
    r.register("s2_cell_debug", cellDebug)
    r.register("s2_cell_all_neighbors", cellAllNeighbors)
    r.register("s2_cell_from_debug", cellFromDebug)
    r.register("s2_cell_vertex", cellVertex)
    // native codegen expressions (cell math, casts, geography predicates,
    // measures, accessors and constructors; the geography builders also
    // enforce the reference's constant-argument contracts)
    CellExpressions.register(spark)
    GeogExpressions.register(spark)
    ()
  }
}
