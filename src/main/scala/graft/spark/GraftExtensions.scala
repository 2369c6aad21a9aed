package graft.spark

import org.apache.spark.sql.{Column, GraftShim, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{Decimal, LongType}

/**
 * SparkSessionExtensions entry point:
 *   spark.sql.extensions=graft.spark.GraftExtensions
 *
 * Injects [[SpatialJoinRewrite]], which turns a theta join on
 * s2_intersects / s2_contains / s2_dwithin(constant radius) into the
 * scalable cover-then-refine equi-join (SURVEY §2.8). Without the rule such
 * joins execute as BroadcastNestedLoopJoin — O(|L|*|R|) predicate
 * evaluations; with it they shuffle once on covering cells and evaluate the
 * exact predicate only on cell-colocated candidates. The DataFrame helpers
 * in [[S2Join]] plan through the same rule ([[SpatialJoinRewrite.planJoin]]),
 * so sessions without the extension get the identical join.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectOptimizerRule(_ => SpatialJoinRewrite)
  }
}

object SpatialJoinRewrite extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  /** Session override for the intersects/contains covering level:
    * `SET spark.graft.join.coveringLevel=8`. The refine predicate makes ANY
    * level correct; the level only tunes shuffle-key count vs per-row
    * covering cost, so this is purely a plan-quality knob. When unset the
    * level comes from the parallelism-and-count heuristic below. */
  val CoveringLevelConf = "spark.graft.join.coveringLevel"

  /** Dwithin shuffle-key cardinality knob: `SET
    * spark.graft.join.dwithinLevelOffset=k` covers at kMinWidth-level + k
    * with a ring of 2^k neighbors, which keeps the distance buffer exact
    * (crossing r rings takes > r·minWidth of distance) while multiplying
    * the global shuffle-key space by 4^k. A 300 km radius at offset 0 has
    * only ~384 level-3 cells worldwide — fine on local[32], a parallelism
    * cap on a 1000-executor cluster; offsets 1-2 trade a (2^k+... wider
    * probe explode (ring (2·2^k+1)² vs 9 cells) for 4^k more keys and
    * ~4^k/ring² fewer candidates per key. When unset the offset comes
    * from the parallelism-and-count heuristic below. */
  val DwithinLevelOffsetConf = "spark.graft.join.dwithinLevelOffset"

  private val DefaultCoveringLevel = 4
  // heuristic caps: fixed-level coverings of continent-sized polygons grow
  // 4^level per row (Russia at level 10 is ~200k exploded rows each carrying
  // the full blob), and each dwithin offset step widens the probe ring
  // (2·2^k+1)² — at the caps the worst-case input blowup is 16x / 2.8x.
  private val MaxHeuristicCoveringLevel = 6
  private val MaxHeuristicDwithinOffset = 2
  private val KeysPerPartition = 2

  /** Sizes at or above 1 PB are sentinels, not measurements. */
  private val UnknownBytes = BigInt(1) << 50

  /** Global S2 cell count at a level: 6 * 4^level. */
  private def cellsAtLevel(level: Int): BigInt = BigInt(6) << (2 * level)

  /** Row-count estimate for one join side. Uses rowCount stats when the
    * session provides them (CBO, Range, analyzed tables); otherwise each
    * LEAF's row count, else its scan bytes over its schema row width. Leaf
    * sizeInBytes are real file sizes — unlike join-OUTPUT sizeInBytes
    * (child-size products) and unknown-plan sentinels (Long.MaxValue), the
    * r5 failure modes — and a leaf with no row count and an implausible
    * (≥1 PB) size marks the side unknown rather than poisoning the
    * estimate. A row count is read before the size, so a leaf with an
    * exact count and the unknown-size default (the [[S2Data]] tables) is
    * known. None = unknown. */
  def estimatedRows(plan: LogicalPlan): Option[BigInt] =
    try {
      plan.stats.rowCount.orElse {
        val perLeaf = plan.collectLeaves().map { leaf =>
          val stats = leaf.stats
          stats.rowCount.orElse {
            val bytes = stats.sizeInBytes
            val rowWidth = 8L + leaf.output.map(_.dataType.defaultSize).sum
            if (bytes < 0 || bytes >= UnknownBytes) scala.None
            else Some(bytes / rowWidth)
          }
        }
        if (perLeaf.isEmpty || perLeaf.exists(_.isEmpty)) scala.None
        else Some(perLeaf.flatten.max)
      }
    } catch { case _: Throwable => scala.None }

  /** A side whose size the planner does not know: it reports the
    * unknown-size default (or another implausible ≥1 PB figure). */
  private def unknownSize(plan: LogicalPlan): Boolean =
    try plan.stats.sizeInBytes >= UnknownBytes catch { case _: Throwable => true }

  /** A side hint that keeps the side out of any broadcast, unless the user
    * already picked a strategy for it. */
  private def noBroadcast(h: Option[HintInfo]): Option[HintInfo] = h match {
    case Some(info) if info.strategy.isDefined => h
    case _ => Some(h.getOrElse(HintInfo()).copy(strategy = Some(NO_BROADCAST_HASH)))
  }

  /** Shuffle-key target for the heuristic: the shuffle partition count is
    * the one cluster-profile signal every deployment tunes (local[32] runs
    * 32, a 1000-executor cluster runs thousands), so the default aims for
    * [[KeysPerPartition]] keys per partition — and never more keys than the
    * larger side has rows to fill them with (finer is pure covering cost
    * once keys outnumber rows). Unknown rows trust the partition count:
    * the refine keeps any level correct, and a high-parallelism session is
    * strong evidence of cluster-scale data. */
  private def targetKeys(sqlConf: SQLConf, left: LogicalPlan, right: LogicalPlan): BigInt = {
    val fromParallelism = BigInt(sqlConf.numShufflePartitions.max(1)) * KeysPerPartition
    Seq(estimatedRows(left), estimatedRows(right)).flatten
      .maxOption.fold(fromParallelism)(_.min(fromParallelism))
  }

  private def bumpLevel(floor: Int, cap: Int, target: BigInt): Int = {
    var lvl = floor
    while (lvl < cap && cellsAtLevel(lvl) < target) lvl += 1
    lvl
  }

  /** Default covering level for a cover-then-refine join (explicit conf
    * handled by callers): floor 4, bumped while the global cell count at
    * the level undershoots the shuffle-key target, capped at 6. On
    * local[32] this always returns 4 (1536 cells ≥ 2·32); a
    * 4096-partition cluster session gets 6. */
  def defaultCoveringLevel(sqlConf: SQLConf, left: LogicalPlan, right: LogicalPlan): Int =
    bumpLevel(DefaultCoveringLevel, MaxHeuristicCoveringLevel, targetKeys(sqlConf, left, right))

  /** Default dwithin level offset: 0, bumped while the cell count at
    * (radius level + offset) undershoots the shuffle-key target, capped at
    * 2. A 300 km radius (level 3, 384 cells) stays 0 on local[32] and
    * reaches 2 (6144 cells) on a 4096-partition session. */
  def defaultDwithinOffset(sqlConf: SQLConf, baseLevel: Int,
                           left: LogicalPlan, right: LogicalPlan): Int =
    bumpLevel(baseLevel, baseLevel + MaxHeuristicDwithinOffset,
      targetKeys(sqlConf, left, right)) - baseLevel

  /** An integer join setting clamped to [0, max]; None when unset or
    * malformed. A tuning knob must never be able to fail the query it
    * tunes, so a bad value falls back to the heuristic. */
  private def levelSetting(sqlConf: SQLConf, key: String, max: Int): Option[Int] =
    sqlConf.getConfString(key, "").trim.toIntOption.map(_.max(0).min(max))

  /** Level for the intersects/contains shuffle key: [[CoveringLevelConf]]
    * when set, otherwise [[defaultCoveringLevel]]. */
  private def coveringLevel(sqlConf: SQLConf, left: LogicalPlan, right: LogicalPlan): Int =
    levelSetting(sqlConf, CoveringLevelConf, 20)
      .getOrElse(defaultCoveringLevel(sqlConf, left, right))

  /** Dwithin level offset: [[DwithinLevelOffsetConf]] when set, otherwise
    * [[defaultDwithinOffset]]. Shared with the streaming distance join
    * ([[graft.streaming.GeoEnrich.dwithinJoin]]). */
  private[graft] def dwithinOffset(sqlConf: SQLConf, baseLevel: Int,
                                   left: LogicalPlan, right: LogicalPlan): Int =
    levelSetting(sqlConf, DwithinLevelOffsetConf, 6)
      .getOrElse(defaultDwithinOffset(sqlConf, baseLevel, left, right))

  /** The equi-join key of a cell join: `c ^ (c >>> 32)`, the cell id with
    * its high word folded into its low one. The fold is a bijection, so a
    * join on it matches exactly the pairs the raw cell id matches, whatever
    * mix of levels the cells come from. A level-L cell id ends in a 1 bit
    * and 60 − 2L zeros, so a coarse cell's low word is one constant, and
    * Spark's long-keyed hash relation (`LongToUnsafeRowMap`), whose slot
    * multiplies the key by a 32-bit constant, gathers such keys into long
    * probe chains. The raw cell stays for everything else (the
    * smallest-common-cell check). */
  private[graft] def cellJoinKey(cell: Expression): Expression =
    BitwiseXor(cell, ShiftRightUnsigned(cell, Literal(32)))

  /** [[cellJoinKey]] for DataFrame code. */
  private[graft] def cellJoinKey(cell: Column): Column =
    GraftShim.column(cellJoinKey(GraftShim.expression(cell)))

  /** Marks a join this rule already produced, so later optimizer
    * iterations never re-match the refine filter once it gets pushed into
    * the cell join (tags survive transform copies; column-NAME sniffing,
    * the previous guard, broke on user tables that happen to carry a
    * `__cell` column). */
  private val RewrittenTag = TreeNodeTag[Boolean]("graft.spatialJoinRewritten")

  /** Constant radius of a dwithin conjunct: fold any numeric literal form
    * (Double, Float, Int/Long, Decimal — `lit(300000)` reaches the predicate as
    * an integer) to meters. Radius 0 is a legal dwithin (= intersects). */
  private def foldedMeters(e: Expression): Option[Double] = {
    if (!e.foldable) return scala.None
    val v = e.eval() match {
      case null => scala.None
      case d: Decimal => Some(d.toDouble)
      case n: java.lang.Number => Some(n.doubleValue())
      case _ => scala.None
    }
    v.filter(d => d >= 0 && !d.isNaN)
  }

  /** Recognize the spatial predicate calls by name (each name has one
    * form, its [[NativeCall]]). Returns (geogA, geogB, probeMeters):
    * probeMeters is None for intersects/contains, the constant radius for
    * dwithin. The
    * predicate expression itself is reused verbatim as the refine filter,
    * so argument order (contains is asymmetric) is never disturbed. */
  private def spatialPredicate(e: Expression): Option[(Expression, Expression, Option[Double])] =
    e match {
      case NativeCall("s2_intersects" | "s2_contains", Seq(g1, g2)) => Some((g1, g2, None))
      case NativeCall("s2_dwithin", Seq(g1, g2, m)) => foldedMeters(m).map(d => (g1, g2, Some(d)))
      case _ => None
    }

  /** An equality conjunct joining the two sides (a.id = b.id). When one is
    * present Spark already plans a hash/sort-merge join on that key with
    * the spatial predicate as a cheap post-filter — strictly better than a
    * double-explode cell join, so the rewrite must stand down. This also
    * makes re-rewriting impossible: the cell join this rule emits IS an
    * equi-join on the cell attribute. */
  private def hasEquiConjunct(conjuncts: Seq[Expression],
                              left: LogicalPlan, right: LogicalPlan): Boolean = {
    def spansSides(a: Expression, b: Expression): Boolean =
      a.references.nonEmpty && b.references.nonEmpty &&
        ((a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
          (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet)))
    conjuncts.exists {
      case EqualTo(a, b) => spansSides(a, b)
      case EqualNullSafe(a, b) => spansSides(a, b)
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case j: Join if j.getTagValue(RewrittenTag).isEmpty => rewritten(j, scala.None)
  }

  /** The DataFrame surface ([[S2Join]]): plans an analyzed join under the
    * session's conf, so sessions without the extension get the same
    * cover-then-refine join as the SQL rewrite. `level` overrides the
    * intersects/contains covering level. A join the rule does not match
    * comes back unchanged. */
  private[spark] def planJoin(sqlConf: SQLConf, j: Join, level: Option[Int]): LogicalPlan =
    SQLConf.withExistingConf(sqlConf)(rewritten(j, level))

  private def rewritten(j: Join, level: Option[Int]): LogicalPlan = j match {
    case Join(left, right, Inner, Some(cond), _) =>
      // a spatial predicate ANYWHERE among the conjuncts drives the rewrite
      // (real joins carry extra conditions — id ordering, attribute
      // filters); the FULL original condition stays as the refine filter,
      // so semantics are independent of which conjunct was picked
      val conjuncts = splitConjunctivePredicates(cond)
      if (hasEquiConjunct(conjuncts, left, right)) j
      else {
        val matched = conjuncts.iterator
          .map(c => (c, spatialPredicate(c)))
          .collectFirst { case (c, Some(m)) => (c, m) }
        matched match {
          case Some((spatial, (g1, g2, meters)))
              if g1.references.subsetOf(left.outputSet) && g2.references.subsetOf(right.outputSet) =>
            rewrite(j, spatial, conjuncts.filterNot(_ eq spatial), g1, g2, meters, level)
          case Some((spatial, (g1, g2, meters)))
              if g2.references.subsetOf(left.outputSet) && g1.references.subsetOf(right.outputSet) =>
            rewrite(j, spatial, conjuncts.filterNot(_ eq spatial), g2, g1, meters, level)
          case _ => j
        }
      }
    case _ => j
  }

  /**
   * Cover-then-refine with smallest-common-cell reporting:
   *
   *   explode(covering(geog)) on each side, equi-join on the cell, then keep
   *   a candidate pair only where the matched cell is the minimum cell the
   *   two covering arrays share, and finally apply the exact predicate.
   *
   * Each qualifying row pair survives on exactly ONE cell, so the rewrite
   * preserves inner-join multiplicity bit-for-bit (duplicate rows, rows
   * differing only in null placement, map-typed columns — nothing is hashed
   * or grouped) and needs no dedupe shuffle. Null geographies cover nothing:
   * their one null cell never matches in the cell join, matching the
   * null-predicate semantics of the plan being replaced.
   *
   * For dwithin one side's cells are expanded to their neighbour ring at a
   * level whose min cell width exceeds the radius, so every within-radius
   * pair shares a probe cell. The ring goes on the side with strictly fewer
   * estimated rows, the left when either estimate is unknown.
   *
   * Each side's covering (and, for dwithin, its point vector) is computed
   * once per input row, in the Project under the explode, and so is the
   * geography expression that feeds it: no optimizer rule copies them into
   * a filter below that Project (see `covered` and the refine condition).
   */
  private def rewrite(j: Join, spatial: Expression, others: Seq[Expression],
                      geogL: Expression, geogR: Expression, meters: Option[Double],
                      explicitLevel: Option[Int]): LogicalPlan = {
    val (left, right) = (j.left, j.right)
    val offset = meters.fold(0)(m => dwithinOffset(conf, S2Join.levelForDistance(m), left, right))
    val level = meters.fold(explicitLevel.getOrElse(coveringLevel(conf, left, right)))(m =>
      Math.min(S2Join.levelForDistance(m) + offset, 30))
    val ring = 1 << offset
    // the ring relation is symmetric (crossing r rings of cells takes more
    // than r·minWidth from either end), so the ring may go on either side;
    // on the smaller one it multiplies fewer rows ((2·ring+1)² cells each)
    val ringRight = meters.isDefined &&
      estimatedRows(right).exists(r => estimatedRows(left).exists(r < _))

    def covered(child: LogicalPlan, geog: Expression, side: String,
                withNeighbors: Boolean, withXyz: Boolean)
        : (LogicalPlan, Attribute, Attribute, Option[Attribute]) = {
      val cov: Expression =
        if (withNeighbors)
          NativeCall("s2_covering_fixed_level_with_ring", Seq(geog, Literal(level), Literal(ring)))
        else NativeCall("s2_covering_fixed_level", Seq(geog, Literal(level)))
      val covAlias = Alias(cov, s"__${side}_cov")()
      // dwithin only: hoist the point unit vector once per INPUT row so the
      // per-candidate refine is chord arithmetic, not a blob decode
      val xyzAlias =
        if (withXyz) Some(Alias(NativeCall("s2_point_xyz", Seq(geog)), s"__${side}_xyz")())
        else scala.None
      val tagged = Project(child.output ++ (covAlias +: xyzAlias.toSeq), child)
      // an OUTER explode: a null or empty covering yields one null cell,
      // which the inner cell join drops. InferFiltersFromGenerate gives an
      // inner explode of an attribute a `size(cov) > 0 AND isnotnull(cov)`
      // filter, and filter pushdown substitutes the aliases into it below
      // this Project, recomputing the covering and the geography per row
      val cellAttr = AttributeReference(s"__${side}_cell", LongType)()
      val gen = Generate(Explode(covAlias.toAttribute), unrequiredChildIndex = Nil,
        outer = true, qualifier = None, generatorOutput = Seq(cellAttr), child = tagged)
      (gen, covAlias.toAttribute, cellAttr, xyzAlias.map(_.toAttribute))
    }

    val (lPlan, lCov, lCell, lXyz) = covered(left, geogL, "l",
      withNeighbors = meters.isDefined && !ringRight, withXyz = meters.isDefined)
    val (rPlan, rCov, rCell, rXyz) = covered(right, geogR, "r",
      withNeighbors = ringRight, withXyz = meters.isDefined)

    // with no size for either side the planner broadcasts neither, and AQE
    // would broadcast whichever side's map stage ends first: the same join
    // flips plans from run to run, and the winner can be the blob-heavy
    // side (the countries' level-4 explode is 6.3 MB, the cities' 28 KB).
    // Such a join stays a shuffle join
    val hint =
      if (unknownSize(left) && unknownSize(right)) JoinHint(
        noBroadcast(j.hint.leftHint), noBroadcast(j.hint.rightHint))
      else j.hint
    val cellJoin = Join(lPlan, rPlan, Inner,
      Some(EqualTo(cellJoinKey(lCell), cellJoinKey(rCell))), hint)
    cellJoin.setTagValue(RewrittenTag, true)
    // evaluation-order discipline: the optimizer reorders bare conjuncts
    // when it folds filters into a join condition, so the cheap
    // non-spatial conjuncts (a pair prefilter such as id_a < id_b halves a
    // symmetric self-join's refine count) run first inside an If the
    // optimizer cannot split or reorder, then the exact spatial predicate
    // (same per-candidate work as the replaced plan), then the array
    // reporting condition on surviving pairs only. The If also keeps the
    // null-intolerant predicate from being a top-level conjunct, from
    // which InferFiltersFromConstraints would push an isnotnull(geog)
    // filter, and with it a second geography evaluation, under each side
    //
    // dwithin refines through the chord-band tree (bit-identical to the
    // matched s2_dwithin — see GeogExpressions.dwithinXyzTree)
    val refineSpatial = meters match {
      case Some(m) => GeogExpressions.dwithinXyzTree(lXyz.get, rXyz.get, geogL, geogR, m)
      case scala.None => spatial
    }
    // single-cell shortcut: exploded cells are distinct per row, so a
    // one-cell side means a pair meets on at most one cell and the array
    // reporting arithmetic can be skipped (point sides always hit this)
    val smallestCommonCell = Or(
      EqualTo(Size(rCov), Literal(1)),
      Or(EqualTo(Size(lCov), Literal(1)),
        EqualTo(lCell, ArrayMin(ArrayIntersect(lCov, rCov)))))
    val spatialThenReport = If(refineSpatial, smallestCommonCell, Literal.FalseLiteral)
    val refineCond = others.reduceOption(And) match {
      case Some(cheap) => If(cheap, spatialThenReport, Literal.FalseLiteral)
      case scala.None => spatialThenReport
    }
    val refined = Filter(refineCond, cellJoin)
    Project(j.output, refined)
  }
}
