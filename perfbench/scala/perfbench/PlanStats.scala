package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Facts read from an executed plan. */
object PlanStats extends AdaptiveSparkPlanHelper {

  /** Output rows of the equi-joins in the plan (SQL metric). */
  def joinOutputRows(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum

  /** Levels of the fixed-level coverings the plan computes. */
  def coveringLevels(df: DataFrame): Seq[Int] =
    collect(df.queryExecution.executedPlan)(p => p).flatMap(_.expressions).flatMap(_.collect {
      case e if e.prettyName == "s2_covering_fixed_level" => e.children(1)
    }).collect { case Literal(v: Int, _) => v }.distinct
}
