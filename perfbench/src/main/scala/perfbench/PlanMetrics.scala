package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Row counts read back from an executed plan's SQL metrics. */
object PlanMetrics {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => q +: nodes(q.plan)
    case o                        => o +: o.children.flatMap(nodes)
  }

  private def rowsOut(p: SparkPlan): Long =
    nodes(p).find(_.metrics.contains("numOutputRows"))
      .map(_.metrics("numOutputRows").value).getOrElse(0L)

  /** For an executed `Dedup.minhashPairs` frame: the candidate pairs that
    * reach the Jaccard verification, and the pairs it keeps. The optimizer
    * inlines `jaccard` into a predicate over the two shingle sets `sa` and
    * `sb` and pushes it into the join that brings `sb`; the candidates are
    * the rows of that join's side carrying `sa`. */
  def candidateAndVerified(pairs: DataFrame): (Long, Long) = {
    def onSets(c: org.apache.spark.sql.catalyst.expressions.Expression) =
      Set("sa", "sb").subsetOf(c.references.map(_.name).toSet)
    def candidates(p: SparkPlan) =
      p.children.find(_.output.exists(_.name == "sa")).map(rowsOut).getOrElse(0L)
    nodes(pairs.queryExecution.executedPlan).collectFirst {
      case j: BaseJoinExec if j.condition.exists(onSets) =>
        (candidates(j), j.metrics("numOutputRows").value)
      case f: FilterExec if onSets(f.condition) =>
        (rowsOut(f.child), f.metrics("numOutputRows").value)
    }.getOrElse((0L, 0L))
  }
}
