package graft.obs

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

object Plans {
  /** Every node of `plan`, parents first. Under adaptive execution the
    * plan is an `AdaptiveSparkPlanExec` over `QueryStageExec`s, both
    * leaves to `SparkPlan.collect`; this walk descends into them. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case o => o.children.flatMap(nodes)
  })
}
