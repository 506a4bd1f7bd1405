package graft.plans

import org.apache.spark.sql.catalyst.analysis.UpdateAttributeNullability
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEPropagateEmptyRelation, LogicalQueryStage, QueryStageExec}

/** AQE runtime rule: Spark's "Propagate Empty Relations" batch
  * (AQEPropagateEmptyRelation, ConvertToLocalRelation,
  * UpdateAttributeNullability), skipped on a plan that carries an
  * `observe` — pending or inside a materialized query stage — so the
  * observation stays in the executed plan. Stands in for the built-in
  * rule, which [[graft.Engine.session]] excludes; see its
  * excludedRules note.
  */
object ObservedEmptyPropagation extends Rule[LogicalPlan] {
  private val batch = Seq(AQEPropagateEmptyRelation, ConvertToLocalRelation,
    UpdateAttributeNullability)

  def apply(plan: LogicalPlan): LogicalPlan =
    if (observes(plan)) plan else batch.foldLeft(plan)((p, r) => r(p))

  private def observes(plan: LogicalPlan): Boolean = plan.exists {
    case _: CollectMetrics => true
    case s: LogicalQueryStage => observes(s.physicalPlan)
    case _ => false
  }

  private def observes(plan: SparkPlan): Boolean = plan.exists {
    case _: CollectMetricsExec => true
    case s: QueryStageExec => observes(s.plan)
    case _ => false
  }
}
