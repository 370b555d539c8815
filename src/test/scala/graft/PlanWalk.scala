package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Physical-plan walks shared by the plan-shape specs. */
object PlanWalk {

  /** EVERY physical node, descending through AQE wrappers, query stages,
    * cached-relation boundaries and eagerly executed commands'
    * `CommandResultExec` wrappers — `executedPlan.flatMap` alone stops
    * at AdaptiveSparkPlanExec's leaf and inspects nothing beneath it,
    * which made expression tripwires vacuous for shuffle-bearing queries. */
  def flattenAll(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flattenAll(a.executedPlan)
    case q: QueryStageExec => p +: flattenAll(q.plan)
    case c: InMemoryTableScanExec => p +: flattenAll(c.relation.cachedPlan)
    case cr: CommandResultExec => p +: flattenAll(cr.commandPhysicalPlan)
    case _ => p +: p.children.flatMap(flattenAll)
  }

  /** Every expression of every node [[flattenAll]] reaches. */
  def allExpressions(df: DataFrame): Seq[Expression] =
    flattenAll(df.queryExecution.executedPlan)
      .flatMap(_.expressions).flatMap(_.collect { case e => e })
}
