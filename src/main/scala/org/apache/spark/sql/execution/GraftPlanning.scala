package org.apache.spark.sql.execution

/** Package-private planning access for [[org.apache.spark.sql.GraftShims]]. */
object GraftPlanning {

  /** `qe`'s physical plan prepared by the rules `executedPlan` applies, minus
    * adaptive execution: the same preparations (exchange reuse included)
    * with no `InsertAdaptiveSparkPlan` in front, whatever the session's
    * `spark.sql.adaptive.enabled` says.
    */
  def withoutAqe(qe: QueryExecution): SparkPlan =
    QueryExecution.prepareForExecution(
      QueryExecution.preparations(qe.sparkSession, None, subquery = false),
      qe.sparkPlan.clone())
}
