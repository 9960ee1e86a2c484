package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's `private[sql]` session cloning and plan-to-Dataset
  * construction, so graft can rebind the leaves of a streaming plan to a
  * session of its own while the Dataset stays on the caller's session. */
object GraftSessionBridge {

  /** A copy of `spark` with its own SQL conf; it shares the SparkContext
    * and the shared state (catalog, cache) with `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `data` with `f` applied to its logical plan, on the same session and
    * with the same encoder. */
  def mapPlan[T](data: Dataset[T])(f: LogicalPlan => LogicalPlan): Dataset[T] = {
    val ds = data.asInstanceOf[classic.Dataset[T]]
    new classic.Dataset[T](ds.sparkSession, f(ds.queryExecution.logical),
      ds.encoder)
  }
}
