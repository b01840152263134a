package org.apache.spark.sql
package graftshim

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over an already-built logical plan. Spark 4 hides the
  * plan → Dataset factory behind `private[sql]` (`classic.Dataset.ofRows`);
  * same convention as [[ColumnBridge]]: no Spark internals are modified.
  */
object PlanFrame {
  def apply(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
