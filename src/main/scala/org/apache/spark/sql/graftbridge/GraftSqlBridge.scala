package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` door a custom LogicalPlan needs: wrapping a plan
  * back into a DataFrame. Spark exposes no public constructor for this —
  * every extension library that contributes logical operators (Delta,
  * Iceberg, spark-nlp, …) hosts exactly this bridge in an
  * `org.apache.spark.sql` subpackage. Nothing else reaches through.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `checkpointed` (a checkpoint's `LogicalRDD`) with the size and row
    * count it carries over from its origin plan capped at `Long.MaxValue`.
    * A join's estimate is the product of its sides', so a state that joins
    * itself every round and is checkpointed doubles its estimate's digits
    * per round; after ~20 rounds planning spends seconds multiplying them.
    * No planning decision tells estimates past `Long.MaxValue` apart.
    */
  def capStats(checkpointed: DataFrame): DataFrame = checkpointed.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD
        if r.stats.sizeInBytes > Long.MaxValue || r.stats.rowCount.exists(_ > Long.MaxValue) =>
      val s = r.stats
      ofRows(checkpointed.sparkSession, r.copy()(
        checkpointed.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        Some(s.copy(sizeInBytes = s.sizeInBytes.min(Long.MaxValue),
          rowCount = s.rowCount.map(_.min(Long.MaxValue)))),
        Some(r.constraints)))
    case _ => checkpointed
  }
}
