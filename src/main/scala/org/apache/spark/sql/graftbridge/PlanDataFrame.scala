package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, LogicalPlan}

/** Compile-time bridge to `classic.Dataset.ofRows`, which is
  * `private[sql]`. The engine's `node_ct` statement hint needs to
  * rebuild a DataFrame from a transformed logical plan (per-relation
  * scan options injected); this is the supported-by-convention way
  * Spark extension libraries reach that factory. No behavior lives
  * here — it only re-exposes the one factory method and Spark's own
  * INSERT output resolution.
  */
object PlanDataFrame {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `rows` as `INSERT INTO table` by name stores them: the analyzer's
    * `AppendData` output resolution (store-assignment casts and checks,
    * which fail here), without the write. */
  def asInserted(spark: org.apache.spark.sql.SparkSession, table: String,
      rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val append = AppendData.byName(
      UnresolvedRelation(s.sessionState.sqlParser.parseMultipartIdentifier(table)),
      rows.queryExecution.analyzed)
    ofRows(s, s.sessionState.analyzer.executeAndCheck(append, new QueryPlanningTracker)
      .asInstanceOf[AppendData].query)
  }
}
