package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal accessors for `Dataset.ofRows` and Column→Expression
  * conversion (both private[sql] in Spark 4) so graft's custom logical
  * operators can be built from public `Column`s and wrapped back into a
  * DataFrame — the two package-private doors a whole-operator extension
  * needs.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Expression → Column (private[sql] in Spark 4): lets operator code
    * apply a custom codegen Expression to arbitrary `Column`s without a
    * registry round-trip through SQL text. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** `t` with every field, element and value nullable at every depth
    * (`StructType.asNullable` is private[spark]). */
  def asNullable(t: types.StructType): types.StructType = t.asNullable

  /** Whether `st` is a shuffle map stage (`shuffleDepId` is
    * private[spark]): the final stage of the job AQE runs per query
    * stage. */
  def isShuffleMapStage(st: org.apache.spark.scheduler.StageInfo): Boolean =
    st.shuffleDepId.isDefined

  /** (connection url, table-or-query) of a JDBC relation, if `rel` is
    * one — `JDBCRelation` and `JDBCOptions` are private[sql], so the
    * lineage extractor names JDBC inputs through this door. */
  def jdbcIdentity(rel: sources.BaseRelation): Option[(String, String)] =
    rel match {
      case j: execution.datasources.jdbc.JDBCRelation =>
        Some((j.jdbcOptions.url, j.jdbcOptions.tableOrQuery))
      case _ => None
    }
}
