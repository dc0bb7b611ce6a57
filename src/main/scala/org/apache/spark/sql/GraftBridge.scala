package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Column <-> Expression bridge. Spark 4 made these converters
  * `private[sql]` (Column is ColumnNode-backed in sql-api); extensions that
  * define native Catalyst expressions conventionally expose them via a
  * package-internal bridge. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A copy of the session with isolated SQL conf (shared context and
    * cache): lets a builder override session confs for one job without
    * racing concurrent queries on the original session. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Re-root a DataFrame's logical plan onto another session (same
    * SparkContext), so it executes under THAT session's conf. */
  def inSession(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical)

  /** A DataFrame reading a DataSource V2 table directly: no format name,
    * catalog or option is registered for it. */
  def ofTable(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))
}
