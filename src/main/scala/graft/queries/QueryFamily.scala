package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of registry queries, each built from the session and a data
  * directory, and the DuckDB oracle SQL for those of them that have one. */
trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
