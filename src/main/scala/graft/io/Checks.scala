package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality checks (the dbt-test / Great-Expectations
  * verbs) — each check reduces to ONE summary row (check, n_violations,
  * n_total); a suite is the union of these 1-row aggregates, so the
  * whole contract report is a handful of scans with nothing collected.
  * All counts exact integers. */
object Checks {

  /** Referential integrity: child keys that never join a parent key.
    * Violations = child rows whose non-null key misses the parent
    * (a broadcast-able distinct-parent anti-join at dim scale; a
    * shuffled one otherwise — Catalyst picks). */
  def fkCheck(name: String, child: DataFrame, key: String,
              parent: DataFrame, pkey: String): DataFrame = {
    val viol = child.filter(col(key).isNotNull)
      .join(parent.select(col(pkey)).distinct(),
        col(key) === col(pkey), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    val tot = child.agg(count(lit(1)).as("n_total"))
    viol.crossJoin(tot)
      .select(lit(name).as("check"), col("n_violations"), col("n_total"))
  }

  /** Row-predicate check: violations = rows where `ok` is false/null. */
  def predicateCheck(name: String, df: DataFrame, ok: Column): DataFrame =
    df.agg(
        sum(when(ok, 0L).otherwise(1L)).cast("long").as("n_violations"),
        count(lit(1)).as("n_total"))
      .select(lit(name).as("check"), col("n_violations"), col("n_total"))

  /** Uniqueness: violations = rows beyond the first per key value. */
  def uniqueCheck(name: String, df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(sum(col("__n") - 1).cast("long").as("n_violations"),
        sum(col("__n")).cast("long").as("n_total"))
      .select(lit(name).as("check"), col("n_violations"), col("n_total"))

  /** A suite is the union of its checks' 1-row summaries. */
  def suite(checks: Seq[DataFrame]): DataFrame = checks.reduce(_ union _)
}
