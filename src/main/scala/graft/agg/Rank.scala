package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Positions

/** Distributed rank (ref `dataset.py:8416`; bottleneck `rankdata`
  * average-tie semantics).
  *
  * `rank().over(Window.orderBy(v))` moves ALL data to one partition — fine
  * for the reference's in-memory arrays, wrong at 100 TB. This version
  * builds global ordinals via range-partitioned sort + per-partition
  * offsets ([[Positions.zipWithIndex]]), then resolves ties with a
  * per-value aggregation joined back: rank_avg(x) = mean of (ordinal+1)
  * over the tie group. Two shuffles, no single-task stage.
  *
  * NULL values are missing, as xarray's `rank` (bottleneck `nanrankdata`)
  * treats NaN: they get a NULL rank and take no ordinal, and `pct`
  * divides by the non-NULL count.
  */
object Rank {

  /** Attach `outCol` = average-tie rank of `valueCol` (1-based). Pass
    * `pct = true` for rank/n (xarray pct=True). */
  def avgRank(df: DataFrame, valueCol: String, outCol: String,
              pct: Boolean = false): DataFrame = {
    val present = df.filter(col(valueCol).isNotNull)
    val pos = "__rank_pos"
    val perValue = Positions.zipWithIndex(present, Seq(col(valueCol)), pos)
      .groupBy(col(valueCol).as("__rank_v"))
      .agg(avg(col(pos) + 1).as("__rank_avg"))
    val n = if (pct) Some(present.count().toDouble) else None
    val joined = df
      .join(perValue, col(valueCol) === col("__rank_v"), "left")
      .drop("__rank_v")
    val out = n match {
      case Some(total) => joined.withColumn(outCol, col("__rank_avg") / total)
      case None        => joined.withColumn(outCol, col("__rank_avg"))
    }
    out.drop("__rank_avg")
  }

  /** Value-level average-tie rank map via a TWO-LEVEL distributed
    * prefix: ranks need only the distinct-value frame — per-value counts,
    * a within-bucket prefix (window partitioned by a monotone bucket of
    * the value), and [[Positions.bucketOffsets]] over the bucket totals
    * (bounded by range/width, not rows). rank(v) = below(v) + (cnt(v)+1)/2
    * — the identical half-integer [[avgRank]]'s ordinal average produces,
    * with no per-row ordinal pass and no global window over values. NULL
    * values take no rank and have no entry.
    *
    * @param bucket monotone non-decreasing function of the value column
    * @return (value, rank) map — join it back on the value */
  def avgRankMap(df: DataFrame, valueCol: String,
                 bucket: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pv = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__b", bucket(col("__v")))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Positions.bucketOffsets(pv, "__b", sum(col("__c")).as("__off"))
      .select(col("__v"),
        (col("__off") + coalesce(sum(col("__c")).over(wIn), lit(0L)) +
          (col("__c") + 1) / lit(2.0)).as("__r"),
        col("__c"))
  }

  /** argsort along a per-group series (ref `dataarray.py` `argsort` →
    * numpy): for sort rank k (0-based), the ORIGINAL 0-based position of
    * the k-th smallest value — ties stable on position, numpy's
    * stable-sort contract. One per-group window each way; group
    * cardinality, not series length, carries the parallelism. */
  def argsort(df: DataFrame, by: Seq[String], pos: String,
              v: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULLS LAST: numpy sorts NaN last and DuckDB's ASC default agrees;
    // Spark's ascending default (NULLS FIRST) would diverge on any group
    // containing a missing value
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col(v).asc_nulls_last, col(pos))
    df.withColumn("k", row_number().over(w) - 1)
      .select(by.map(col) :+ col("k") :+ col(pos).as("idx"): _*)
  }

  /** searchsorted (ref `dataarray.py` `searchsorted` → numpy,
    * side="left"): for each literal probe `t`, the index where `t` would
    * insert into the group's SORTED values = the count of values
    * strictly below `t`. Pure scan-stage explode over the literal probe
    * list + one hash agg — no sort anywhere. */
  def searchSorted(df: DataFrame, by: Seq[String], v: String,
                   probes: Seq[Double]): DataFrame = {
    // distinct is the property that matters: duplicate probes would
    // collapse into one (group, t) bucket and double its count; order is
    // irrelevant (each probe's count is independent)
    require(probes.nonEmpty && probes == probes.distinct,
      s"probes must be non-empty and distinct: $probes")
    df.select(by.map(col) :+ col(v) :+
        explode(array(probes.map(lit): _*)).as("t"): _*)
      .groupBy(by.map(col) :+ col("t"): _*)
      .agg(sum(when(col(v) < col("t"), 1L).otherwise(0L)).as("insert_idx"))
  }
}
