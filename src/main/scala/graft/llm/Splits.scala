package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting — the train/val/test assignment of a
  * training-data pipeline. Hash-based (not random): the split is a PURE
  * FUNCTION of the document id, so it is stable across runs, machines, and
  * engines, and any subset of the corpus reproduces the same assignment —
  * the property that matters when 100 TB is reprocessed incrementally.
  * Portable md5-prefix hash (not xxhash) so external systems can replay
  * the exact assignment. */
object Splits {

  /** Stable bucket in [0, buckets) from the id's md5 prefix (16 bits). */
  def splitBucket(id: Column, buckets: Int = 100): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** train/val/test label: first `trainPct` buckets are train, next
    * `valPct` are val, the rest test. */
  def assignSplit(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = splitBucket(id)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Group-holdout split (leakage hygiene): rows split by their GROUP
    * key's hash, so a group (user, session, document family) never
    * straddles train/val/test — the contract that makes eval scores
    * honest. Returns per-split row/group counts plus the global
    * straddle count, which is 0 by construction (the split is a pure
    * function of the group key) — emitted so the hygiene property is
    * part of the checked output, not an unstated assumption.
    *
    * Scale shape: one labeling projection, two hash aggregates, a
    * 1-row broadcast. */
  def groupHoldout(df: org.apache.spark.sql.DataFrame, group: String,
                   trainPct: Int = 80, valPct: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit, sum}
    val lab = df.withColumn("split",
      assignSplit(col(group), trainPct, valPct))
    val per = lab.groupBy(col("split"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(group)).as("n_groups"))
    val straddle = lab.groupBy(col(group))
      .agg(countDistinct(col("split")).as("__ns"))
      .agg(coalesce(sum(when(col("__ns") > 1, 1L).otherwise(0L)), lit(0L))
        .as("straddle_groups"))
    per.crossJoin(straddle)
  }
}
