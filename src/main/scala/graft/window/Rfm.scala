package graft.window

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RFM (recency / frequency / monetary) segmentation — the classic
  * customer-analytics verb: per user, seconds since last activity,
  * event count, and purchase cents, each scored 1..4 by its quartile
  * position, concatenated into a 64-cell segment grid.
  *
  * Exactness: R/F/M are integers; quartiles at the EXACT binary
  * fractions 0.25/0.5/0.75 over integer-valued columns interpolate to
  * exact quarter-valued doubles (the `agg/Robust` contract), so every
  * `v > q` score comparison is ulp-safe on every engine. Recency scores
  * invert (lower = better = 4).
  *
  * Scale shape: one per-user aggregate, a 1-row quartile-bounds
  * broadcast, one per-segment aggregate. No windows. */
object Rfm {

  /** @param events (userCol, tsCol, typeCol, valueCol)
    * @param purchaseType the typeCol level whose valueCol sums into M
    * @return per segment: n_users, monetary cents total */
  def segments(events: DataFrame, userCol: String, tsCol: String,
               typeCol: String, valueCol: String,
               purchaseType: String): DataFrame = {
    val per = events.groupBy(col(userCol))
      .agg(max(unix_micros(col(tsCol))).as("__last"),
        count(lit(1)).as("f"),
        coalesce(sum(when(col(typeCol) === purchaseType,
          round(col(valueCol) * 100).cast("long"))), lit(0L)).as("m"))
    val anchor = per.agg(max(col("__last")).as("__anchor"))
    val rfm = per.crossJoin(anchor)
      .withColumn("r", expr("(__anchor - __last) div 1000000"))
      .select(col(userCol), col("r"), col("f"), col("m"))
    val qs = rfm.agg(
      percentile(col("r"), lit(0.25)).as("r1"),
      percentile(col("r"), lit(0.5)).as("r2"),
      percentile(col("r"), lit(0.75)).as("r3"),
      percentile(col("f"), lit(0.25)).as("f1"),
      percentile(col("f"), lit(0.5)).as("f2"),
      percentile(col("f"), lit(0.75)).as("f3"),
      percentile(col("m"), lit(0.25)).as("m1"),
      percentile(col("m"), lit(0.5)).as("m2"),
      percentile(col("m"), lit(0.75)).as("m3"))
    def up(v: String, q: String) =
      lit(1) + (col(v) > col(s"${q}1")).cast("int") +
        (col(v) > col(s"${q}2")).cast("int") +
        (col(v) > col(s"${q}3")).cast("int")
    rfm.crossJoin(qs)
      .withColumn("rs", lit(5) - up("r", "r")) // recent = low r = high score
      .withColumn("fs", up("f", "f"))
      .withColumn("ms", up("m", "m"))
      .groupBy(concat(col("rs"), col("fs"), col("ms")).as("segment"))
      .agg(count(lit(1)).as("n_users"), sum(col("m")).as("monetary_c"))
  }
}
