package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.io.Tables
import graft.window.Windows

/** Moving-window operator queries (SURVEY.md §2.5): rolling with
  * min_periods/center, shift/diff, ffill/bfill, coarsen. */
object QueriesWindow extends QueryFamily {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // rolling(window=7, min_periods=7).mean() per user series
    // (ref `computation/rolling.py:56`)
    "q27_rolling_mean" -> ((s, dir) => {
      val w = Windows.rolling(Seq(col("user_id")),
        Seq(col("ts"), col("event_id")), 7)
      val rsum = sum(col("value").cast(DecimalType(30, 6))).over(w).cast("double")
      val ravg = rsum / count(col("value")).over(w)
      Tables.events(s, dir)
        .withColumn("roll_mean",
          Windows.withMinPeriods(ravg, col("value"), w, 7))
        .select("event_id", "user_id", "roll_mean")
    }),

    // rolling center=True, min_periods=1 count (ref `rolling.py` center)
    "q27b_rolling_center" -> ((s, dir) => {
      val w = Windows.rollingCentered(Seq(col("user_id")),
        Seq(col("ts"), col("event_id")), 5)
      Tables.events(s, dir)
        .withColumn("roll_n", count(col("value")).over(w))
        .select("event_id", "user_id", "roll_n")
    }),

    // shift + diff along the dim order (ref `dataset.py:7967/7879`)
    "q28_shift_diff" -> ((s, dir) => {
      val w = Windows.rolling(Seq(col("user_id")),
        Seq(col("ts"), col("event_id")), 1)
      val base = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_value", Windows.shift(col("value"), 1, base))
        .withColumn("diff", Windows.diff(col("value"), base))
        .select("event_id", "user_id", "prev_value", "diff")
    }),

    // ffill over synthesized NULL runs (ref `dataset.py:6716`)
    "q29_ffill" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("value_masked",
          when(col("event_type") =!= "error", col("value")))
        .withColumn("value_ffill",
          Windows.ffill(col("value_masked"), Seq(col("user_id")),
            Seq(col("ts"), col("event_id"))))
        .select("event_id", "user_id", "value_ffill")
    }),

    // bfill with limit (ref `dataset.py:6780`, limit param)
    "q29b_bfill_limit" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("value_masked",
          when(col("event_type") =!= "error", col("value")))
        .withColumn("value_bfill",
          Windows.bfill(col("value_masked"), Seq(col("user_id")),
            Seq(col("ts"), col("event_id")), limit = Some(2)))
        .select("event_id", "user_id", "value_bfill")
    }),

    // coarsen: positional block aggregation (ref `rolling.py:1023` Coarsen)
    "q30_coarsen" -> ((s, dir) => {
      val pos = graft.model.Positions.zipWithIndex(
        Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
        Seq(col("o_orderkey")), "pos")
      pos.groupBy(Windows.coarsenKey(col("pos"), 1000).as("block"))
        .agg(count(lit(1)).as("n"),
          graft.model.XDataset.exactAvg(col("o_totalprice")).as("avg_price"))
    }),

    // coarsen.construct (ref `rolling.py:1103`): the (block, offset)
    // windowed VIEW of the coarsen axis — reducing it over offset equals
    // q30's coarsen aggregation
    "q141_coarsen_construct" -> ((s, dir) => {
      val pos = graft.model.Positions.zipWithIndex(
        Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
        Seq(col("o_orderkey")), "pos")
      pos.select(col("o_orderkey"),
        Windows.coarsenKey(col("pos"), 1000).as("block"),
        Windows.coarsenOffset(col("pos"), 1000).as("offset"),
        col("o_totalprice"))
    }),

    // rolling reductions beyond mean: sum/min/max + var/std, ddof 0 and 1
    // (ref `rolling.py` reduce; xarray std default ddof=0, pandas ddof=1)
    "q125_rolling_stats" -> ((s, dir) => {
      val w = Windows.rolling(Seq(col("user_id")),
        Seq(col("ts"), col("event_id")), 5)
      val v = col("value")
      Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        sum(v.cast(DecimalType(30, 8))).over(w).cast("double").as("roll_sum"),
        min(v).over(w).as("roll_min"),
        max(v).over(w).as("roll_max"),
        Windows.rollingVar(v, w, 5, 0).as("var0"),
        Windows.rollingVar(v, w, 5, 1).as("var1"),
        sqrt(Windows.rollingVar(v, w, 5, 1)).as("std1"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q27_rolling_mean" ->
      """SELECT event_id, user_id,
         CASE WHEN count(value) OVER w >= 7 THEN
           CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE)
             / count(value) OVER w END AS roll_mean
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    "q27b_rolling_center" ->
      """SELECT event_id, user_id, count(value) OVER w AS roll_n
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)""",
    "q28_shift_diff" ->
      """SELECT event_id, user_id,
         lag(value, 1) OVER w AS prev_value,
         value - lag(value, 1) OVER w AS diff
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "q29_ffill" ->
      """SELECT event_id, user_id,
         last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
         FROM events""",
    "q29b_bfill_limit" ->
      """SELECT event_id, user_id,
         last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS value_bfill
         FROM events""",
    "q141_coarsen_construct" ->
      """SELECT o_orderkey, CAST(floor(pos / 1000) AS BIGINT) AS block,
           CAST(pos % 1000 AS BIGINT) AS offset, o_totalprice
         FROM (SELECT o_orderkey, o_totalprice,
                 row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
               FROM orders)""",
    "q30_coarsen" ->
      """SELECT CAST(floor(pos / 1000) AS BIGINT) AS block, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
           / count(o_totalprice) AS avg_price
         FROM (SELECT o_totalprice,
                 row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
               FROM orders)
         GROUP BY 1""",
    // exact decimal window sums feed an identical double variance formula:
    // (s2 - s1*s1/n) / (n - ddof), full windows only
    "q125_rolling_stats" ->
      """SELECT event_id, user_id,
         CAST(sum(CAST(value AS DECIMAL(30,8))) OVER w AS DOUBLE) AS roll_sum,
         min(value) OVER w AS roll_min,
         max(value) OVER w AS roll_max,
         CASE WHEN count(value) OVER w = 5 THEN
           greatest((CAST(sum(CAST(value*value AS DECIMAL(30,8))) OVER w AS DOUBLE)
            - CAST(sum(CAST(value AS DECIMAL(30,8))) OVER w AS DOUBLE)
              * CAST(sum(CAST(value AS DECIMAL(30,8))) OVER w AS DOUBLE)
              / CAST(count(value) OVER w AS DOUBLE))
           / CAST(count(value) OVER w AS DOUBLE), 0.0) END AS var0,
         CASE WHEN count(value) OVER w = 5 THEN
           greatest((CAST(sum(CAST(value*value AS DECIMAL(30,8))) OVER w AS DOUBLE)
            - CAST(sum(CAST(value AS DECIMAL(30,8))) OVER w AS DOUBLE)
              * CAST(sum(CAST(value AS DECIMAL(30,8))) OVER w AS DOUBLE)
              / CAST(count(value) OVER w AS DOUBLE))
           / (CAST(count(value) OVER w AS DOUBLE) - 1), 0.0) END AS var1,
         sqrt(CASE WHEN count(value) OVER w = 5 THEN
           greatest((CAST(sum(CAST(value*value AS DECIMAL(30,8))) OVER w AS DOUBLE)
            - CAST(sum(CAST(value AS DECIMAL(30,8))) OVER w AS DOUBLE)
              * CAST(sum(CAST(value AS DECIMAL(30,8))) OVER w AS DOUBLE)
              / CAST(count(value) OVER w AS DOUBLE))
           / (CAST(count(value) OVER w AS DOUBLE) - 1), 0.0) END) AS std1
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)"""
  )
}
