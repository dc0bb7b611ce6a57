package graft.window

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CUSUM changepoint detection over an aggregated integral series —
  * the pipeline-monitoring verb ("when did the corpus mix / revenue /
  * ingest volume shift level?").
  *
  * Statistic: the classic CUSUM mean-shift estimator. With prefix sums
  * S_t over n buckets and the grand total S_n, the cumulative deviation
  * from the fitted flat line is C_t = S_t − (t/n)·S_n; the changepoint
  * estimate is argmax_t |C_t| (the point where the pre/post mean split
  * explains the most). Everything stays EXACT: the statistic is carried
  * denominator-cleared as D_t = |n·S_t − t·S_n| (BIGINT arithmetic
  * widened through DECIMAL(38,0); no division at all), so Spark and any
  * external SQL engine agree bit-for-bit. Ties on D_t break to the
  * earliest bucket.
  *
  * Scale shape: the input is the AGGREGATED series (one row per time
  * bucket — bounded by the calendar, not the data volume), so the
  * unpartitioned prefix window runs over a provably small frame; the
  * grand total and the argmax are 1-row broadcasts.
  */
object Changepoint {

  /** `series`: one row per bucket with integral `valCol` (e.g. cents).
    * Output: bucketCol, valCol, cum (prefix sum), d_stat = |n·S_t − t·S_n|
    * and is_changepoint (true on exactly the argmax row, earliest on
    * ties). */
  def cusum(series: DataFrame, bucketCol: String, valCol: String)
      : DataFrame = {
    val w = Window.orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = series
      .withColumn("cum", sum(col(valCol)).over(w))
      .withColumn("__t", count(lit(1)).over(w))
    val tot = pre.agg(max(col("__t")).as("__n"),
      sum(col(valCol)).cast("decimal(38,0)").as("__tot"))
    val scored = graft.util.QueryCache.persist(pre
      .crossJoin(tot)
      .select(col(bucketCol), col(valCol), col("cum"),
        // |n·S_t − t·S_n| on the decimal grid; the cast back to BIGINT
        // is ANSI-loud (a 100 TB caller keeps the decimal column)
        abs(col("__n") * col("cum").cast("decimal(38,0)") -
          col("__t") * col("__tot")).cast("long").as("d_stat")))
    val best = scored.agg(max(col("d_stat")).as("__mx"))
    val flagged = scored.crossJoin(best)
      .withColumn("__isMax", col("d_stat") === col("__mx"))
    // earliest-bucket tie-break without a second global window: the min
    // bucket among max-stat rows is itself a 1-row broadcast
    val firstMax = flagged.filter(col("__isMax"))
      .agg(min(col(bucketCol)).as("__cp"))
    flagged.crossJoin(firstMax)
      .select(col(bucketCol), col(valCol), col("cum"), col("d_stat"),
        (col(bucketCol) === col("__cp")).as("is_changepoint"))
  }

  /** Pettitt rank-based changepoint over the aggregated series: the
    * nonparametric companion of [[cusum]] (robust to level scale —
    * it sees only ranks). With doubled midranks r2_i = 2·below + c + 1
    * of the series VALUES, the pairwise statistic collapses to the
    * exact integer identity
    *   U_t = t·(n+1) − Σ_{i≤t} r2_i
    * (U_t = Σ_{i≤t} Σ_{j} sgn(v_j − v_i), the i,j≤t block cancelling
    * by antisymmetry), so K = max_t |U_t| and the argmax bucket are
    * pure BIGINT arithmetic both engines replay. Ties on |U_t| break
    * to the earliest bucket, like [[cusum]].
    *
    * Scale shape: midranks come from a prefix over the per-VALUE
    * aggregate of the bucket frame; every window in sight runs on
    * calendar-bounded aggregates. */
  def pettitt(series: DataFrame, bucketCol: String, valCol: String)
      : DataFrame = {
    val s = graft.util.QueryCache.persist(
      series.select(col(bucketCol).as("b"),
        col(valCol).cast("long").as("v")))
    val wv = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranks = s.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(sum(col("c")).over(wv), lit(0L)))
      .select(col("v"), (col("below") * 2 + col("c") + 1).as("r2"))
    val wt = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = s.agg(count(lit(1)).as("n"))
    val scored = graft.util.QueryCache.persist(
      s.join(ranks, "v").crossJoin(tot)
        .withColumn("__t", count(lit(1)).over(wt))
        .withColumn("__rsum", sum(col("r2")).over(wt))
        .select(col("b"), col("v"),
          abs(col("__t") * (col("n") + 1) - col("__rsum"))
            .as("u_abs")))
    val best = scored.agg(max(col("u_abs")).as("__mx"))
    val flagged = scored.crossJoin(best)
      .withColumn("__isMax", col("u_abs") === col("__mx"))
    val firstMax = flagged.filter(col("__isMax"))
      .agg(min(col("b")).as("__cp"))
    flagged.crossJoin(firstMax)
      .select(col("b").as(bucketCol), col("v").as(valCol), col("u_abs"),
        (col("b") === col("__cp")).as("is_changepoint"))
  }
}
