package graft.numerics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Split conformal prediction (Vovk et al.; Lei et al. 2018 for the
  * split form) — the DISTRIBUTION-FREE interval that turns any point
  * forecaster into a calibrated one: the (1−α) interval half-width is
  * the ⌈(n+1)(1−α)⌉-th smallest absolute residual on a held-out
  * calibration window, and the guarantee (coverage ≥ 1−α on
  * exchangeable data) holds regardless of the model. The verb reports
  * the width AND the realized test coverage — the pair a forecast
  * monitor alarms on.
  *
  * Exactness: residuals are integral (cents), the quantile is a pure
  * ORDER STATISTIC (no interpolation anywhere in split conformal), and
  * coverage is an exact ppm ratio — no float exists in the verb.
  *
  * Scale shape: one residual projection; the order statistic runs on
  * the per-distinct-residual AGGREGATE of the calibration window
  * (calendar-bounded here; value-bounded in general) with a cumulative
  * window over that bounded frame (the q312 histogram contract); the
  * 1-row (n, k, q̂) frame broadcasts onto the test aggregate. */
object Conformal {

  /** @param df      rows with an actual, a prediction, and a split flag
    * @param isCalib boolean column: true = calibration row, false = test
    * @param actual  integral actual value
    * @param pred    integral predicted value
    * @param alphaPm miscoverage level in permille (100 = 90% interval)
    * @return 1 row: (n_calib, q_hat, n_test, covered, coverage_ppm);
    *         q_hat NULL when ⌈(n+1)(1−α)⌉ > n (the documented
    *         infinite-interval case at tiny n). */
  def splitInterval(df: DataFrame, isCalib: Column, actual: Column,
                    pred: Column, alphaPm: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alphaPm > 0 && alphaPm < 1000, s"alphaPm $alphaPm")
    val r = graft.util.QueryCache.persist(
      df.select(isCalib.as("cal"),
        abs(actual.cast("long") - pred.cast("long")).as("r")))
    val calPv = r.filter(col("cal"))
      .groupBy(col("r")).agg(count(lit(1)).as("c"))
    val nk = calPv.agg(sum(col("c")).cast("long").as("n"))
      .select(col("n"),
        // k = ceil((n+1)(1000-alphaPm)/1000), cleared to integers
        expr(s"((n + 1) * ${1000 - alphaPm} + 999) div 1000").as("k"))
    // q̂ = min residual whose cumulative count reaches k — cumulative
    // window over the bounded per-distinct-residual frame
    val w = Window.orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val qhat = calPv.withColumn("cum", sum(col("c")).over(w))
      .crossJoin(nk)
      .filter(col("cum") >= col("k"))
      .agg(min(col("r")).as("q_hat"))
    val test = r.filter(!col("cal"))
    test.crossJoin(qhat).crossJoin(nk)
      .agg(max(col("n")).as("n_calib"),
        max(col("q_hat")).as("q_hat"),
        count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("q_hat"), 1L).otherwise(0L))
          .as("covered"))
      .select(col("n_calib"), col("q_hat"), col("n_test"), col("covered"),
        expr("""CASE WHEN n_test = 0 OR q_hat IS NULL THEN NULL
                ELSE covered * 1000000 div n_test END""")
          .as("coverage_ppm"))
  }
}
