package graft.numerics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Trend tests over an AGGREGATED integral series (one row per time
  * bucket — calendar-bounded, never data-sized): Mann–Kendall monotonic
  * trend with Sen's slope, and the sample autocorrelation function with
  * the (cumulative) Ljung–Box portmanteau.
  *
  * Everything runs on the bucket frame: the day-pair grid is at most
  * |calendar|² rows, per-lag joins are equi-joins on the bucket index,
  * and all statistics are assembled from exact integer/decimal moments
  * with one declared IEEE expression at the end (the repo round-grid
  * policy). These are LLM-pipeline monitoring verbs (ingest volume /
  * corpus mix drifting over time) — the reference has no equivalents.
  */
object Trend {

  private val dec = DecimalType(38, 0)
  private val d18 = DecimalType(18, 0)

  /** Mann–Kendall S/z over the `(t, v)` series plus Sen's (Theil–Sen)
    * slope. `t` integral bucket index (e.g. epoch day), `v` integral.
    *
    * S = Σ_{i<j} sgn(v_j − v_i) and the tie-corrected variance are
    * exact integers from the pair grid and the tie-group sizes. Sen's
    * slope = median over pairs of (Δv/Δt) on a declared e6 grid:
    * each pair contributes slope_e6 = (Δv·10⁶) div Δt computed on
    * SHIFTED positives (truncation = floor there, so both engines
    * agree for negative slopes too); the median doubles to stay
    * integral (even pair-counts average the two middles). */
  def mannKendallSen(series: DataFrame, t: String, v: String,
                     shift: Long = 10000000000L): DataFrame = {
    val s = graft.util.QueryCache.persist(
      series.select(col(t).cast("long").as("t"),
        col(v).cast("long").as("v"))
        .filter(col("t").isNotNull && col("v").isNotNull))
    // pin the pair-grid width: the |series|² non-equi join fans a
    // kilobyte-scale cached bucket frame into n²/2 pair rows, so its
    // width must follow the COMPUTE, not the parent's bytes — with
    // cached-plan AQE coalescing on (Parallelize.tuneShuffle), the tiny
    // `s` cache materializes at 1 partition and an unpinned BNLJ
    // serialized the whole grid on one core (measured +3.3 s at sf0.1,
    // round 18). REPARTITION_BY_NUM is exempt from coalescing; width
    // follows the session's data-keyed shuffle width (guide §2.5).
    val pairs = graft.util.QueryCache.persist(
      s.repartition(graft.util.Parallelize.computeWidth(series.sparkSession))
        .as("a").join(s.as("b"), col("a.t") < col("b.t"))
        .select((col("b.v") - col("a.v")).as("dv"),
          (col("b.t") - col("a.t")).as("dt")))
    // slope grid: (dv + shift·dt)·1e6 div dt − shift·1e6 is floor(dv/dt
    // · 1e6) for any sign of dv once dv + shift·dt > 0 — loud when the
    // shift bound is too small for the data's dynamic range
    val sloped = pairs.select(col("dv"), col("dt"),
      ((col("dv").cast(dec) + lit(shift) * col("dt")) * 1000000L)
        .as("num"))
    val slopes = sloped
      .select(col("dv"), col("dt"),
        (expr("num div dt") - lit(shift) * 1000000L).as("s_e6"))
    val mk = slopes.agg(
      count(lit(1)).as("np"),
      coalesce(sum(signum(col("dv").cast("double")).cast("long")), lit(0L))
        .as("s"),
      min(col("dv").cast(dec) + lit(shift) * col("dt")).as("minShifted"))
    // per-value tie groups of v for Var(S)
    val ties = s.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c").cast(d18) * (col("c") - 1) *
        (lit(2) * col("c") + 5)), lit(0).cast(DecimalType(38, 0))).as("t3"),
        coalesce(sum(col("c")), lit(0L)).as("n"))
    // exact median×2 of the slope grid: per-distinct-slope counts +
    // prefix over that (pair-bounded, aggregated) frame
    val sv = slopes.groupBy(col("s_e6")).agg(count(lit(1)).as("c"))
    val wcum = Window.orderBy(col("s_e6"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sv.withColumn("cumc", sum(col("c")).over(wcum))
    val npTot = sv.agg(coalesce(sum(col("c")), lit(0L)).as("np"))
    val med = cum.crossJoin(npTot)
      .select(col("s_e6"), col("cumc"), col("c"), col("np"))
      .agg(
        // lower middle: k1 = (np+1) div 2; upper middle: k2 = np div 2 + 1
        min(when(col("cumc") >= expr("(np + 1) div 2"), col("s_e6")))
          .as("m_lo"),
        min(when(col("cumc") >= expr("np div 2 + 1"), col("s_e6")))
          .as("m_hi"))
    mk.crossJoin(ties).crossJoin(med)
      .select(col("n").cast("long").as("n"),
        col("np").cast("long").as("n_pairs"),
        col("s").cast("long").as("s"),
        // z is NULL on degenerate variance (all values tied: the tie
        // term cancels n(n-1)(2n+5) exactly) as well as n < 3 — the
        // repo's NULL-on-degenerate contract, not 0/sqrt(0) = NaN.
        expr("""CASE WHEN n < 3 OR CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
                       - CAST(t3 AS DOUBLE) = 0.0 THEN NULL ELSE round(
            (CAST(s AS DOUBLE) - CASE WHEN s > 0 THEN 1.0
                                      WHEN s < 0 THEN -1.0 ELSE 0.0 END)
            / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
                    - CAST(t3 AS DOUBLE)) / 18.0), 6) END""").as("z"),
        when(col("minShifted") <= 0, lit(null))
          .otherwise(col("m_lo") + col("m_hi"))
          .cast("long").as("sen_slope_e6_x2"))
  }

  /** Sample ACF at lags 1..`maxLag` over the `(t, v)` series, indexed
    * by the integral bucket `t` (pairs match on t+lag present), with
    * the cumulative Ljung–Box statistic
    *   Q_k = n(n+2) Σ_{j≤k} r_j²/(n−j)
    * assembled from the 8-dp-rounded r_j (12-dp terms, decimal-summed,
    * 6 dp out — the q362 libm discipline).
    *
    * r_k is exact up to its final division: with S = Σv and
    * n·v_t − S the cleared deviation, num_k = Σ_t (n·v_t − S)(n·v_{t+k} − S)
    * and den = Σ_t (n·v_t − S)² are exact decimals; r_k = num/den in
    * ONE IEEE division, rounded at 8 dp. */
  def acfLjungBox(series: DataFrame, t: String, v: String,
                  maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64, s"maxLag $maxLag")
    val s = graft.util.QueryCache.persist(
      series.select(col(t).cast("long").as("t"),
        col(v).cast("long").as("v"))
        .filter(col("t").isNotNull && col("v").isNotNull))
    val tot = s.agg(count(lit(1)).as("n"),
      coalesce(sum(col("v").cast(dec)), lit(0).cast(dec)).as("sv"))
    val base = graft.util.QueryCache.persist(
      s.crossJoin(tot)
        .select(col("t"), col("n"),
          (col("n") * col("v").cast(d18)).cast(dec).as("nv"),
          col("sv")))
    val den = base.agg(max(col("n")).as("n"),
      coalesce(sum((col("nv") - col("sv")) * (col("nv") - col("sv"))),
        lit(0).cast(dec)).as("den"))
    val spark = series.sparkSession
    import spark.implicits._
    val lags = (1 to maxLag).toDF("lag")
    val nums = base.as("x")
      .join(lags, lit(true))
      .join(base.as("y"),
        col("x.t") + col("lag") === col("y.t"))
      .groupBy(col("lag"))
      .agg(sum((col("x.nv") - col("x.sv")) * (col("y.nv") - col("y.sv")))
        .as("num"), count(lit(1)).as("n_pairs"))
    val acf = lags.join(nums, Seq("lag"), "left")
      .crossJoin(den)
      .select(col("lag"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("n"),
        when(col("den") === 0 || col("num").isNull, lit(null))
          .otherwise(round(col("num").cast("double") /
            col("den").cast("double"), 8)).as("acf8"))
    // cumulative Ljung–Box over the lag frame (≤ maxLag rows)
    val wq = Window.orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    acf
      .withColumn("term", round(col("acf8") * col("acf8") /
        (col("n") - col("lag")).cast("double"), 12)
        .cast(DecimalType(30, 12)))
      .withColumn("q",
        when(col("n") <= col("lag"), lit(null)).otherwise(
          round((col("n").cast("double") * (col("n") + 2)) *
            sum(col("term")).over(wq).cast("double"), 6)))
      .select(col("lag"), col("n_pairs"), col("acf8"), col("q"))
  }
}
