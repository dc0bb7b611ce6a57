package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.exprs.{Ewm, HFQuantile}

/** UDF-surface queries (SURVEY.md §2.12 apply_ufunc mapping) + custom
  * aggregates that Spark lacks natively. */
object QueriesUdf extends QueryFamily {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // apply_ufunc with reduced core dim -> typed per-group function
    // (ref `computation/apply_ufunc.py:896`): z-score every value against
    // its group's mean/std, computed in a flatMapGroups scan with decimal
    // accumulation (matches the oracle's exact-sum formula bit-for-bit).
    "q60_apply_ufunc_zscore" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("event_type"), col("value"))
      val out = ev.as[(Long, String, Double)]
        .groupByKey(_._2)
        .flatMapGroups { (_, it) =>
          val rows = it.toArray
          // exact binary expansion (like a SQL DOUBLE->DECIMAL cast), NOT
          // BigDecimal(v) whose shortest-repr digits can round differently
          var sx = BigDecimal(0); var sxx = BigDecimal(0)
          rows.foreach { case (_, _, v) =>
            sx += BigDecimal(new java.math.BigDecimal(v)
              .setScale(6, java.math.RoundingMode.HALF_UP))
            sxx += BigDecimal(new java.math.BigDecimal(v * v)
              .setScale(6, java.math.RoundingMode.HALF_UP))
          }
          val n = rows.length.toDouble
          val sxd = sx.toDouble; val sxxd = sxx.toDouble
          val m = sxd / n
          val sd = math.sqrt((sxxd - sxd * sxd / n) / (n - 1))
          rows.iterator.map { case (id, _, v) => (id, (v - m) / sd) }
        }
      out.toDF("event_id", "z")
    }),

    // rolling_exp / EWM mean (ref `computation/rolling_exp.py:49`) — no SQL
    // oracle (order-dependent recurrence); pinned by EwmSpec unit test.
    "q61_ewm_mean" -> ((s, dir) => {
      Ewm.ewmMean(Tables.events(s, dir),
        groupCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        valueCol = "value", idCol = "event_id", alpha = 0.3)
        .withColumnRenamed("id", "event_id")
    }),

    // EWM sum (ref `rolling_exp.py` RollingExp.sum) — same per-group scan,
    // simpler recurrence (no normalizer); same recursive-CTE oracle shape
    "q61b_ewm_sum" -> ((s, dir) => {
      Ewm.ewmSum(Tables.events(s, dir),
        groupCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        valueCol = "value", idCol = "event_id", alpha = 0.3)
        .withColumnRenamed("id", "event_id")
    }),

    // EWM unbiased variance (pandas ewm.var(bias=False)) — four decayed
    // accumulators, bias-corrected by A²/(A²−B)
    "q61c_ewm_var" -> ((s, dir) => {
      Ewm.ewmVar(Tables.events(s, dir),
        groupCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        valueCol = "value", idCol = "event_id", alpha = 0.3)
        .withColumnRenamed("id", "event_id")
    }),

    // EWM covariance + correlation (pandas ewm.cov(bias=False)/.corr();
    // ref `rolling_exp.py:49` family) — the second series is the
    // deterministic event_id % 7 so both engines derive identical pairs
    "q61d_ewm_cov" -> ((s, dir) => {
      val withY = Tables.events(s, dir)
        .withColumn("y7", pmod(col("event_id"), lit(7L)).cast("double"))
      Ewm.ewmCov(withY,
        groupCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        xCol = "value", yCol = "y7", idCol = "event_id", alpha = 0.3)
        .withColumnRenamed("id", "event_id")
    }),

    // EWM std = sqrt of the unbiased EWM variance (rolling_exp std)
    "q61e_ewm_std" -> ((s, dir) => {
      Ewm.ewmVar(Tables.events(s, dir),
        groupCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        valueCol = "value", idCol = "event_id", alpha = 0.3)
        .select(col("id").as("event_id"), sqrt(col("ewm_var")).as("ewm_std"))
    }),

    // vectorized-q quantile (ref `variable.py:1929` array q): ONE sort per
    // group serves all three quantiles — the array-q Aggregator, not three
    // single-q passes
    "q62b_quantile_vec" -> ((s, dir) => {
      val qv = HFQuantile.multi(col("l_quantity"), Seq(0.25, 0.5, 0.75), 7)
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(qv.as("qs"))
        .select(col("l_returnflag"),
          round(col("qs").getItem(0), 6).as("p25"),
          round(col("qs").getItem(1), 6).as("p50"),
          round(col("qs").getItem(2), 6).as("p75"))
    }),

    // EWM mean adjust=False (ref `rolling_exp.py:49` adjust passthrough):
    // pure recursive form, weight state resets to 1 after each observation
    "q61f_ewm_noadjust" -> ((s, dir) => {
      Ewm.ewmMeanOpts(Tables.events(s, dir),
        groupCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        valueCol = "value", idCol = "event_id", alpha = 0.3,
        adjust = false, ignoreNa = false)
        .withColumnRenamed("id", "event_id")
    }),

    // EWM mean ignore_na=True: null rows leave the weight state untouched,
    // so decay follows relative positions of the observations
    "q61g_ewm_ignorena" -> ((s, dir) => {
      Ewm.ewmMeanOpts(Tables.events(s, dir),
        groupCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        valueCol = "value", idCol = "event_id", alpha = 0.3,
        adjust = true, ignoreNa = true)
        .withColumnRenamed("id", "event_id")
    }),

    // EWM mean with a TIME halflife over irregular times (pandas
    // ewm(halflife="1h", times=ts); ref `rolling_exp.py:49`): decay is
    // 0.5^(Δt/halflife) per actual gap. The query floors times to the
    // hour so every decay is an exact power of two and the recursive-CTE
    // oracle replays the recurrence bit-for-bit; fractional-gap decay is
    // pinned against pandas in EwmSpec.
    "q202_ewm_halflife" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("t_hr_us", unix_micros(date_trunc("hour", col("ts"))))
      Ewm.ewmMeanTimes(ev, groupCols = Seq("user_id"),
        orderCols = Seq("ts", "event_id"),
        timeCol = "t_hr_us", valueCol = "value", idCol = "event_id",
        halflife = 3.6e9)
        .withColumnRenamed("id", "event_id")
    }),

    // exact H&F quantiles, methods beyond Spark's builtin linear
    // (ref `variable.py:1929`; SURVEY.md §2.4 quantile row)
    "q62_quantile_hf" -> ((s, dir) => {
      val v = col("l_quantity")
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
        round(HFQuantile(v, 0.5, 1), 6).as("t1"),
        round(HFQuantile(v, 0.5, 2), 6).as("t2"),
        round(HFQuantile(v, 0.5, 4), 6).as("t4"),
        round(HFQuantile(v, 0.5, 5), 6).as("t5"),
        round(HFQuantile(v, 0.25, 6), 6).as("t6"),
        round(HFQuantile(v, 0.25, 7), 6).as("t7"),
        round(HFQuantile(v, 0.25, 8), 6).as("t8"),
        round(HFQuantile(v, 0.25, 9), 6).as("t9"))
    })
  )

  val oracles: Map[String, String] = baseOracles +
    // EWM std replays the exact variance recurrence, sqrt at the end
    // (correctly-rounded sqrt is bit-identical across libm/DuckDB)
    ("q61e_ewm_std" -> baseOracles("q61c_ewm_var").replace(
      "SELECT event_id, ewm_var FROM r",
      "SELECT event_id, sqrt(ewm_var) AS ewm_std FROM r"))

  private lazy val baseOracles: Map[String, String] = Map(
    // EWM cov/corr: same recursive replay with seven accumulators; the
    // final SELECT computes cov/corr from the row's (updated) accumulator
    // columns with the same IEEE op order as the Scala scan.
    "q61d_ewm_cov" ->
      """WITH RECURSIVE s AS (
           SELECT user_id, event_id, value,
                  CAST(event_id % 7 AS DOUBLE) AS y,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, rn, event_id,
                  CAST(CASE WHEN value IS NULL THEN 0 ELSE 1 END AS DOUBLE) AS a,
                  CAST(CASE WHEN value IS NULL THEN 0 ELSE 1 END AS DOUBLE) AS b,
                  CAST(coalesce(value, 0) AS DOUBLE) AS sx,
                  CASE WHEN value IS NULL THEN CAST(0 AS DOUBLE) ELSE y END AS sy,
                  CAST(coalesce(value * y, 0) AS DOUBLE) AS sxy,
                  CAST(coalesce(value * value, 0) AS DOUBLE) AS sxx,
                  CASE WHEN value IS NULL THEN CAST(0 AS DOUBLE)
                       ELSE y * y END AS syy,
                  CASE WHEN value IS NULL THEN 0 ELSE 1 END AS cnt
           FROM s WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.rn, s.event_id,
                  CASE WHEN s.value IS NULL THEN r.a * CAST(0.7 AS DOUBLE)
                       ELSE r.a * CAST(0.7 AS DOUBLE) + 1 END,
                  CASE WHEN s.value IS NULL
                       THEN r.b * (CAST(0.7 AS DOUBLE) * CAST(0.7 AS DOUBLE))
                       ELSE r.b * (CAST(0.7 AS DOUBLE) * CAST(0.7 AS DOUBLE)) + 1 END,
                  CASE WHEN s.value IS NULL THEN r.sx * CAST(0.7 AS DOUBLE)
                       ELSE r.sx * CAST(0.7 AS DOUBLE) + s.value END,
                  CASE WHEN s.value IS NULL THEN r.sy * CAST(0.7 AS DOUBLE)
                       ELSE r.sy * CAST(0.7 AS DOUBLE) + s.y END,
                  CASE WHEN s.value IS NULL THEN r.sxy * CAST(0.7 AS DOUBLE)
                       ELSE r.sxy * CAST(0.7 AS DOUBLE) + s.value * s.y END,
                  CASE WHEN s.value IS NULL THEN r.sxx * CAST(0.7 AS DOUBLE)
                       ELSE r.sxx * CAST(0.7 AS DOUBLE) + s.value * s.value END,
                  CASE WHEN s.value IS NULL THEN r.syy * CAST(0.7 AS DOUBLE)
                       ELSE r.syy * CAST(0.7 AS DOUBLE) + s.y * s.y END,
                  CASE WHEN s.value IS NULL THEN r.cnt ELSE r.cnt + 1 END
           FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         SELECT event_id,
           CASE WHEN cnt < 2 THEN NULL
                ELSE (sxy / a - (sx / a) * (sy / a))
                     * ((a * a) / (a * a - b)) END AS ewm_cov,
           CASE WHEN cnt < 2 THEN NULL
                WHEN (sxx / a - (sx / a) * (sx / a)) <= 0
                  OR (syy / a - (sy / a) * (sy / a)) <= 0 THEN NULL
                ELSE (sxy / a - (sx / a) * (sy / a))
                     / sqrt((sxx / a - (sx / a) * (sx / a))
                            * (syy / a - (sy / a) * (sy / a))) END AS ewm_corr
         FROM r""",
    // EWM is an order-dependent recurrence; the oracle replays the exact
    // IEEE op sequence (num = num*0.7 + x; den = den*0.7 + 1) per user via
    // a recursive CTE. Base-case columns MUST be cast to DOUBLE: a
    // recursive CTE's column types are pinned by the base case, and a
    // DECIMAL(2,1) den would round every iteration.
    "q61_ewm_mean" ->
      """WITH RECURSIVE s AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, rn, event_id,
                  CAST(coalesce(value, 0) AS DOUBLE) AS num,
                  CAST(CASE WHEN value IS NULL THEN 0 ELSE 1 END AS DOUBLE) AS den,
                  CAST(value AS DOUBLE) AS ewm
           FROM s WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.rn, s.event_id,
                  CASE WHEN s.value IS NULL THEN r.num * CAST(0.7 AS DOUBLE)
                       ELSE r.num * CAST(0.7 AS DOUBLE) + s.value END,
                  CASE WHEN s.value IS NULL THEN r.den * CAST(0.7 AS DOUBLE)
                       ELSE r.den * CAST(0.7 AS DOUBLE) + 1 END,
                  CASE WHEN s.value IS NULL THEN
                      CASE WHEN r.den * CAST(0.7 AS DOUBLE) > 0
                           THEN (r.num * CAST(0.7 AS DOUBLE))
                                / (r.den * CAST(0.7 AS DOUBLE)) END
                    ELSE (r.num * CAST(0.7 AS DOUBLE) + s.value)
                         / (r.den * CAST(0.7 AS DOUBLE) + 1) END
           FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         SELECT event_id, ewm FROM r""",
    // the out expression recomputes the updated accumulators textually —
    // identical IEEE exprs give identical bits, no temp columns needed
    "q61c_ewm_var" ->
      """WITH RECURSIVE s AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, rn, event_id,
                  CAST(CASE WHEN value IS NULL THEN 0 ELSE 1 END AS DOUBLE) AS a,
                  CAST(CASE WHEN value IS NULL THEN 0 ELSE 1 END AS DOUBLE) AS b,
                  CAST(coalesce(value, 0) AS DOUBLE) AS s1,
                  CAST(coalesce(value * value, 0) AS DOUBLE) AS s2,
                  CASE WHEN value IS NULL THEN 0 ELSE 1 END AS cnt,
                  CAST(NULL AS DOUBLE) AS ewm_var
           FROM s WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.rn, s.event_id,
                  CASE WHEN s.value IS NULL THEN r.a * CAST(0.7 AS DOUBLE)
                       ELSE r.a * CAST(0.7 AS DOUBLE) + 1 END,
                  CASE WHEN s.value IS NULL
                       THEN r.b * (CAST(0.7 AS DOUBLE) * CAST(0.7 AS DOUBLE))
                       ELSE r.b * (CAST(0.7 AS DOUBLE) * CAST(0.7 AS DOUBLE)) + 1 END,
                  CASE WHEN s.value IS NULL THEN r.s1 * CAST(0.7 AS DOUBLE)
                       ELSE r.s1 * CAST(0.7 AS DOUBLE) + s.value END,
                  CASE WHEN s.value IS NULL THEN r.s2 * CAST(0.7 AS DOUBLE)
                       ELSE r.s2 * CAST(0.7 AS DOUBLE) + s.value * s.value END,
                  CASE WHEN s.value IS NULL THEN r.cnt ELSE r.cnt + 1 END,
                  CASE WHEN (CASE WHEN s.value IS NULL THEN r.cnt
                                  ELSE r.cnt + 1 END) < 2 THEN NULL
                       ELSE
                  ((CASE WHEN s.value IS NULL THEN r.s2 * CAST(0.7 AS DOUBLE)
                         ELSE r.s2 * CAST(0.7 AS DOUBLE) + s.value * s.value END)
                   / (CASE WHEN s.value IS NULL THEN r.a * CAST(0.7 AS DOUBLE)
                           ELSE r.a * CAST(0.7 AS DOUBLE) + 1 END)
                   - ((CASE WHEN s.value IS NULL THEN r.s1 * CAST(0.7 AS DOUBLE)
                            ELSE r.s1 * CAST(0.7 AS DOUBLE) + s.value END)
                      / (CASE WHEN s.value IS NULL THEN r.a * CAST(0.7 AS DOUBLE)
                              ELSE r.a * CAST(0.7 AS DOUBLE) + 1 END))
                     * ((CASE WHEN s.value IS NULL THEN r.s1 * CAST(0.7 AS DOUBLE)
                              ELSE r.s1 * CAST(0.7 AS DOUBLE) + s.value END)
                        / (CASE WHEN s.value IS NULL THEN r.a * CAST(0.7 AS DOUBLE)
                                ELSE r.a * CAST(0.7 AS DOUBLE) + 1 END)))
                  * (((CASE WHEN s.value IS NULL THEN r.a * CAST(0.7 AS DOUBLE)
                            ELSE r.a * CAST(0.7 AS DOUBLE) + 1 END)
                      * (CASE WHEN s.value IS NULL THEN r.a * CAST(0.7 AS DOUBLE)
                              ELSE r.a * CAST(0.7 AS DOUBLE) + 1 END))
                     / ((CASE WHEN s.value IS NULL THEN r.a * CAST(0.7 AS DOUBLE)
                              ELSE r.a * CAST(0.7 AS DOUBLE) + 1 END)
                        * (CASE WHEN s.value IS NULL THEN r.a * CAST(0.7 AS DOUBLE)
                                ELSE r.a * CAST(0.7 AS DOUBLE) + 1 END)
                        - (CASE WHEN s.value IS NULL
                               THEN r.b * (CAST(0.7 AS DOUBLE) * CAST(0.7 AS DOUBLE))
                               ELSE r.b * (CAST(0.7 AS DOUBLE) * CAST(0.7 AS DOUBLE)) + 1 END)))
                       END
           FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         SELECT event_id, ewm_var FROM r""",
    "q61b_ewm_sum" ->
      """WITH RECURSIVE s AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, rn, event_id,
                  CAST(coalesce(value, 0) AS DOUBLE) AS acc,
                  CASE WHEN value IS NULL THEN 0 ELSE 1 END AS seen,
                  CAST(value AS DOUBLE) AS ewm_sum
           FROM s WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.rn, s.event_id,
                  CASE WHEN s.value IS NULL THEN r.acc * CAST(0.7 AS DOUBLE)
                       ELSE r.acc * CAST(0.7 AS DOUBLE) + s.value END,
                  CASE WHEN s.value IS NULL THEN r.seen ELSE 1 END,
                  CASE WHEN s.value IS NULL THEN
                      CASE WHEN r.seen = 1
                           THEN r.acc * CAST(0.7 AS DOUBLE) END
                    ELSE r.acc * CAST(0.7 AS DOUBLE) + s.value END
           FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         SELECT event_id, ewm_sum FROM r""",
    // quantile_cont with an array argument is DuckDB's one-sort vectorized
    // path — same H&F-7 definition as method=7
    "q62b_quantile_vec" ->
      """SELECT l_returnflag,
           round(qs[1], 6) AS p25, round(qs[2], 6) AS p50,
           round(qs[3], 6) AS p75
         FROM (SELECT l_returnflag,
             quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS qs
           FROM lineitem GROUP BY 1)""",
    // adjust=False replay: state (avg, wt); an observation resets wt to 1,
    // a null row decays it (ignore_na=False). Same IEEE op order as the
    // Scala kernel, including the skip-update-when-equal guard.
    "q61f_ewm_noadjust" ->
      """WITH RECURSIVE s AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, rn, event_id,
                  CAST(value AS DOUBLE) AS avg,
                  CAST(1 AS DOUBLE) AS wt
           FROM s WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.rn, s.event_id,
                  CASE WHEN r.avg IS NULL THEN CAST(s.value AS DOUBLE)
                       WHEN s.value IS NULL THEN r.avg
                       WHEN r.avg = s.value THEN r.avg
                       ELSE (r.wt * CAST(0.7 AS DOUBLE) * r.avg
                             + CAST(0.3 AS DOUBLE) * s.value)
                            / (r.wt * CAST(0.7 AS DOUBLE) + CAST(0.3 AS DOUBLE)) END,
                  CASE WHEN r.avg IS NULL THEN CAST(1 AS DOUBLE)
                       WHEN s.value IS NULL THEN r.wt * CAST(0.7 AS DOUBLE)
                       ELSE CAST(1 AS DOUBLE) END
           FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         SELECT event_id, avg AS ewm FROM r""",
    // ignore_na=True replay: a null row copies the state verbatim; an
    // observation decays wt once and accumulates it (adjust=True)
    "q61g_ewm_ignorena" ->
      """WITH RECURSIVE s AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, rn, event_id,
                  CAST(value AS DOUBLE) AS avg,
                  CAST(1 AS DOUBLE) AS wt
           FROM s WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.rn, s.event_id,
                  CASE WHEN r.avg IS NULL THEN CAST(s.value AS DOUBLE)
                       WHEN s.value IS NULL THEN r.avg
                       WHEN r.avg = s.value THEN r.avg
                       ELSE (r.wt * CAST(0.7 AS DOUBLE) * r.avg + s.value)
                            / (r.wt * CAST(0.7 AS DOUBLE) + CAST(1 AS DOUBLE)) END,
                  CASE WHEN r.avg IS NULL THEN CAST(1 AS DOUBLE)
                       WHEN s.value IS NULL THEN r.wt
                       ELSE r.wt * CAST(0.7 AS DOUBLE) + CAST(1 AS DOUBLE) END
           FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         SELECT event_id, avg AS ewm FROM r""",
    // time-halflife EWM replay: dk (whole hours between consecutive rows)
    // is precomputed with lag() in the seed; the recursion multiplies both
    // accumulators by power(0.5, dk) — an exact power of two, so the same
    // IEEE sequence as the Scala scan. Same null conventions as q61.
    "q202_ewm_halflife" ->
      """WITH RECURSIVE s0 AS (
           SELECT user_id, event_id, value,
                  epoch_us(date_trunc('hour', ts)) AS t,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         s AS (
           SELECT user_id, event_id, value, rn,
                  CAST(t - lag(t) OVER (PARTITION BY user_id ORDER BY rn)
                       AS DOUBLE) / CAST(3600000000 AS DOUBLE) AS dk
           FROM s0),
         r AS (
           SELECT user_id, rn, event_id,
                  CAST(coalesce(value, 0) AS DOUBLE) AS num,
                  CAST(CASE WHEN value IS NULL THEN 0 ELSE 1 END AS DOUBLE) AS den,
                  CAST(value AS DOUBLE) AS ewm
           FROM s WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.rn, s.event_id,
                  CASE WHEN s.value IS NULL
                       THEN r.num * power(CAST(0.5 AS DOUBLE), s.dk)
                       ELSE r.num * power(CAST(0.5 AS DOUBLE), s.dk) + s.value END,
                  CASE WHEN s.value IS NULL
                       THEN r.den * power(CAST(0.5 AS DOUBLE), s.dk)
                       ELSE r.den * power(CAST(0.5 AS DOUBLE), s.dk) + 1 END,
                  CASE WHEN s.value IS NULL THEN
                      CASE WHEN r.den * power(CAST(0.5 AS DOUBLE), s.dk) > 0
                           THEN (r.num * power(CAST(0.5 AS DOUBLE), s.dk))
                                / (r.den * power(CAST(0.5 AS DOUBLE), s.dk)) END
                    ELSE (r.num * power(CAST(0.5 AS DOUBLE), s.dk) + s.value)
                         / (r.den * power(CAST(0.5 AS DOUBLE), s.dk) + 1) END
           FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         SELECT event_id, ewm FROM r""",
    "q60_apply_ufunc_zscore" ->
      """SELECT event_id, (value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)) AS z
         FROM events e JOIN (
           SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
           FROM events GROUP BY 1) g ON e.event_type = g.event_type""",
    "q62_quantile_hf" ->
      """WITH s AS (SELECT l_returnflag, l_quantity AS x,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         SELECT l_returnflag,
           round(max(CASE WHEN rn = greatest(CAST(ceil(n * 0.5) AS BIGINT), 1) THEN x END), 6) AS t1,
           round(CASE WHEN n * 0.5 = floor(n * 0.5)
             THEN (max(CASE WHEN rn = greatest(CAST(n * 0.5 AS BIGINT), 1) THEN x END)
                 + max(CASE WHEN rn = least(CAST(n * 0.5 AS BIGINT) + 1, n) THEN x END)) / 2.0
             ELSE max(CASE WHEN rn = greatest(CAST(ceil(n * 0.5) AS BIGINT), 1) THEN x END) END, 6) AS t2,
           round(max(CASE WHEN rn = least(greatest(CAST(floor(n * 0.5) AS BIGINT), 1), n) THEN x END)
             + (n * 0.5 - floor(n * 0.5)) *
               (max(CASE WHEN rn = least(greatest(CAST(floor(n * 0.5) AS BIGINT), 1) + 1, n) THEN x END)
              - max(CASE WHEN rn = least(greatest(CAST(floor(n * 0.5) AS BIGINT), 1), n) THEN x END)), 6) AS t4,
           round(max(CASE WHEN rn = least(greatest(CAST(floor(n * 0.5 + 0.5) AS BIGINT), 1), n) THEN x END)
             + (n * 0.5 + 0.5 - floor(n * 0.5 + 0.5)) *
               (max(CASE WHEN rn = least(least(greatest(CAST(floor(n * 0.5 + 0.5) AS BIGINT), 1), n) + 1, n) THEN x END)
              - max(CASE WHEN rn = least(greatest(CAST(floor(n * 0.5 + 0.5) AS BIGINT), 1), n) THEN x END)), 6) AS t5,
           round(max(CASE WHEN rn = least(greatest(CAST(floor((n + 1) * 0.25) AS BIGINT), 1), n) THEN x END)
             + ((n + 1) * 0.25 - floor((n + 1) * 0.25)) *
               (max(CASE WHEN rn = least(least(greatest(CAST(floor((n + 1) * 0.25) AS BIGINT), 1), n) + 1, n) THEN x END)
              - max(CASE WHEN rn = least(greatest(CAST(floor((n + 1) * 0.25) AS BIGINT), 1), n) THEN x END)), 6) AS t6,
           round(max(CASE WHEN rn = least(greatest(CAST(floor((n - 1) * 0.25 + 1) AS BIGINT), 1), n) THEN x END)
             + ((n - 1) * 0.25 + 1 - floor((n - 1) * 0.25 + 1)) *
               (max(CASE WHEN rn = least(least(greatest(CAST(floor((n - 1) * 0.25 + 1) AS BIGINT), 1), n) + 1, n) THEN x END)
              - max(CASE WHEN rn = least(greatest(CAST(floor((n - 1) * 0.25 + 1) AS BIGINT), 1), n) THEN x END)), 6) AS t7,
           round(max(CASE WHEN rn = least(greatest(CAST(floor((n + 1.0/3.0) * 0.25 + 1.0/3.0) AS BIGINT), 1), n) THEN x END)
             + ((n + 1.0/3.0) * 0.25 + 1.0/3.0 - floor((n + 1.0/3.0) * 0.25 + 1.0/3.0)) *
               (max(CASE WHEN rn = least(least(greatest(CAST(floor((n + 1.0/3.0) * 0.25 + 1.0/3.0) AS BIGINT), 1), n) + 1, n) THEN x END)
              - max(CASE WHEN rn = least(greatest(CAST(floor((n + 1.0/3.0) * 0.25 + 1.0/3.0) AS BIGINT), 1), n) THEN x END)), 6) AS t8,
           round(max(CASE WHEN rn = least(greatest(CAST(floor((n + 0.25) * 0.25 + 0.375) AS BIGINT), 1), n) THEN x END)
             + ((n + 0.25) * 0.25 + 0.375 - floor((n + 0.25) * 0.25 + 0.375)) *
               (max(CASE WHEN rn = least(least(greatest(CAST(floor((n + 0.25) * 0.25 + 0.375) AS BIGINT), 1), n) + 1, n) THEN x END)
              - max(CASE WHEN rn = least(greatest(CAST(floor((n + 0.25) * 0.25 + 0.375) AS BIGINT), 1), n) THEN x END)), 6) AS t9
         FROM s GROUP BY l_returnflag, n"""
  )
}
