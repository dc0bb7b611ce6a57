package graft.numerics

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Kaplan–Meier product-limit survival + Nelson–Aalen cumulative hazard
  * (Kaplan & Meier 1958; the censoring-aware lifetime verbs the reference
  * leaves to lifelines/scikit-survival — here as first-class relational
  * operators, ref `core/_aggregations.py` family for the reduction
  * framing).
  *
  * Input: one row per SUBJECT with an integer duration and an event flag
  * (1 = event observed, 0 = right-censored). The estimator runs on the
  * per-distinct-duration aggregate — d_t (events) and c_t (censorings)
  * per time — so the sequential part touches one row per DISTINCT
  * duration (calendar-bounded), never one per subject.
  *
  *   n_t = N − Σ_{u<t} (d_u + c_u)            (at-risk; censored-at-t
  *                                             still at risk at t)
  *   S_t = S_{t−1} · (n_t − d_t) / n_t        (Kaplan–Meier)
  *   H_t = H_{t−1} + d_t / n_t                (Nelson–Aalen)
  *
  * Exactness contract (the q276 Holt convention): both recursions run in
  * INTEGER fixed-point on the 1e12 grid with truncating division —
  * S_e ← (S_e·(n−d)) div n and H_e ← H_e + (d·1e12) div n — computed in
  * BigInteger so no intermediate ever overflows regardless of cohort
  * size; DuckDB replays bit-for-bit with HUGEINT `//`. No float exists
  * anywhere in the estimator.
  *
  * Distributed shape: one hash aggregate per subject → one hash
  * aggregate per duration → a single-partition sequential fold over the
  * duration-bounded frame (same topology as Holt: the recurrence is
  * inherently sequential, and its input is already aggregated down to
  * the time axis, so the fold's size is bounded by distinct durations,
  * not data). */
object Survival {

  private val GRID = java.math.BigInteger.valueOf(1000000000000L)

  /** @param df       one row per subject
    * @param duration integer duration column name (e.g. days)
    * @param event    event-flag column name (1 observed, 0 censored)
    * @return (duration, n_risk, d_events, c_censored, survival_e,
    *         hazard_cum_e) — `_e` on the 1e12 fixed-point grid,
    *         ascending duration, one row per distinct duration. */
  def kaplanMeier(df: DataFrame, duration: String,
                  event: String): DataFrame = {
    val agg = df
      .filter(col(duration).isNotNull && col(event).isNotNull)
      .groupBy(col(duration).cast("long").as("__t"))
      .agg(sum(when(col(event) === 1, 1L).otherwise(0L)).as("__d"),
        sum(when(col(event) === 1, 0L).otherwise(1L)).as("__c"))
      // duration-bounded frame: the fold below needs one sorted
      // partition; coalesce(1) is safe exactly because the input is the
      // per-distinct-duration AGGREGATE, never subject rows
      .coalesce(1)
      .sortWithinPartitions(col("__t"))
    agg.mapPartitions { (it: Iterator[Row]) =>
      val rows = it.toArray // duration-bounded (distinct times only)
      val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
      var atRisk = total
      var s = GRID
      var h = java.math.BigInteger.ZERO
      rows.iterator.map { r =>
        val t = r.getLong(0); val d = r.getLong(1); val c = r.getLong(2)
        val n = atRisk
        val nBig = java.math.BigInteger.valueOf(n)
        s = s.multiply(java.math.BigInteger.valueOf(n - d)).divide(nBig)
        h = h.add(java.math.BigInteger.valueOf(d).multiply(GRID)
          .divide(nBig))
        atRisk -= d + c
        Row(t, n, d, c, s.longValueExact(), h.longValueExact())
      }
    }(Encoders.row(StructType(Seq(
      StructField("duration", LongType, nullable = false),
      StructField("n_risk", LongType, nullable = false),
      StructField("d_events", LongType, nullable = false),
      StructField("c_censored", LongType, nullable = false),
      StructField("survival_e", LongType, nullable = false),
      StructField("hazard_cum_e", LongType, nullable = false)))))
  }

  /** Two-sample log-rank test (Mantel 1966) — "do groups A and B have
    * the same survival curve?", the hypothesis test over
    * [[kaplanMeier]]'s estimate. At each distinct EVENT time t with
    * n_A/n_B at risk and d_A/d_B events (d = d_A + d_B, n = n_A + n_B):
    *   E_A(t) = d·n_A/n,
    *   V(t)   = d·n_A·n_B·(n − d) / (n²·(n − 1)),
    *   χ² = (Σ(d_A − E_A))² / ΣV  (1 df).
    * Per-time terms ride the 1e12 fixed-point grid with truncating
    * division (the [[kaplanMeier]] convention — DECIMAL-widened
    * products are exact up to ~10⁶ subjects per cohort), so the sums
    * are order-independent and engine-exact; only the final χ² takes
    * one fixed double expression rounded at 6 dp.
    *
    * Distributed shape: one (group, duration) aggregate; the at-risk
    * prefixes run in a window PARTITIONED by group over the
    * duration-bounded frame (the KM argument: distinct times, never
    * subjects); everything after is a 1-row combine. */
  def logRank(df: DataFrame, duration: String, event: String,
              isA: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val agg = graft.util.QueryCache.persist(df
      .filter(col(duration).isNotNull && col(event).isNotNull)
      .groupBy(isA.as("a"), col(duration).cast("long").as("t"))
      .agg(sum(when(col(event) === 1, 1L).otherwise(0L)).as("d"),
        sum(when(col(event) === 1, 0L).otherwise(1L)).as("c")))
    // reinstate the full (group x event-time) grid: a group with no
    // row at t still has an at-risk count there
    val times = agg.select(col("t")).distinct()
    val grid = times.crossJoin(
      agg.select(col("a")).distinct()) // 2 groups: bounded cross
    val filled = grid.join(agg, Seq("a", "t"), "left")
      .na.fill(0L, Seq("d", "c"))
    val tots = agg.groupBy(col("a"))
      .agg(sum(col("d") + col("c")).as("tot"))
    val w = Window.partitionBy(col("a")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val atRisk = filled.join(tots, "a")
      .select(col("a"), col("t"), col("d"),
        (col("tot") - coalesce(sum(col("d") + col("c")).over(w),
          lit(0L))).as("n"))
    val wide = atRisk.groupBy(col("t"))
      .agg(sum(when(col("a"), col("d")).otherwise(0L)).as("da"),
        sum(when(col("a"), 0L).otherwise(col("d"))).as("db"),
        sum(when(col("a"), col("n")).otherwise(0L)).as("na"),
        sum(when(col("a"), 0L).otherwise(col("n"))).as("nb"))
      .filter(col("da") + col("db") > 0) // event times only
    wide.agg(
        sum(col("da")).cast("long").as("o_a"),
        sum(expr("""CAST(da + db AS DECIMAL(38,0)) * na * 1000000000000
            div (na + nb)""").cast(dec)).cast("long").as("e_a_e12"),
        sum(expr(
          """CASE WHEN na + nb > 1 THEN
               CAST(da + db AS DECIMAL(38,0)) * na * nb
                 * (na + nb - da - db) * 1000000000000
               div (CAST(na + nb AS DECIMAL(38,0)) * (na + nb)
                    * (na + nb - 1))
             ELSE 0 END""").cast(dec)).cast("long").as("var_e12"))
      .select(col("o_a"), col("e_a_e12"), col("var_e12"),
        expr("""CASE WHEN var_e12 = 0 THEN NULL ELSE
            round((CAST(o_a AS DOUBLE) - CAST(e_a_e12 AS DOUBLE) / 1e12)
                  * (CAST(o_a AS DOUBLE) - CAST(e_a_e12 AS DOUBLE) / 1e12)
                  / (CAST(var_e12 AS DOUBLE) / 1e12), 6) END""")
          .as("chi2"))
  }
}
