package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.XDataset
import graft.model.XDataset.{exactAvg, exactSum}
import graft.io.Tables
import graft.agg.{Aggregations, Groupers}

/** GroupBy / groupers / resample / weighted / reduction-semantics queries
  * (SURVEY.md §2.4). */
object QueriesGroupBy extends QueryFamily {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TimeResampler: monthly buckets + empty-bucket reinstatement
    // (ref `groupers.py:474`, `core/resample.py`)
    "q17_resample_month" -> ((s, dir) => {
      val monthly = Tables.orders(s, dir)
        .groupBy(Groupers.resample(col("o_orderdate"), "MONTH").as("month"))
        .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("rev"))
      val buckets = Groupers.timeBuckets(s, "1995-01-01 00:00:00",
        "2001-08-01 00:00:00", "1 month", "month")
      Groupers.reinstate(buckets, monthly, "month")
    }),

    // Categorical dictionary encoding (SURVEY §1.3; ref
    // `core/extension_array.py`): the string var becomes (code, dict
    // table); the groupBy runs ON THE INT CODE (narrow shuffle key) and
    // the dictionary label joins back only at the edge — results must
    // equal plain-string grouping. Nulls take the pandas NaN code -1.
    "q167_categorical" -> ((s, dir) => {
      import graft.model.Categorical
      val src = Tables.customer(s, dir).withColumn("seg",
        when(col("c_custkey") % 50 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")))
      val dict = Categorical.dictionary(src, "seg")
      val enc = Categorical.encode(src, "seg", dict, "seg_code")
      val agged = enc.groupBy("seg_code")
        .agg(count(lit(1)).as("n"), exactSum(col("c_acctbal")).as("sum_bal"))
        .withColumn("code", col("seg_code"))
      Categorical.decode(agged, dict, "seg_code", "label")
        .select("code", "label", "n", "sum_bal")
    }),

    // SeasonResampler (ref `groupers.py:874`): season-year groups with the
    // DJF year WRAP (Jan/Feb count into the previous year's December
    // season), drop_incomplete boundary trimming, and empty-season
    // reinstatement from the generated full index. The sparse filter
    // guarantees empty season-years so the reinstatement is exercised.
    "q166_season_resample" -> ((s, dir) => {
      val seasons = Seq("DJF", "MAM", "JJA", "SON")
      val src = Tables.orders(s, dir).filter(col("o_orderkey") % 997 === 0)
        .withColumn("slab", Groupers.seasonLabel(col("o_orderdate"), seasons))
      val kept = Groupers.seasonDropIncomplete(
        src, "o_orderdate", "slab", seasons)
      val agged = kept.groupBy(col("slab"))
        .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("rev"))
      val bounds = agged.agg(min("slab").as("lo"), max("slab").as("hi"))
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'1990-01-01 00:00:00',
             timestamp'2000-12-01 00:00:00', interval 1 month)) AS slab""")
        .filter(month(col("slab")).isin(12, 3, 6, 9))
        .crossJoin(broadcast(bounds))
        .filter(col("slab") >= col("lo") && col("slab") <= col("hi"))
        .select("slab")
      Groupers.reinstate(grid, agged, "slab")
    }),

    // SeasonGrouper DJF/MAM/JJA/SON (ref `groupers.py:801`)
    "q18_season_groupby" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(Groupers.season(col("o_orderdate")).as("season"))
        .agg(count(lit(1)).as("n"), exactAvg(col("o_totalprice")).as("avg_price"))
    }),

    // BinGrouper: pd.cut-style right-closed bins (ref `groupers.py:344`)
    "q19_bins_groupby" -> ((s, dir) => {
      Tables.customer(s, dir)
        .groupBy(Groupers.bins(col("c_acctbal"), -1000.0, 10000.0, 10).as("bin"))
        .agg(count(lit(1)).as("n"), exactAvg(col("c_acctbal")).as("avg_bal"))
    }),

    // groupby arithmetic: anomaly = value - group mean (ref `groupby.py:883`)
    "q20_groupby_anomaly" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val means = ev.groupBy("event_type")
        .agg(exactAvg(col("value"), scale = 6).as("m"))
      ev.join(broadcast(means), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          (col("value") - col("m")).as("anomaly"))
    }),

    // weighted mean with joint masking (ref `computation/weighted.py:135`)
    "q21_weighted_mean" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(Aggregations.weightedMean(col("l_extendedprice"), col("l_quantity"))
          .as("wmean_price"))
    }),

    // weighted var/std (ref `computation/weighted.py:243,269`): power-sum
    // form with decimal-exact sums; ddof=0 population weighting. No
    // rounding: the decimal-exact sums make the double pipeline
    // bit-reproducible, and round(.,6) at 1e9 magnitude is BELOW the ulp
    // (each engine would round a different last bit).
    "q21b_weighted_var" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          Aggregations.weightedVar(col("l_extendedprice"), col("l_quantity"))
            .as("wvar_price"),
          Aggregations.weightedStd(col("l_extendedprice"), col("l_quantity"))
            .as("wstd_price"),
          Aggregations.sumOfWeights(col("l_extendedprice"), col("l_quantity"))
            .as("sow"),
          Aggregations.sumOfSquares(col("l_extendedprice"), col("l_quantity"))
            .as("sos"))
    }),

    // skipna=False + min_count (ref `_aggregations.py` params)
    "q22_skipna_mincount" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("value_masked",
          when(col("event_type") =!= "error", col("value")))
      ev.groupBy("event_type").agg(
        Aggregations.skipnaFalse(
          exactSum(col("value_masked"), scale = 6), col("value_masked"))
          .as("sum_skipna_false"),
        Aggregations.minCount(
          exactSum(col("value_masked"), scale = 6), col("value_masked"), 2000)
          .as("sum_minc"))
    }),

    // idxmax: coordinate label of the extremum (ref `dataset.py:9349`)
    "q23_idxmax" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(Aggregations.idxmax(col("l_shipdate"), col("l_extendedprice"))
          .as("ship_of_max"),
          Aggregations.idxmin(col("l_shipdate"), col("l_extendedprice"))
            .as("ship_of_min"))
    }),

    // exact quantile, linear interpolation = H&F 7 (ref `variable.py:1929`)
    "q24_quantile" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(percentile(col("l_quantity"), lit(0.5)), 6).as("p50"),
          round(percentile(col("l_quantity"), lit(0.9)), 6).as("p90"))
    }),

    // average-tie rank (ref `dataset.py:8416`; bottleneck rankdata
    // semantics) — distributed form, no single-partition window
    "q25_rank_avg" -> ((s, dir) => {
      graft.agg.Rank.avgRank(Tables.supplier(s, dir), "s_acctbal", "rank_avg")
        .select("s_suppkey", "s_acctbal", "rank_avg")
    }),

    // groupby fillna: fill NULLs with the group mean (ref `groupby.py:1259`)
    "q92_groupby_fillna" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("vm", when(col("event_type") =!= "error", col("value")))
      val means = ev.groupBy("user_id")
        .agg(exactAvg(col("vm"), scale = 6).as("gm"))
      ev.join(broadcast(means), Seq("user_id"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("vm"), col("gm")).as("v_filled"))
    }),

    // grouped cumulative sum (ref `_aggregations.py` cumsum -> window scan)
    "q26_cumsum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.orders(s, dir)
        .withColumn("running_spend",
          sum(col("o_totalprice").cast(DecimalType(30, 4))).over(w).cast("double"))
        .select("o_orderkey", "o_custkey", "running_spend")
    }),

    // quantile binning / pandas qcut (groupby_bins with quantile edges):
    // one agg for the boundaries, broadcast, when-chain assign — 2 passes,
    // no sort or window
    "q128_qcut" -> ((s, dir) => {
      import graft.model.XDataset.exactSum
      val df = Tables.orders(s, dir)
      val b = df.agg(percentile(col("o_totalprice"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("bs"))
      df.crossJoin(broadcast(b))
        .select(col("o_totalprice"),
          Groupers.qcutAssign(col("o_totalprice"), col("bs"), 4).as("qbin"))
        .groupBy("qbin")
        .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("sum_price"))
    }),

    // robust-stats family (agg/Robust.scala): quantiles at EXACT binary
    // fractions over integer-valued columns, so Hyndman-Fan-7
    // interpolation and every derived bound are bit-identical across
    // engines — no rounding needed on the raw med/mad/fences.
    "q301_mad" -> ((s, dir) =>
      graft.agg.Robust.mad(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity")),

    // quartile-winsorized mean: values CLAMPED to [q1, q3] (the
    // clip-don't-drop sibling of q302); clamped values are integers or
    // exact quarter-valued bounds, so the decimal sum is exact
    "q324_winsorized_mean" -> ((s, dir) =>
      graft.agg.Robust.winsorizedMean(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity")),

    // 25%-trimmed (interquartile) mean; the mean itself is the repo's
    // exactAvg (decimal sum / count) rounded at 6 dp
    "q302_interquartile_mean" -> ((s, dir) =>
      graft.agg.Robust.interquartileMean(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity")),

    // Tukey 1.5*IQR fences over integer CENTS of l_extendedprice —
    // fences are exact multiples of 1/8 cent, comparisons cannot flip
    "q303_tukey_outliers" -> ((s, dir) =>
      graft.agg.Robust.tukeyOutliers(
        Tables.lineitem(s, dir).select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("ep_c")),
        "l_returnflag", "ep_c"))
  )

  val oracles: Map[String, String] = Map(
    "q92_groupby_fillna" ->
      """SELECT event_id, e.user_id, coalesce(vm, gm) AS v_filled
         FROM (SELECT event_id, user_id,
                 CASE WHEN event_type <> 'error' THEN value END AS vm
               FROM events) e
         JOIN (SELECT user_id,
                 CAST(sum(CAST(CASE WHEN event_type <> 'error' THEN value END
                   AS DECIMAL(30,6))) AS DOUBLE)
                 / count(CASE WHEN event_type <> 'error' THEN value END) AS gm
               FROM events GROUP BY 1) g ON e.user_id = g.user_id""",
    "q17_resample_month" ->
      """SELECT b.month, n, rev FROM
         (SELECT generate_series AS month FROM
            generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01',
                            INTERVAL 1 MONTH)) b
         LEFT JOIN (SELECT date_trunc('month', o_orderdate) AS month,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
           FROM orders GROUP BY 1) o ON b.month = o.month""",
    "q167_categorical" ->
      """WITH src AS (SELECT CASE WHEN c_custkey % 50 = 0 THEN NULL
               ELSE c_mktsegment END AS label, c_acctbal
           FROM customer)
         SELECT CASE WHEN label IS NULL THEN -1
             ELSE CAST(dense_rank() OVER (ORDER BY label NULLS LAST) - 1
               AS BIGINT) END AS code,
           label, n, sum_bal
         FROM (SELECT label, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS sum_bal
           FROM src GROUP BY 1)""",
    "q166_season_resample" ->
      """WITH src AS (SELECT o_orderdate AS t, o_totalprice,
             month(o_orderdate) AS m, year(o_orderdate) AS y
           FROM orders WHERE o_orderkey % 997 = 0),
         lab AS (SELECT *, CASE
             WHEN m IN (12,1,2) THEN make_timestamp(
               CASE WHEN m IN (1,2) THEN y-1 ELSE y END, 12, 1, 0, 0, 0)
             WHEN m IN (3,4,5) THEN make_timestamp(y, 3, 1, 0, 0, 0)
             WHEN m IN (6,7,8) THEN make_timestamp(y, 6, 1, 0, 0, 0)
             ELSE make_timestamp(y, 9, 1, 0, 0, 0) END AS slab
           FROM src),
         b AS (SELECT arg_min(slab, t) AS fl, min(t) AS ft,
                      arg_max(slab, t) AS ll, max(t) AS lt FROM lab),
         kept AS (SELECT lab.* FROM lab, b
           WHERE NOT (slab = fl AND month(ft) <> month(fl))
             AND NOT (slab = ll AND month(lt) <> CASE month(ll)
               WHEN 12 THEN 2 WHEN 3 THEN 5 WHEN 6 THEN 8 ELSE 11 END)),
         agged AS (SELECT slab, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
           FROM kept GROUP BY 1),
         bounds AS (SELECT min(slab) AS lo, max(slab) AS hi FROM agged),
         grid AS (SELECT generate_series AS slab
           FROM generate_series(TIMESTAMP '1990-01-01',
             TIMESTAMP '2000-12-01', INTERVAL 1 MONTH), bounds
           WHERE month(generate_series) IN (12, 3, 6, 9)
             AND generate_series BETWEEN lo AND hi)
         SELECT g.slab, n, rev
         FROM grid g LEFT JOIN agged a ON g.slab = a.slab""",
    "q18_season_groupby" ->
      """SELECT CASE WHEN month(o_orderdate) IN (12,1,2) THEN 'DJF'
                     WHEN month(o_orderdate) IN (3,4,5) THEN 'MAM'
                     WHEN month(o_orderdate) IN (6,7,8) THEN 'JJA'
                     ELSE 'SON' END AS season,
         count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) / count(o_totalprice) AS avg_price
         FROM orders GROUP BY 1""",
    "q19_bins_groupby" ->
      """SELECT CASE WHEN c_acctbal > -1000 AND c_acctbal <= 10000
             THEN greatest(CAST(ceil((c_acctbal - (-1000.0)) / 1100.0) AS BIGINT) - 1, 0) END AS bin,
         count(*) AS n,
         CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) / count(c_acctbal) AS avg_bal
         FROM customer GROUP BY 1""",
    "q20_groupby_anomaly" ->
      """SELECT event_id, e.event_type, value - m AS anomaly
         FROM events e JOIN (
           SELECT event_type,
             CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(value) AS m
           FROM events GROUP BY 1) g ON e.event_type = g.event_type""",
    "q21_weighted_mean" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) /
         CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS wmean_price
         FROM lineitem GROUP BY 1""",
    // inputs cast to decimal at their NATURAL scale (tie-free: the data
    // has 2 decimals), products stay in exact decimal — see weightedVar
    "q21b_weighted_var" ->
      """WITH d AS (SELECT l_returnflag,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS vd,
             CAST(l_quantity AS DECIMAL(12,2)) AS wd
           FROM lineitem),
         a AS (SELECT l_returnflag,
             CAST(sum(wd) AS DOUBLE) AS sw,
             CAST(sum(wd * vd) AS DOUBLE) AS swx,
             CAST(sum(CAST(vd * vd AS DECIMAL(20,4)) * wd) AS DOUBLE) AS swx2
           FROM d GROUP BY 1)
         SELECT l_returnflag,
           swx2 / sw - (swx / sw) * (swx / sw) AS wvar_price,
           sqrt(swx2 / sw - (swx / sw) * (swx / sw)) AS wstd_price,
           sw AS sow,
           swx2 AS sos
         FROM a""",
    "q22_skipna_mincount" ->
      """SELECT event_type,
         CASE WHEN count(CASE WHEN value_masked IS NULL THEN 1 END) = 0
              THEN CAST(sum(CAST(value_masked AS DECIMAL(30,6))) AS DOUBLE) END
           AS sum_skipna_false,
         CASE WHEN count(value_masked) >= 2000
              THEN CAST(sum(CAST(value_masked AS DECIMAL(30,6))) AS DOUBLE) END
           AS sum_minc
         FROM (SELECT event_type,
                 CASE WHEN event_type <> 'error' THEN value END AS value_masked
               FROM events) GROUP BY 1""",
    "q23_idxmax" ->
      """SELECT l_returnflag,
         min(l_shipdate) FILTER (l_extendedprice = mx) AS ship_of_max,
         min(l_shipdate) FILTER (l_extendedprice = mn) AS ship_of_min
         FROM lineitem l JOIN (
           SELECT l_returnflag AS rf, max(l_extendedprice) AS mx,
                  min(l_extendedprice) AS mn
           FROM lineitem GROUP BY 1) m ON l.l_returnflag = m.rf
         GROUP BY 1""",
    "q24_quantile" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 6) AS p50,
         round(quantile_cont(l_quantity, 0.9), 6) AS p90
         FROM lineitem GROUP BY 1""",
    "q25_rank_avg" ->
      """SELECT s_suppkey, s_acctbal,
         rank() OVER (ORDER BY s_acctbal) +
         (count(*) OVER (PARTITION BY s_acctbal) - 1) / 2.0 AS rank_avg
         FROM supplier""",
    "q26_cumsum" ->
      """SELECT o_orderkey, o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_spend
         FROM orders""",
    // quantile_cont == Spark percentile (both Hyndman-Fan 7); bins are
    // right-closed (b_{i-1}, b_i] like pd.qcut
    "q128_qcut" ->
      """WITH b AS (SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS bs
           FROM orders)
         SELECT CASE WHEN o_totalprice <= bs[1] THEN 0
                     WHEN o_totalprice <= bs[2] THEN 1
                     WHEN o_totalprice <= bs[3] THEN 2 ELSE 3 END AS qbin,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
         FROM orders, b GROUP BY 1""",

    "q324_winsorized_mean" ->
      """WITH q AS (SELECT l_returnflag,
             quantile_cont(l_quantity, 0.25) AS q1,
             quantile_cont(l_quantity, 0.75) AS q3
           FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, count(*) AS n,
           round(CAST(sum(CAST(least(greatest(CAST(l.l_quantity AS DOUBLE),
                 q.q1), q.q3) AS DECIMAL(30,4))) AS DOUBLE)
             / count(*), 6) AS wmean
         FROM lineitem l JOIN q USING (l_returnflag)
         GROUP BY 1""",

    "q301_mad" ->
      """WITH m AS (SELECT l_returnflag,
             quantile_cont(l_quantity, 0.5) AS med
           FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, max(m.med) AS med,
           quantile_cont(abs(l.l_quantity - m.med), 0.5) AS mad
         FROM lineitem l JOIN m USING (l_returnflag) GROUP BY 1""",

    "q302_interquartile_mean" ->
      """WITH q AS (SELECT l_returnflag,
             quantile_cont(l_quantity, 0.25) AS q1,
             quantile_cont(l_quantity, 0.75) AS q3
           FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, count(*) AS n_kept,
           round(CAST(sum(CAST(l.l_quantity AS DECIMAL(30,4))) AS DOUBLE)
             / count(*), 6) AS iqm
         FROM lineitem l JOIN q USING (l_returnflag)
         WHERE l.l_quantity >= q.q1 AND l.l_quantity <= q.q3
         GROUP BY 1""",

    "q303_tukey_outliers" ->
      """WITH c AS (SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS ep_c
           FROM lineitem),
         q AS (SELECT l_returnflag,
             quantile_cont(ep_c, 0.25) AS q1,
             quantile_cont(ep_c, 0.75) AS q3
           FROM c GROUP BY 1)
         SELECT c.l_returnflag,
           max(q.q1 - 1.5 * (q.q3 - q.q1)) AS lo,
           max(q.q3 + 1.5 * (q.q3 - q.q1)) AS hi,
           CAST(sum(CASE WHEN c.ep_c < q.q1 - 1.5 * (q.q3 - q.q1)
                      OR c.ep_c > q.q3 + 1.5 * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
           CAST(coalesce(sum(CASE WHEN c.ep_c < q.q1 - 1.5 * (q.q3 - q.q1)
                      OR c.ep_c > q.q3 + 1.5 * (q.q3 - q.q1)
                    THEN c.ep_c END), 0) AS BIGINT) AS out_sum
         FROM c JOIN q USING (l_returnflag) GROUP BY 1"""
  )
}
