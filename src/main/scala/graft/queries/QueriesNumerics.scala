package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.io.Tables
import graft.numerics.Numerics

/** Numerics / statistics / interpolation queries (SURVEY.md §2.10). */
object QueriesNumerics extends QueryFamily {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // cov / corr from exact power sums (ref `computation.py:46/152`)
    "q40_cov_corr" -> ((s, dir) => {
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
        round(Numerics.covSamp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qp"),
        round(Numerics.corrP(col("l_quantity"), col("l_extendedprice")), 8).as("corr_qp"))
    }),

    // polyval, Horner association (ref `computation.py:836`)
    "q41_polyval" -> ((s, dir) => {
      Tables.customer(s, dir).select(
        col("c_custkey"),
        Numerics.polyval(col("c_acctbal"), Seq(2.0, -0.5, 0.001)).as("poly"))
    }),

    // polyfit degree-1 per group via normal equations (ref `fit.py:101`)
    "q42_polyfit" -> ((s, dir) => {
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
        round(Numerics.fitSlope(col("l_quantity"), col("l_extendedprice")), 6).as("slope"),
        round(Numerics.fitIntercept(col("l_quantity"), col("l_extendedprice")), 4).as("intercept"))
    }),

    // weighted polyfit (ref `computation/fit.py` w=): same normal-equation
    // shape with w-weighted decimal-exact moments
    "q132_polyfit_weighted" -> ((s, dir) => {
      val wgt = col("l_discount") + 0.01 // strictly positive weights
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
        round(Numerics.fitSlopeW(col("l_quantity"), col("l_extendedprice"),
          wgt), 6).as("wslope"),
        round(Numerics.fitInterceptW(col("l_quantity"), col("l_extendedprice"),
          wgt), 4).as("wintercept"))
    }),

    // differentiate: numpy.gradient's weighted nonuniform stencil w.r.t.
    // the (irregular) time coord (ref `dataset.py:8475`)
    "q43_differentiate" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("t_us", unix_micros(col("ts")))
        .withColumn("dvdt",
          Numerics.differentiate(col("value"), col("t_us").cast("double") / 1e6, w))
        .select("event_id", "user_id", "dvdt")
    }),

    // differentiate with edge_order=2: three-point one-sided boundary
    // stencils (numpy.gradient's other edge mode)
    "q43b_differentiate_edge2" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("t_us", unix_micros(col("ts")))
        .withColumn("dvdt",
          Numerics.differentiate(col("value"), col("t_us").cast("double") / 1e6,
            w, edgeOrder = 2))
        .select("event_id", "user_id", "dvdt")
    }),

    // polyfit -> polyval composition (DETREND, the xarray
    // `da - xr.polyval(coord, da.polyfit(...))` idiom): per-group OLS
    // line from exact power sums, residual per row via a broadcast join
    // of the 3-row fit table
    "q213_detrend" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val fits = li.groupBy("l_returnflag").agg(
        Numerics.fitSlope(col("l_quantity"), col("l_extendedprice")).as("b"),
        Numerics.fitIntercept(col("l_quantity"), col("l_extendedprice")).as("a"))
      li.join(broadcast(fits), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_extendedprice") -
            (col("a") + col("b") * col("l_quantity")), 6).as("resid"))
    }),

    // lag-1 autocorrelation per group: the lagged pairs come from a
    // partitioned window; Pearson corr over them via the exact-decimal
    // power sums (the xr.corr(da, da.shift(time=1)) idiom)
    "q211_autocorr" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("xl", lag(col("value"), 1).over(w))
        .filter(col("xl").isNotNull)
        .groupBy("user_id")
        .agg(round(Numerics.corrP(col("value"), col("xl")), 8).as("acf1"))
    }),

    // trapezoidal integrate along the coord (ref `dataset.py:8545`)
    "q44_integrate" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("t_sec", unix_micros(col("ts")).cast("double") / 1e6)
        .withColumn("term", Numerics.trapezoid(col("value"), col("t_sec"), w))
        .groupBy("user_id")
        .agg(sum(col("term").cast(DecimalType(38, 4))).cast("double").as("auc"))
    }),

    // 2-D (bilinear) interp (ref `dataset.py:4114`, sequential per-dim
    // 1-D passes): closed-form bilinear surface on a 7x6 integer grid,
    // probed at dyadic fractional coords (0.75/0.5 steps — exact in
    // binary, so both engines' lerp arithmetic is bit-identical); the
    // oracle computes the INDEPENDENT 4-corner weighted form
    "q140_interp_2d" -> ((s, dir) => {
      val grid = s.range(0, 42).select(
        floor(col("id") / 6).cast("double").as("x"),
        (col("id") % 6).cast("double").as("y"))
        .withColumn("v", lit(2.0) + col("x") * 3.0 + col("y") * 1.5 +
          col("x") * col("y") * 0.25)
      val probes = s.range(0, 9).select((col("id") * 0.75).as("x"))
        .crossJoin(s.range(0, 9).select((col("id") * 0.5).as("y")))
      Numerics.interpBilinear(grid, probes, "x", "y", "v")
        .select(col("x"), col("y"), round(col("v_interp"), 6).as("v_interp"))
    }),

    // cumulative trapezoid integrate (ref `dataset.py:8584`): running AUC
    // per event; leading element 0, decimal prefix accumulation
    "q137_cumulative_integrate" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("t_sec", unix_micros(col("ts")).cast("double") / 1e6)
        .withColumn("cum_auc",
          Numerics.cumulativeIntegrate(col("value"), col("t_sec"), w))
        .select("event_id", "user_id", "cum_auc")
    }),

    // interp(method="linear") at new coord grid (ref `core/missing.py:616`)
    "q45_interp_linear" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val users = series.select("user_id").distinct()
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      val probes = users.crossJoin(grid)
      Numerics.interpLinear(series, probes, by = Seq("user_id"),
        t = "ts", v = "value")
        .select("user_id", "ts", "v_interp")
    }),

    // interp linear with fill_value="extrapolate": probes beyond the
    // observed range ride the edge segment's slope (scipy pass-through)
    "q159_interp_extrapolate" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val users = series.select("user_id").distinct()
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2023-12-25 00:00:00',
             timestamp'2024-02-05 00:00:00', interval 4 day)) AS ts""")
      val probes = users.crossJoin(grid)
      Numerics.interpLinearExtrapolate(series, probes, by = Seq("user_id"),
        t = "ts", v = "value")
        .select(col("user_id"), col("ts"),
          round(col("v_interp"), 6).as("v_interp"))
    }),

    // interp(method="zero"): previous-knot step function
    "q108_interp_zero" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val users = series.select("user_id").distinct()
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      Numerics.interpZero(series, users.crossJoin(grid), by = Seq("user_id"),
        t = "ts", v = "value")
        .select("user_id", "ts", "v_zero")
    }),

    // interp(method="slinear"): first-order spline == linear values
    "q109_interp_slinear" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val users = series.select("user_id").distinct()
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      Numerics.interpLinear(series, users.crossJoin(grid), by = Seq("user_id"),
        t = "ts", v = "value")
        .select(col("user_id"), col("ts"), col("v_interp").as("v_slinear"))
    }),

    // interp(method="quadratic"): C1 quadratic spline (running-sum slopes)
    "q110_interp_quadratic" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val users = series.select("user_id").distinct()
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      Numerics.interpQuadratic(series, users.crossJoin(grid),
        by = Seq("user_id"), t = "ts", v = "value")
    }),

    // interp(method="quintic"): C2 quintic Hermite (window-local derivs)
    "q111_interp_quintic" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val users = series.select("user_id").distinct()
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      Numerics.interpQuintic(series, users.crossJoin(grid),
        by = Seq("user_id"), t = "ts", v = "value")
    }),

    // interp(method="polynomial", order=3): the reference forwards order
    // to interp1d kind=k, i.e. the spline-of-order-k family; order 3
    // exercises the per-series Thomas-solve path (same oracle as cubic)
    "q112_interp_polynomial" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("t"), col("value"))
      // the daily probe grid, generated per user (no cross join)
      val probes = series.select("user_id").distinct()
        .select(col("user_id"), explode(expr(
          """sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)""")).as("ts"))
        .select(col("user_id"), unix_micros(col("ts")).as("t"))
      Numerics.interpPolynomial(series, probes, by = Seq("user_id"),
        t = "t", v = "value", order = 3)
        .withColumnRenamed("v_cubic", "v_poly")
    }),

    // interp(method="barycentric"): global polynomial, barycentric form
    "q113_interp_barycentric" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val users = series.select("user_id").distinct()
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      Numerics.interpBarycentric(series, users.crossJoin(grid),
        by = Seq("user_id"), t = "ts", v = "value")
    }),

    // interp(method="krogh"): Newton-form polynomial interpolation
    "q114_interp_krogh" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val users = series.select("user_id").distinct()
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      Numerics.interpKrogh(series, users.crossJoin(grid),
        by = Seq("user_id"), t = "ts", v = "value")
    }),

    // interpolate_na: linear fill of interior NULL runs (ref `missing.py:331`)
    "q46_interpolate_na" -> ((s, dir) => {
      val masked = Tables.events(s, dir)
        .withColumn("vm", when(col("event_type") =!= "error", col("value")))
        .withColumn("t_sec", unix_micros(col("ts")).cast("double") / 1e6)
      Numerics.interpolateNa(masked, by = Seq(col("user_id")),
        order = Seq(col("ts"), col("event_id")), t = col("t_sec"), v = "vm")
        .select("event_id", "user_id", "vm_interp")
    }),

    // interpolate_na with limit= (count of rows past the last valid) and
    // max_gap= (coordinate span of the bracketing valid points) — ref
    // `missing.py:48,331`. Both guards are pure window arithmetic on the
    // same two scans q46 already runs.
    "q46b_interpolate_na_limit" -> ((s, dir) => {
      val masked = Tables.events(s, dir)
        .withColumn("vm", when(col("event_type") =!= "error", col("value")))
        .withColumn("t_sec", unix_micros(col("ts")).cast("double") / 1e6)
      Numerics.interpolateNa(masked, by = Seq(col("user_id")),
        order = Seq(col("ts"), col("event_id")), t = col("t_sec"), v = "vm",
        limit = Some(2), maxGap = Some(1800.0))
        .select("event_id", "user_id", "vm_interp")
    }),

    // dot: named-dim einsum contraction over the embedding axis
    // (ref `computation.py:484`)
    "q47_dot" -> ((s, dir) => {
      Tables.embeddings(s, dir).select(
        col("vec_id"),
        Numerics.dotDecimal(col("embedding"), reverse(col("embedding"))).as("dot_rev"),
        round(Numerics.normDecimal(col("embedding")), 9).as("l2"))
    }),

    // polyfit(deg=3, cov=True): arbitrary-degree path with covariance
    // diagonal (ref `computation/fit.py:101` polyfit cov=True;
    // `Dataset.polyfit` polyfit_covariance). x,y pre-scaled into ~[0,1]
    // (numpy's own conditioning advice); the oracle SQL is generated by
    // the SAME combinator code as the Column tree (fit3covSqlExprs), so
    // the Cramer-expansion double arithmetic replays bit-identically.
    "q118_polyfit3_cov" -> ((s, dir) => {
      val x = col("l_quantity") * lit(0.02)
      val y = col("l_extendedprice") * lit(1.0e-5)
      // moments agg (codegen'd, map-side combine) then the Cramer solve as
      // a projection over the 3-row aggregate — the giant det expansion
      // never enters the per-row stage
      val ms = Numerics.fit3covMoments(x, y)
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(ms.head, ms.tail: _*)
        .withColumn("f", Numerics.fit3covSolve)
        .select(col("l_returnflag") +:
          ((0 to 3).map(k => round(col(s"f.c$k"), 6).as(s"c$k")) ++
           (0 to 3).map(k => round(col(s"f.v$k"), 9).as(s"v$k"))): _*)
    }),

    // Welch's two-sample t: ONE scan of conditional decimal power sums,
    // statistic assembled in a single fixed IEEE expression (the A/B
    // readout verb; scipy.stats.ttest_ind(equal_var=False))
    "q288_welch_ttest" -> ((s, dir) =>
      graft.numerics.Stats.welchT(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity", a = "A", b = "N")),

    // chi-square independence of two categoricals: contingency counts in
    // one scan, per-cell (o-e)^2/e terms on the 8-dp decimal grid, exact
    // sum (scipy.stats.chi2_contingency's statistic)
    "q289_chi2_independence" -> ((s, dir) =>
      graft.numerics.Stats.chi2Independence(Tables.lineitem(s, dir),
        "l_returnflag", "l_linestatus")),

    // Mann-Whitney U with average-tie ranks and tie-corrected z: rank
    // sums from VALUE-LEVEL prefix sums (integer-exact via 2x ranks);
    // the only window runs over the aggregated distinct-value frame
    "q290_mannwhitney_u" -> ((s, dir) =>
      graft.numerics.Stats.mannWhitney(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity", a = "A", b = "N")),

    // two-sample Kolmogorov-Smirnov: D on the common n1*n2 denominator is
    // an exact INTEGER max over value-level cumulative counts — zero
    // cross-engine float surface
    "q291_ks_test" -> ((s, dir) =>
      graft.numerics.Stats.ksTest(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity", a = "A", b = "N")),

    // one-way ANOVA F across all return flags: per-group decimal power
    // sums, 4-dp-grid group terms, one fixed IEEE assembly
    "q292_anova_f" -> ((s, dir) =>
      graft.numerics.Stats.anovaF(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity")),

    // Spearman's rho = Pearson over average-tie ranks. Ranks come from
    // Rank.avgRankMap's two-level distributed prefix (value-level frame
    // only — no per-row ordinal pass, no global window over values),
    // and the correlation is assembled from WEIGHTED decimal power sums
    // over the (quantity, price) pair-count frame — each pair's c·x·y
    // term is exact on the half-integer grid, so the sums (and rho)
    // are bit-identical to the per-row formulation the oracle replays
    "q293_spearman" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val rx = graft.agg.Rank.avgRankMap(li, "l_quantity",
          v => floor(v)) // 1..50: value-grained buckets
        .select(col("__v").as("__qv"), col("__r").as("rx"))
      val ry = graft.agg.Rank.avgRankMap(li, "l_extendedprice",
          v => floor(v / 1000)) // ~100 range buckets
        .select(col("__v").as("__pv"), col("__r").as("ry"))
      // narrow operand types so every c·term product is EXACT decimal
      // (18,6)x(10,0) -> (29,6); a long operand would widen past 38 and
      // silently shrink the scale (the repo's precision-loss lesson)
      val dec = org.apache.spark.sql.types.DecimalType(18, 6)
      val cDec = org.apache.spark.sql.types.DecimalType(10, 0)
      li.groupBy(col("l_quantity").as("__qv"),
          col("l_extendedprice").as("__pv"))
        .agg(count(lit(1)).as("c"))
        .join(ry, "__pv").join(broadcast(rx), "__qv")
        .agg(sum(col("c")).as("n"),
          sum(col("c").cast(cDec) * col("rx").cast(dec)).as("sx"),
          sum(col("c").cast(cDec) * col("ry").cast(dec)).as("sy"),
          sum(col("c").cast(cDec) * (col("rx") * col("ry")).cast(dec))
            .as("sxy"),
          sum(col("c").cast(cDec) * (col("rx") * col("rx")).cast(dec))
            .as("sxx"),
          sum(col("c").cast(cDec) * (col("ry") * col("ry")).cast(dec))
            .as("syy"))
        .select(col("n"),
          (round(expr(
            """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
               (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"""), 8)
            + lit(0.0)).as("rho"))
    }),

    // Kruskal-Wallis H (rank one-way ANOVA) across all three return
    // flags: value-level prefix rank sums (exact BIGINT via 2x ranks),
    // tie-corrected, the k-group term sum written as ONE fixed
    // left-to-right IEEE expression — never a float aggregate
    "q309_kruskal_wallis" -> ((s, dir) =>
      graft.numerics.Stats.kruskalWallis(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity", levels = Seq("A", "N", "R"))),

    // Brown-Forsythe homogeneity of variance (robust Levene): exact
    // doubled group medians -> |2v - med2| integers -> the q292 anovaF
    // decimal-moment machinery on the deviations
    "q372_brown_forsythe" -> ((s, dir) =>
      graft.numerics.Stats.brownForsythe(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity")),

    // Mann-Kendall monotonic trend + Sen's slope over daily revenue:
    // S and the tie-corrected z from the calendar-bounded day-pair
    // grid; the slope is the exact doubled median of per-pair slopes
    // on a shifted-floor e6 grid (both engines replay the floor)
    "q373_mann_kendall" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(datediff(col("o_orderdate"), lit("1992-01-01"))
          .cast("long").as("t"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("rev_c"))
      graft.numerics.Trend.mannKendallSen(daily, "t", "rev_c")
    }),

    // Pettitt rank changepoint over daily order counts: the
    // nonparametric companion of q326's CUSUM — U_t from doubled
    // midranks by the exact integer identity t(n+1) - sum r2
    "q374_pettitt" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("n_ord"))
      graft.window.Changepoint.pettitt(daily, "d", "n_ord")
        .select(col("d"), col("n_ord"), col("u_abs"),
          col("is_changepoint"))
    }),

    // Benford first-digit conformance of order totals (cents): pinned
    // 8-dp expected proportions, chi-square over the 9-digit grid
    "q375_benford" -> ((s, dir) =>
      graft.numerics.Stats.benford(Tables.orders(s, dir),
        round(col("o_totalprice") * 100, 0).cast("long"))),

    // ACF lags 1..14 of daily revenue + cumulative Ljung-Box Q: exact
    // cleared-deviation decimal moments per lag (equi-join on t+lag),
    // one IEEE division per lag at 8 dp, Q from the rounded grid
    "q376_acf_ljung_box" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(datediff(col("o_orderdate"), lit("1992-01-01"))
          .cast("long").as("t"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("rev_c"))
      graft.numerics.Trend.acfLjungBox(daily, "t", "rev_c", maxLag = 14)
    }),

    // Cliff's delta rank effect size (A vs N return flags on quantity):
    // the magnitude companion of q290's significance z, exact ppm from
    // the same doubled-midrank value frame
    "q377_cliffs_delta" -> ((s, dir) =>
      graft.numerics.Stats.cliffsDelta(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity", a = "A", b = "N")),

    // BCa bootstrap CI of mean order value: q333's deterministic
    // Poisson replicates with Efron's bias (z0) and acceleration (a)
    // corrections — a collapses in closed form for the mean (one
    // power-sum scan, no jackknife pass); normal <-> probability maps
    // ride the shared A&S 26.2.23/26.2.17 polynomials on 8-dp grids
    "q388_bca_bootstrap" -> ((s, dir) =>
      graft.numerics.Bootstrap.meanCIBCa(Tables.orders(s, dir),
        col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long"))),

    // McNemar's paired classifier test lives in QueriesLLM (q387).

    // additive seasonal decomposition (classic decompose(): series =
    // trend + seasonal + residual) over daily revenue, weekly period —
    // EXACT integer grid: cents in, trend as the centered 7-row moving
    // SUM (trend_xp = 7*trend), per-weekday seasonal via the truncating
    // integral div both engines share (toward zero incl. negatives),
    // residual the exact remainder. The unpartitioned window runs over
    // the aggregated daily grid (calendar-bounded, ~2.4k rows).
    "q300_seasonal_decompose" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
        .withColumn("wd", dayofweek(col("d")))
      graft.window.Seasonal.decomposeAdditive(daily, "d", "rev_c", "wd", 7)
    }),

    // CUSUM changepoint over daily revenue: argmax_t |n·S_t − t·S_n|
    // (the mean-shift estimator), denominator-cleared so EVERYTHING is
    // integer — no division anywhere. The unpartitioned prefix window
    // runs over the aggregated daily grid (calendar-bounded, ~2.4k rows);
    // total / max / tie-break are 1-row broadcasts.
    "q326_cusum_changepoint" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      graft.window.Changepoint.cusum(daily, "d", "rev_c")
    }),

    // seasonal anomaly flags: the monitoring composition — q300's exact
    // integer decomposition, then a 3×MAD fence on the residuals (q301's
    // robust scale). Residuals and the median/MAD all live on exact
    // half-integer grids (< 2^53), so the flag comparison is
    // deterministic on every engine; the median/MAD are 1-row broadcasts.
    "q329_seasonal_anomaly" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
        .withColumn("wd", dayofweek(col("d")))
      val dec = graft.util.QueryCache.persist(
        graft.window.Seasonal.decomposeAdditive(daily, "d", "rev_c",
          "wd", 7))
      val med = dec.agg(percentile(col("resid_xp"), lit(0.5)).as("med"))
      val mad = dec.crossJoin(med)
        .agg(max(col("med")).as("med"),
          percentile(abs(col("resid_xp") - col("med")), lit(0.5)).as("mad"))
      dec.crossJoin(mad)
        .select(col("d"), col("rev_c"), col("resid_xp"),
          (abs(col("resid_xp") - col("med")) > lit(3.0) * col("mad"))
            .as("is_anomaly"))
    }),

    // mutual information (bits) between return flag and line status —
    // the association-STRENGTH companion of q289's chi-square
    // significance; one contingency aggregate, everything after on the
    // cell grid, 8-dp libm terms decimal-summed
    "q362_mutual_information" -> ((s, dir) =>
      graft.numerics.Stats.mutualInformation(Tables.lineitem(s, dir),
        col("l_returnflag"), col("l_linestatus"))),

    // multiple-testing correction: per-brand two-proportion z screens
    // ('is this brand's return rate different from the rest?'), p via
    // the A&S 26.2.17 normal tail on the rounded z, then the
    // Benjamini–Hochberg step-up at FDR 1/20 — the BH threshold test is
    // EXACT decimal arithmetic (p·20·m <= k), no float boundary
    "q331_bh_fdr" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_partkey", "l_returnflag")
      val pt = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val joined = li.join(broadcast(pt),
        col("l_partkey") === col("p_partkey"))
      val battery = graft.numerics.Stats.twoPropZBattery(joined, "p_brand",
        col("l_returnflag") === "R")
      // p8 rides the decimal(18,8) grid through the EXACT step-up
      // comparison; the EMITTED column is the 8-dp double (the
      // driver-hashable output-type contract — both engines apply IEEE
      // round-to-nearest to the identical decimal, so bit patterns
      // agree; + 0.0 kills signed zero)
      graft.numerics.Stats.benjaminiHochberg(battery, "grp", "p8",
          alphaNum = 1, alphaDen = 20)
        .select(col("grp").as("brand"), col("n"), col("k"), col("z8"),
          (col("p8").cast("double") + lit(0.0)).as("p8"),
          col("rank"), col("rejected"))
    }),

    // Kaplan-Meier survival + Nelson-Aalen cumulative hazard over
    // customer lifetimes: duration = days first->last order, event = no
    // order in the final 90 days (churn observed), else right-censored.
    // Both recursions in BigInteger fixed-point on the 1e12 grid
    // (truncating div) — DuckDB replays with HUGEINT `//` bit-for-bit
    "q332_kaplan_meier" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val perCust = o.groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("f"), max(col("o_orderdate")).as("l"))
      val mx = o.agg(max(col("o_orderdate")).as("m"))
      val subjects = perCust.crossJoin(mx)
        .select(datediff(col("l"), col("f")).as("dur"),
          when(col("l") < col("m") - expr("INTERVAL 90 DAYS"), 1)
            .otherwise(0).as("ev"))
      graft.numerics.Survival.kaplanMeier(subjects, "dur", "ev")
    }),

    // James-Stein shrinkage of per-brand mean order value toward the
    // mean of brand means — the empirical-Bayes "thin slices borrow
    // strength" verb (Efron-Morris) behind per-slice dashboards; one
    // moments scan, every derived double on a declared grid
    "q370_james_stein" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select(col("c_custkey"),
          col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
      graft.numerics.Stats.jamesSteinMeans(o, "c_mktsegment",
        round(col("o_totalprice") * 100, 0).cast("long"))
    }),

    // experiment power planning per brand: MDE of a two-proportion test
    // at the brand's current volume (alpha 5%/power 80%) and the per-arm
    // n to detect a 1-pt lift — the PRE-experiment verb completing the
    // q331 (screen) / q334 (post) / q353 (uncertainty) battery
    "q368_power_mde" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_partkey", "l_returnflag")
      val pt = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      graft.numerics.Stats.powerMde(
        li.join(broadcast(pt), col("l_partkey") === col("p_partkey")),
        "p_brand", col("l_returnflag") === "R")
        .select(col("grp").as("brand"), col("n"), col("k"),
          col("p_ppm"), col("mde8"), col("n_req_per_arm"))
    }),

    // difference-in-differences with a Poisson-bootstrap 95% CI: the
    // 2x2 (even-user "treated" cohort x mid-January split) panel
    // estimate over purchase cents — the canonical causal verb next to
    // q353's plain A/B; cell means on the exact fixed-point grid,
    // deterministic md5 weights
    "q367_did_bootstrap" -> ((s, dir) => {
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
      graft.numerics.Bootstrap.didCI(p, col("event_id"),
        pmod(col("user_id"), lit(2)) === 0,
        col("ts") >= lit("2024-01-16").cast("timestamp"),
        round(col("value") * 100, 0).cast("long"))
    }),

    // split conformal interval for the seasonal-naive daily-revenue
    // forecaster: 90% half-width = the ceil((n+1)*0.9)-th smallest
    // absolute calibration residual (March 1995), realized coverage on
    // April — the distribution-free calibration wrap any forecaster
    // gets for free; pure order statistics + exact ppm
    "q366_conformal" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .filter(col("o_orderdate").between("1995-02-20", "1995-04-30"))
        .groupBy(col("o_orderdate").as("day"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("rev"))
      val lag = daily.select(date_add(col("day"), 7).as("day"),
        col("rev").as("pred"))
      val joined = daily.join(lag, "day")
        .filter(col("day").between("1995-03-01", "1995-04-30"))
      graft.numerics.Conformal.splitInterval(joined,
        col("day") < "1995-04-01", col("rev"), col("pred"))
    }),

    // two-sample log-rank test over the q332 cohorts: do BUILDING-
    // segment customers churn on the same curve as the rest? Per-event-
    // time O-E and variance terms on the 1e12 grid (truncating div),
    // chi-square(1) at the end — the hypothesis test over the KM curve
    "q365_log_rank" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val perCust = o.groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("f"),
          max(col("o_orderdate")).as("l"))
      val mx = o.agg(max(col("o_orderdate")).as("m"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val subjects = perCust
        .join(cust, col("o_custkey") === col("c_custkey"))
        .crossJoin(mx)
        .select((col("c_mktsegment") === "BUILDING").as("grp"),
          datediff(col("l"), col("f")).as("dur"),
          when(col("l") < col("m") - expr("INTERVAL 90 DAYS"), 1)
            .otherwise(0).as("ev"))
      graft.numerics.Survival.logRank(subjects, "dur", "ev", col("grp"))
    }),

    // Poisson bootstrap 95% CI for mean line revenue (cents): B=48
    // replicates, each row's weight a pure md5 function of (row id,
    // replicate) cut by the shared Poisson(1) inverse-CDF integer
    // thresholds; replicate means exact integer div; CI = order stats
    // of the 48 means (no RNG state, any engine replays the resample)
    "q333_poisson_bootstrap" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.numerics.Bootstrap.meanCI(li,
        concat_ws("#", col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        round(col("l_extendedprice") * 100, 0).cast("long"),
        reps = 48, alphaPm = 25)
    }),

    // A/B difference-in-means bootstrap CI: high-discount vs
    // low-discount line revenue, same deterministic Poisson(1)
    // resample as q333 — the "is the lift real" uncertainty verb
    "q353_ab_bootstrap" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.numerics.Bootstrap.diffMeansCI(li,
        concat_ws("#", col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        col("l_discount") >= 0.05,
        round(col("l_extendedprice") * 100, 0).cast("long"),
        reps = 48, alphaPm = 25)
    }),

    // Wilson score 95% CI per brand on the return rate — the
    // small-n-safe proportion interval next to q331's z screens; p_hat
    // exact ppm, bounds one IEEE expression rounded 8dp
    "q334_wilson_interval" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_partkey", "l_returnflag")
      val pt = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val joined = li.join(broadcast(pt),
        col("l_partkey") === col("p_partkey"))
      graft.numerics.Stats.wilsonInterval(joined, "p_brand",
          col("l_returnflag") === "R")
        .withColumnRenamed("grp", "brand")
    })
  )

  val oracles: Map[String, String] = Map(
    "q40_cov_corr" ->
      """SELECT l_returnflag,
         round((sxy - sx * sy / n) / (n - 1), 4) + 0.0 AS cov_qp,
         round((n * sxy - sx * sy) /
           (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 8) + 0.0 AS corr_qp
         FROM (SELECT l_returnflag,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy
           FROM lineitem GROUP BY 1)""",
    // detrend replay: the q42 power-sum fit, unrounded, applied per row
    // with the identical IEEE expression order
    "q213_detrend" ->
      """WITH f AS (SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx
           FROM lineitem GROUP BY 1),
         g AS (SELECT l_returnflag,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
           FROM f)
         SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           round(l.l_extendedprice - (a + b * l_quantity), 6) + 0.0 AS resid
         FROM lineitem l JOIN g USING (l_returnflag)""",
    // same power-sum corr replay as q40, over the lagged pairs
    "q211_autocorr" ->
      """WITH l AS (
           SELECT user_id, value AS x,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS xl
           FROM events)
         SELECT user_id,
           round((n * sxy - sx * sy) /
             (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 8) + 0.0 AS acf1
         FROM (SELECT user_id,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(xl AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * xl AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(xl * xl AS DECIMAL(38,6))) AS DOUBLE) AS syy
           FROM l WHERE xl IS NOT NULL GROUP BY 1)""",
    "q41_polyval" ->
      """SELECT c_custkey,
         (0.001 * c_acctbal + (-0.5)) * c_acctbal + 2.0 AS poly
         FROM customer""",
    "q42_polyfit" ->
      """SELECT l_returnflag,
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS slope,
         round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4) + 0.0 AS intercept
         FROM (SELECT l_returnflag,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx
           FROM lineitem GROUP BY 1)""",
    "q132_polyfit_weighted" ->
      """SELECT l_returnflag,
         round((sw * swxy - swx * swy) / (sw * swxx - swx * swx), 6) + 0.0 AS wslope,
         round((swy - (sw * swxy - swx * swy) / (sw * swxx - swx * swx) * swx)
           / sw, 4) + 0.0 AS wintercept
         FROM (SELECT l_returnflag,
           CAST(sum(CAST(l_discount + 0.01 AS DECIMAL(38,6))) AS DOUBLE) AS sw,
           CAST(sum(CAST((l_discount + 0.01) * l_quantity AS DECIMAL(38,6)))
             AS DOUBLE) AS swx,
           CAST(sum(CAST((l_discount + 0.01) * l_extendedprice AS DECIMAL(38,6)))
             AS DOUBLE) AS swy,
           CAST(sum(CAST((l_discount + 0.01) * l_quantity * l_extendedprice
             AS DECIMAL(38,6))) AS DOUBLE) AS swxy,
           CAST(sum(CAST((l_discount + 0.01) * l_quantity * l_quantity
             AS DECIMAL(38,6))) AS DOUBLE) AS swxx
           FROM lineitem GROUP BY 1)""",
    // nonuniform three-point stencil, replayed term for term
    "q43_differentiate" ->
      """WITH l AS (SELECT event_id, user_id, value AS v, t,
           lag(value) OVER w AS vp, lead(value) OVER w AS vn,
           lag(t) OVER w AS tp, lead(t) OVER w AS tn
         FROM (SELECT *, CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS t FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT event_id, user_id,
           CASE WHEN vp IS NULL AND vn IS NULL THEN NULL
                WHEN vp IS NULL THEN (vn - v) / (tn - t)
                WHEN vn IS NULL THEN (v - vp) / (t - tp)
                ELSE (-(tn - t) / ((t - tp) * ((t - tp) + (tn - t)))) * vp
                   + (((tn - t) - (t - tp)) / ((t - tp) * (tn - t))) * v
                   + ((t - tp) / ((tn - t) * ((t - tp) + (tn - t)))) * vn
           END AS dvdt
         FROM l""",
    "q43b_differentiate_edge2" ->
      """WITH l AS (SELECT event_id, user_id, value AS v, t,
           lag(value) OVER w AS vp, lead(value) OVER w AS vn,
           lag(t) OVER w AS tp, lead(t) OVER w AS tn,
           lag(value, 2) OVER w AS vp2, lead(value, 2) OVER w AS vn2,
           lag(t, 2) OVER w AS tp2, lead(t, 2) OVER w AS tn2
         FROM (SELECT *, CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS t FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT event_id, user_id,
           CASE WHEN vp IS NULL AND vn IS NULL THEN NULL
                WHEN vp IS NULL THEN coalesce(
                  (-(2 * (tn - t) + (tn2 - tn)) /
                     ((tn - t) * ((tn - t) + (tn2 - tn)))) * v
                  + (((tn - t) + (tn2 - tn)) / ((tn - t) * (tn2 - tn))) * vn
                  - ((tn - t) / ((tn2 - tn) * ((tn - t) + (tn2 - tn)))) * vn2,
                  (vn - v) / (tn - t))
                WHEN vn IS NULL THEN coalesce(
                  ((2 * (t - tp) + (tp - tp2)) /
                     ((t - tp) * ((t - tp) + (tp - tp2)))) * v
                  - (((t - tp) + (tp - tp2)) / ((t - tp) * (tp - tp2))) * vp
                  + ((t - tp) / ((tp - tp2) * ((t - tp) + (tp - tp2)))) * vp2,
                  (v - vp) / (t - tp))
                ELSE (-(tn - t) / ((t - tp) * ((t - tp) + (tn - t)))) * vp
                   + (((tn - t) - (t - tp)) / ((t - tp) * (tn - t))) * v
                   + ((t - tp) / ((tn - t) * ((t - tp) + (tn - t)))) * vn
           END AS dvdt
         FROM l""",
    "q44_integrate" ->
      """SELECT user_id,
         CAST(sum(CAST(term AS DECIMAL(38,4))) AS DOUBLE) AS auc
         FROM (SELECT user_id,
             (value + lag(value) OVER w) / 2 *
             (t - lag(t) OVER w) AS term
           FROM (SELECT *, CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS t FROM events)
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         GROUP BY 1""",
    // independent 4-corner bilinear form (NOT the sequential two-pass):
    // x0/y0 clamp so the hull's far edge probes land in the last cell
    "q140_interp_2d" ->
      """WITH g AS (SELECT CAST(t.i AS DOUBLE) AS x, CAST(l.j AS DOUBLE) AS y,
             2 + 3*t.i + 1.5*l.j + 0.25*t.i*l.j AS v
           FROM (SELECT unnest(generate_series(0, 6)) AS i) t,
                (SELECT unnest(generate_series(0, 5)) AS j) l),
         p AS (SELECT a.k * 0.75 AS px, b.m * 0.5 AS py
           FROM (SELECT unnest(generate_series(0, 8)) AS k) a,
                (SELECT unnest(generate_series(0, 8)) AS m) b),
         c AS (SELECT px, py, least(floor(px), 5) AS x0,
                 least(floor(py), 4) AS y0 FROM p)
         SELECT c.px AS x, c.py AS y,
           round(g00.v * (c.x0 + 1 - c.px) * (c.y0 + 1 - c.py)
               + g10.v * (c.px - c.x0) * (c.y0 + 1 - c.py)
               + g01.v * (c.x0 + 1 - c.px) * (c.py - c.y0)
               + g11.v * (c.px - c.x0) * (c.py - c.y0), 6) AS v_interp
         FROM c
         JOIN g g00 ON g00.x = c.x0     AND g00.y = c.y0
         JOIN g g10 ON g10.x = c.x0 + 1 AND g10.y = c.y0
         JOIN g g01 ON g01.x = c.x0     AND g01.y = c.y0 + 1
         JOIN g g11 ON g11.x = c.x0 + 1 AND g11.y = c.y0 + 1""",
    "q137_cumulative_integrate" ->
      """SELECT event_id, user_id,
         coalesce(CAST(sum(CAST(term AS DECIMAL(38,4))) OVER w2 AS DOUBLE), 0.0)
           AS cum_auc
         FROM (SELECT event_id, user_id, ts,
             (value + lag(value) OVER w) / 2 *
             (t - lag(t) OVER w) AS term
           FROM (SELECT *, CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS t FROM events)
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING)""",
    "q45_interp_linear" ->
      """WITH series AS (
           SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         probes AS (
           SELECT u.user_id, g.ts FROM
             (SELECT DISTINCT user_id FROM series) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
                             INTERVAL 1 DAY)) g),
         back AS (
           SELECT p.user_id, p.ts, s.value AS y0, s.ts AS t0
           FROM probes p ASOF LEFT JOIN series s
           ON p.user_id = s.user_id AND p.ts >= s.ts),
         fwd AS (
           SELECT p.user_id, p.ts, s.value AS y1, s.ts AS t1
           FROM probes p ASOF LEFT JOIN series s
           ON p.user_id = s.user_id AND p.ts <= s.ts)
         SELECT b.user_id, b.ts,
           CASE WHEN t0 IS NULL OR t1 IS NULL THEN NULL
                WHEN CAST(epoch_us(t1) AS DOUBLE) = CAST(epoch_us(t0) AS DOUBLE) THEN y0
                ELSE y0 + (y1 - y0) *
                  (CAST(epoch_us(b.ts) AS DOUBLE) - CAST(epoch_us(t0) AS DOUBLE)) /
                  (CAST(epoch_us(t1) AS DOUBLE) - CAST(epoch_us(t0) AS DOUBLE)) END
             AS v_interp
         FROM back b JOIN fwd f ON b.user_id = f.user_id AND b.ts = f.ts""",
    // extrapolation oracle: interior = q45's lerp; outside rides the
    // first/last segment (struct-min ordering = ORDER BY ts, value)
    "q159_interp_extrapolate" ->
      """WITH series AS (
           SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         probes AS (
           SELECT u.user_id, g.ts FROM
             (SELECT DISTINCT user_id FROM series) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2023-12-25', TIMESTAMP '2024-02-05',
                             INTERVAL 4 DAY)) g),
         back AS (
           SELECT p.user_id, p.ts, s.value AS y0, s.ts AS t0
           FROM probes p ASOF LEFT JOIN series s
           ON p.user_id = s.user_id AND p.ts >= s.ts),
         fwd AS (
           SELECT p.user_id, p.ts, s.value AS y1, s.ts AS t1
           FROM probes p ASOF LEFT JOIN series s
           ON p.user_id = s.user_id AND p.ts <= s.ts),
         rk AS (SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, value) AS ra,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, value DESC) AS rd
           FROM series),
         lo AS (SELECT user_id, ts AS lot, value AS lov FROM rk WHERE ra = 1),
         hi AS (SELECT user_id, ts AS hit, value AS hiv FROM rk WHERE rd = 1),
         lo2 AS (SELECT user_id, ts AS lo2t, value AS lo2v FROM (
             SELECT s.user_id, s.ts, s.value, row_number() OVER (
               PARTITION BY s.user_id ORDER BY s.ts, s.value) AS r
             FROM series s JOIN lo ON s.user_id = lo.user_id
               AND s.ts > lo.lot) WHERE r = 1),
         hi2 AS (SELECT user_id, ts AS hi2t, value AS hi2v FROM (
             SELECT s.user_id, s.ts, s.value, row_number() OVER (
               PARTITION BY s.user_id ORDER BY s.ts DESC, s.value DESC) AS r
             FROM series s JOIN hi ON s.user_id = hi.user_id
               AND s.ts < hi.hit) WHERE r = 1)
         SELECT b.user_id, b.ts,
           round(CASE
             WHEN t0 IS NOT NULL AND t1 IS NOT NULL THEN
               CASE WHEN CAST(epoch_us(t1) AS DOUBLE) =
                         CAST(epoch_us(t0) AS DOUBLE) THEN y0
                    ELSE y0 + (y1 - y0) *
                      (CAST(epoch_us(b.ts) AS DOUBLE) - CAST(epoch_us(t0) AS DOUBLE)) /
                      (CAST(epoch_us(t1) AS DOUBLE) - CAST(epoch_us(t0) AS DOUBLE)) END
             WHEN lot IS NULL THEN NULL
             WHEN CAST(epoch_us(b.ts) AS DOUBLE) < CAST(epoch_us(lot) AS DOUBLE) THEN
               CASE WHEN lo2t IS NULL THEN lov
                    ELSE lov + (lo2v - lov) *
                      (CAST(epoch_us(b.ts) AS DOUBLE) - CAST(epoch_us(lot) AS DOUBLE)) /
                      (CAST(epoch_us(lo2t) AS DOUBLE) - CAST(epoch_us(lot) AS DOUBLE)) END
             WHEN CAST(epoch_us(b.ts) AS DOUBLE) > CAST(epoch_us(hit) AS DOUBLE) THEN
               CASE WHEN hi2t IS NULL THEN hiv
                    ELSE hiv + (hi2v - hiv) *
                      (CAST(epoch_us(b.ts) AS DOUBLE) - CAST(epoch_us(hit) AS DOUBLE)) /
                      (CAST(epoch_us(hi2t) AS DOUBLE) - CAST(epoch_us(hit) AS DOUBLE)) END
             ELSE NULL END, 6) AS v_interp
         FROM back b
         JOIN fwd f ON b.user_id = f.user_id AND b.ts = f.ts
         LEFT JOIN lo ON b.user_id = lo.user_id
         LEFT JOIN hi ON b.user_id = hi.user_id
         LEFT JOIN lo2 ON b.user_id = lo2.user_id
         LEFT JOIN hi2 ON b.user_id = hi2.user_id""",
    // polynomial(order=3) == cubic spline: reuse the Thomas-solve CTE
    // oracle with the output column renamed
    "q112_interp_polynomial" ->
      QueriesMore.oracles("q89_spline_cubic").replace("AS v_cubic", "AS v_poly"),
    // mirrors interpBarycentric: sorted per-series arrays, weight and
    // probe sums as left folds over the same order in both engines
    "q113_interp_barycentric" ->
      """WITH kn0 AS (
           SELECT user_id,
                  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) / 86400000000.0 AS x,
                  CAST(value AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase'),
         sx AS (SELECT user_id, list(x ORDER BY x) AS xsall FROM kn0 GROUP BY 1),
         kw AS (
           SELECT k.user_id, k.x, k.y,
             1.0 / list_reduce(list_prepend(1.0,
                 list_transform(list_filter(s.xsall, e -> e != k.x),
                   e -> k.x - e)),
               (a, b) -> a * b) AS w
           FROM kn0 k JOIN sx s USING (user_id)),
         arrs AS (
           SELECT user_id, list(x ORDER BY x) AS xs, list(y ORDER BY x) AS ys,
                  list(w ORDER BY x) AS ws
           FROM kw GROUP BY 1),
         probes AS (
           SELECT u.user_id, g.ts,
                  CAST(epoch_us(g.ts) AS DOUBLE) / 86400000000.0 AS x
           FROM (SELECT DISTINCT user_id FROM kn0) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
                             INTERVAL 1 DAY)) g)
         SELECT p.user_id, p.ts,
           CASE WHEN p.x < a.xs[1] THEN NULL
                WHEN p.x > a.xs[len(a.xs)] THEN NULL
                WHEN coalesce(list_position(a.xs, p.x), 0) > 0
                  THEN a.ys[list_position(a.xs, p.x)]
                ELSE
                  list_reduce(list_prepend(0.0, list_transform(
                      generate_series(1, len(a.xs)),
                      i -> a.ws[i] / (p.x - a.xs[i]) * a.ys[i])), (q, r) -> q + r)
                  / list_reduce(list_prepend(0.0, list_transform(
                      generate_series(1, len(a.xs)),
                      i -> a.ws[i] / (p.x - a.xs[i]))), (q, r) -> q + r)
           END AS v_barycentric
         FROM probes p JOIN arrs a USING (user_id)""",
    // mirrors interpKrogh: the divided-difference levels recurse carrying
    // the whole level as a LIST; Horner folds indices n-1..1. Identical
    // left-fold order to the engine's aggregate().
    "q114_interp_krogh" ->
      """WITH RECURSIVE kn0 AS (
           SELECT user_id,
                  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) / 86400000000.0 AS x,
                  CAST(value AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase'),
         arrs AS (
           SELECT user_id, list(x ORDER BY x) AS xs, list(y ORDER BY x) AS ys,
                  count(*) AS n
           FROM kn0 GROUP BY 1),
         dd AS (
           SELECT user_id, xs, n, CAST(1 AS BIGINT) AS l, ys AS cur,
                  [ys[1]] AS coef
           FROM arrs
           UNION ALL
           SELECT user_id, xs, n, l + 1,
             list_transform(generate_series(1, CAST(n - l AS BIGINT)),
               i -> (cur[i + 1] - cur[i]) / (xs[i + l] - xs[i])) AS cur,
             list_append(coef,
               (cur[2] - cur[1]) / (xs[1 + l] - xs[1])) AS coef
           FROM dd WHERE l <= n - 1),
         cs AS (
           SELECT user_id, xs, coef FROM dd WHERE l = n),
         probes AS (
           SELECT u.user_id, g.ts,
                  CAST(epoch_us(g.ts) AS DOUBLE) / 86400000000.0 AS x
           FROM (SELECT DISTINCT user_id FROM kn0) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
                             INTERVAL 1 DAY)) g)
         SELECT p.user_id, p.ts,
           CASE WHEN p.x < c.xs[1] THEN NULL
                WHEN p.x > c.xs[len(c.xs)] THEN NULL
                ELSE list_reduce(
                  list_prepend(c.coef[len(c.xs)],
                    list_transform(generate_series(CAST(len(c.xs) - 1 AS BIGINT),
                        1, -1), b -> CAST(b AS DOUBLE))),
                  (a, b) -> a * (p.x - c.xs[CAST(b AS BIGINT)])
                            + c.coef[CAST(b AS BIGINT)])
           END AS v_krogh
         FROM probes p JOIN cs c USING (user_id)""",
    "q108_interp_zero" ->
      """WITH series AS (
           SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         probes AS (
           SELECT u.user_id, g.ts FROM
             (SELECT DISTINCT user_id FROM series) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
                             INTERVAL 1 DAY)) g),
         back AS (
           SELECT p.user_id, p.ts, s.value AS y0, s.ts AS t0
           FROM probes p ASOF LEFT JOIN series s
           ON p.user_id = s.user_id AND p.ts >= s.ts),
         fwd AS (
           SELECT p.user_id, p.ts, s.ts AS t1
           FROM probes p ASOF LEFT JOIN series s
           ON p.user_id = s.user_id AND p.ts <= s.ts)
         SELECT b.user_id, b.ts,
           CASE WHEN t0 IS NULL OR t1 IS NULL THEN NULL ELSE y0 END AS v_zero
         FROM back b JOIN fwd f ON b.user_id = f.user_id AND b.ts = f.ts""",
    "q109_interp_slinear" ->
      """WITH series AS (
           SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         probes AS (
           SELECT u.user_id, g.ts FROM
             (SELECT DISTINCT user_id FROM series) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
                             INTERVAL 1 DAY)) g),
         back AS (
           SELECT p.user_id, p.ts, s.value AS y0, s.ts AS t0
           FROM probes p ASOF LEFT JOIN series s
           ON p.user_id = s.user_id AND p.ts >= s.ts),
         fwd AS (
           SELECT p.user_id, p.ts, s.value AS y1, s.ts AS t1
           FROM probes p ASOF LEFT JOIN series s
           ON p.user_id = s.user_id AND p.ts <= s.ts)
         SELECT b.user_id, b.ts,
           CASE WHEN t0 IS NULL OR t1 IS NULL THEN NULL
                WHEN CAST(epoch_us(t1) AS DOUBLE) = CAST(epoch_us(t0) AS DOUBLE) THEN y0
                ELSE y0 + (y1 - y0) *
                  (CAST(epoch_us(b.ts) AS DOUBLE) - CAST(epoch_us(t0) AS DOUBLE)) /
                  (CAST(epoch_us(t1) AS DOUBLE) - CAST(epoch_us(t0) AS DOUBLE)) END
             AS v_slinear
         FROM back b JOIN fwd f ON b.user_id = f.user_id AND b.ts = f.ts""",
    // mirrors interpQuadratic: alternating running-sum slope closed form,
    // identical float op order (running window sums fold sequentially in
    // both engines)
    "q110_interp_quadratic" ->
      """WITH kn0 AS (
           SELECT user_id,
                  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE)
                    / 86400000000.0 AS t,
                  CAST(value AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase'),
         k1 AS (
           SELECT user_id, t, y,
             lead(t) OVER w AS tp,
             lead(t) OVER w - t AS h,
             (lead(y) OVER w - y) / (lead(t) OVER w - t) AS m,
             row_number() OVER w - 1 AS j
           FROM kn0 WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         k2 AS (
           SELECT user_id, t, y, tp, h, m, j,
             CASE WHEN j = 0 THEN m
                  ELSE 2.0 * (CASE WHEN j % 2 = 1 THEN -1.0 ELSE 1.0 END)
                       * lag(m) OVER w END AS term
           FROM k1 WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         k2g AS (
           SELECT user_id, list(coalesce(term, 0.0) ORDER BY t) AS terms
           FROM k2 GROUP BY user_id),
         k3 AS (
           SELECT k2.user_id, t, y, tp, h, m, j,
             list_reduce(k2g.terms[1:k2.j+1], (a, b) -> a + b) AS e
           FROM k2 JOIN k2g USING (user_id)),
         k4 AS (
           SELECT user_id, t, y, tp, h, m,
             CASE WHEN j % 2 = 1 THEN -e ELSE e END AS d
           FROM k3),
         probes AS (
           SELECT u.user_id,
               CAST(epoch_us(g.ts) AS DOUBLE) / 86400000000.0 AS t FROM
             (SELECT DISTINCT user_id FROM kn0) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
                             INTERVAL 1 DAY)) g)
         SELECT p.user_id, p.t AS t_probe,
           CASE WHEN s.t IS NULL THEN NULL
                WHEN p.t = s.t THEN s.y
                WHEN s.tp IS NULL THEN NULL
                ELSE s.y + s.d * (p.t - s.t)
                     + (s.m - s.d) * (p.t - s.t) * (p.t - s.t) / s.h END
             AS v_quadratic
         FROM probes p ASOF LEFT JOIN k4 s
         ON p.user_id = s.user_id AND p.t >= s.t""",
    // mirrors interpQuintic: 3-point derivative estimates + quintic
    // Hermite basis, same IEEE op order term by term
    "q111_interp_quintic" ->
      """WITH kn0 AS (
           SELECT user_id, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS t,
                  CAST(value AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase'),
         k1 AS (
           SELECT user_id, t, y,
             lead(t) OVER w AS tp, lead(y) OVER w AS yp,
             lead(t) OVER w - t AS hn,
             (lead(y) OVER w - y) / (lead(t) OVER w - t) AS dn
           FROM kn0 WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         k2 AS (
           SELECT user_id, t, y, tp, yp, hn, dn,
             lag(hn) OVER w AS hm, lag(dn) OVER w AS dm
           FROM k1 WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         k3 AS (
           SELECT user_id, t, y, tp, yp, hn, dn, hm, dm,
             CASE WHEN dm IS NULL AND dn IS NULL THEN 0.0
                  WHEN dm IS NULL THEN dn
                  WHEN dn IS NULL THEN dm
                  ELSE (hn * dm + hm * dn) / (hm + hn) END AS d,
             CASE WHEN dm IS NULL OR dn IS NULL THEN 0.0
                  ELSE 2.0 * (dn - dm) / (hm + hn) END AS c
           FROM k2),
         k4 AS (
           SELECT user_id, t, y, tp, yp, d, c,
             lead(d) OVER w AS d1, lead(c) OVER w AS c1
           FROM k3 WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         probes AS (
           SELECT u.user_id, CAST(epoch_us(g.ts) AS DOUBLE) AS t FROM
             (SELECT DISTINCT user_id FROM kn0) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
                             INTERVAL 1 DAY)) g),
         ev AS (
           SELECT p.user_id, p.t, s.t AS t0, s.y AS y0, s.d AS d0, s.c AS c0,
                  s.tp AS t1, s.yp AS y1, s.d1, s.c1,
                  s.tp - s.t AS h,
                  (p.t - s.t) / (s.tp - s.t) AS sarg
           FROM probes p ASOF LEFT JOIN k4 s
           ON p.user_id = s.user_id AND p.t >= s.t),
         ev2 AS (
           SELECT user_id, t, t0, y0, d0, c0, t1, y1, d1, c1, h, sarg,
             sarg * sarg AS s2,
             (sarg * sarg) * sarg AS s3,
             ((sarg * sarg) * sarg) * sarg AS s4,
             (((sarg * sarg) * sarg) * sarg) * sarg AS s5
           FROM ev)
         SELECT user_id, t AS t_probe,
           CASE WHEN t0 IS NULL THEN NULL
                WHEN t = t0 THEN y0
                WHEN t1 IS NULL THEN NULL
                ELSE y0 * (1.0 - 10.0 * s3 + 15.0 * s4 - 6.0 * s5)
                   + (h * d0) * (sarg - 6.0 * s3 + 8.0 * s4 - 3.0 * s5)
                   + ((h * h) * c0) * (0.5 * (s2 - 3.0 * s3 + 3.0 * s4 - s5))
                   + y1 * (10.0 * s3 - 15.0 * s4 + 6.0 * s5)
                   + (h * d1) * (-4.0 * s3 + 7.0 * s4 - 3.0 * s5)
                   + ((h * h) * c1) * (0.5 * (s3 - 2.0 * s4 + s5)) END
             AS v_quintic
         FROM ev2""",
    "q46_interpolate_na" ->
      """SELECT event_id, user_id,
         CASE WHEN vm IS NOT NULL THEN vm
              WHEN y0 IS NULL OR y1 IS NULL THEN NULL
              WHEN t1 = t0 THEN y0
              ELSE y0 + (y1 - y0) * (t - t0) / (t1 - t0) END AS vm_interp
         FROM (SELECT event_id, user_id, vm, t,
             last_value(vm IGNORE NULLS) OVER wa AS y0,
             last_value(CASE WHEN vm IS NOT NULL THEN t END IGNORE NULLS)
               OVER wa AS t0,
             last_value(vm IGNORE NULLS) OVER wd AS y1,
             last_value(CASE WHEN vm IS NOT NULL THEN t END IGNORE NULLS)
               OVER wd AS t1
           FROM (SELECT event_id, user_id, ts,
               CASE WHEN event_type <> 'error' THEN value END AS vm,
               CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS t FROM events)
           WINDOW
             wa AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wd AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""",
    "q46b_interpolate_na_limit" ->
      """SELECT event_id, user_id,
         CASE WHEN vm IS NOT NULL THEN vm
              WHEN y0 IS NULL OR y1 IS NULL THEN NULL
              WHEN NOT (rn - rv <= 2 AND t1 - t0 <= 1800.0) THEN NULL
              WHEN t1 = t0 THEN y0
              ELSE y0 + (y1 - y0) * (t - t0) / (t1 - t0) END AS vm_interp
         FROM (SELECT event_id, user_id, vm, t, rn,
             last_value(vm IGNORE NULLS) OVER wa AS y0,
             last_value(CASE WHEN vm IS NOT NULL THEN t END IGNORE NULLS)
               OVER wa AS t0,
             last_value(CASE WHEN vm IS NOT NULL THEN rn END IGNORE NULLS)
               OVER wa AS rv,
             last_value(vm IGNORE NULLS) OVER wd AS y1,
             last_value(CASE WHEN vm IS NOT NULL THEN t END IGNORE NULLS)
               OVER wd AS t1
           FROM (SELECT event_id, user_id, ts,
               CASE WHEN event_type <> 'error' THEN value END AS vm,
               CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS t,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS rn
             FROM events)
           WINDOW
             wa AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wd AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""",
    "q47_dot" ->
      """SELECT vec_id,
         CAST(sum(CAST(CAST(a AS DOUBLE) * CAST(b AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
           AS dot_rev,
         round(sqrt(CAST(sum(CAST(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
           AS DECIMAL(38,12))) AS DOUBLE)), 9) AS l2
         FROM (SELECT vec_id,
             embedding[i] AS a,
             embedding[len(embedding) - i + 1] AS b
           FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i))
         GROUP BY 1""",
    "q118_polyfit3_cov" -> {
      val (cs, vs) = Numerics.fit3covSqlExprs
      val x = "(l_quantity * CAST(0.02 AS DOUBLE))"
      val y = "(l_extendedprice * CAST(1.0E-5 AS DOUBLE))"
      def pw(k: Int) = (2 to k).foldLeft(x)((a, _) => s"($a * $x)")
      def ds(e: String) = s"CAST(sum(CAST($e AS DECIMAL(38,9))) AS DOUBLE)"
      val sDefs = "CAST(count(*) AS DOUBLE) AS s0" +:
        (1 to 6).map(k => s"${ds(pw(k))} AS s$k")
      val tDefs = (0 to 3).map(k =>
        (if (k == 0) ds(y) else ds(s"(${pw(k)} * $y)")) + s" AS t$k")
      val moments = (sDefs ++ tDefs :+ (ds(s"($y * $y)") + " AS syy")).mkString(",\n           ")
      // + 0.0 normalizes signed zero (Spark round can't emit -0.0; DuckDB's can)
      val outs = ((0 to 3).map(k => s"round(${cs(k)}, 6) + 0.0 AS c$k") ++
        (0 to 3).map(k => s"round(${vs(k)}, 9) + 0.0 AS v$k")).mkString(",\n         ")
      s"""SELECT l_returnflag,
         $outs
         FROM (SELECT l_returnflag,
           $moments
           FROM lineitem GROUP BY 1)"""
    },
    // Welch replay: identical decimal power sums, identical IEEE
    // assembly (every division on doubles; + 0.0 signed-zero idiom on
    // the negative-capable t)
    "q288_welch_ttest" ->
      """WITH s AS (SELECT
           CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
             AS BIGINT) AS na,
           CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
             AS BIGINT) AS nb,
           sum(CASE WHEN l_returnflag = 'A'
               THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS sa,
           sum(CASE WHEN l_returnflag = 'N'
               THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS sb,
           sum(CASE WHEN l_returnflag = 'A'
               THEN CAST(l_quantity * l_quantity AS DECIMAL(38,6)) END) AS saa,
           sum(CASE WHEN l_returnflag = 'N'
               THEN CAST(l_quantity * l_quantity AS DECIMAL(38,6)) END) AS sbb
           FROM lineitem WHERE l_returnflag IN ('A', 'N')),
         q AS (SELECT *,
           ((CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
               / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE))
             / CAST(na AS DOUBLE) AS qa,
           ((CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
               / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE))
             / CAST(nb AS DOUBLE) AS qb
           FROM s)
         SELECT na, nb,
           round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
               - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
             / sqrt(qa + qb), 8) + 0.0 AS t_stat,
           round(pow(qa + qb, 2) /
             (pow(qa, 2) / CAST(na - 1 AS DOUBLE)
              + pow(qb, 2) / CAST(nb - 1 AS DOUBLE)), 6) + 0.0 AS df_welch
         FROM q""",
    // chi2 replay: same contingency counts, identical e = r*c/N doubles,
    // 8-dp decimal terms summed exactly, one final cast
    "q289_chi2_independence" ->
      """WITH cells AS (SELECT l_returnflag AS x, l_linestatus AS y,
             count(*) AS o FROM lineitem GROUP BY 1, 2),
         r AS (SELECT x, sum(o) AS r FROM cells GROUP BY 1),
         c AS (SELECT y, sum(o) AS c FROM cells GROUP BY 1),
         n AS (SELECT sum(o) AS n FROM cells),
         t AS (SELECT CAST(n.n AS BIGINT) AS n,
             CAST(round(pow(CAST(o AS DOUBLE)
                 - CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)
                   / CAST(n.n AS DOUBLE), 2)
               / (CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)
                  / CAST(n.n AS DOUBLE)), 8) AS DECIMAL(28,8)) AS term
           FROM cells JOIN r USING (x) JOIN c USING (y) CROSS JOIN n),
         d AS (SELECT count(DISTINCT x) AS nx, count(DISTINCT y) AS ny
           FROM cells)
         SELECT t.n, (d.nx - 1) * (d.ny - 1) AS dof,
           CAST(sum(term) AS DOUBLE) AS chi2
         FROM t CROSS JOIN d GROUP BY 1, 2""",
    // Mann-Whitney replay: identical value-level prefix, integer 2x
    // ranks, identical tie-corrected z expression
    "q290_mannwhitney_u" ->
      """WITH pv AS (SELECT l_quantity AS v,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM lineitem WHERE l_returnflag IN ('A', 'N') GROUP BY 1),
         rk AS (SELECT *, coalesce(sum(ca + cb) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           FROM pv),
         r2 AS (SELECT *, 2 * below + (ca + cb) + 1 AS r2 FROM rk),
         agg AS (SELECT CAST(sum(ca) AS BIGINT) AS n1,
             CAST(sum(cb) AS BIGINT) AS n2,
             CAST(sum(ca * r2) AS BIGINT) AS r1_x2,
             CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
               AS BIGINT) AS tie3
           FROM r2)
         SELECT n1, n2,
           r1_x2 - n1 * (n1 + 1) AS u1_x2,
           2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS u2_x2,
           round((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
               - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
             / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
                 (CAST(n1 + n2 + 1 AS DOUBLE)
                  - CAST(tie3 AS DOUBLE) /
                    (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))),
             8) + 0.0 AS z_stat
         FROM agg""",
    // KS replay: same value-level cumulatives; the statistic is an exact
    // integer on the n1*n2 denominator
    "q291_ks_test" ->
      """WITH pv AS (SELECT l_quantity AS v,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM lineitem WHERE l_returnflag IN ('A', 'N') GROUP BY 1),
         cum AS (SELECT *,
             sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cuma,
             sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cumb
           FROM pv),
         tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n1,
             CAST(sum(cb) AS BIGINT) AS n2 FROM pv)
         SELECT tot.n1, tot.n2,
           CAST(max(abs(cuma * tot.n2 - cumb * tot.n1)) AS BIGINT) AS d_num
         FROM cum CROSS JOIN tot GROUP BY 1, 2""",
    // ANOVA replay: identical power sums, identical 4-dp group-term grid,
    // identical final IEEE expression
    "q292_anova_f" ->
      """WITH g AS (SELECT l_returnflag, count(*) AS ni,
             sum(CAST(l_quantity AS DECIMAL(38,6))) AS si,
             sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS qi
           FROM lineitem GROUP BY 1),
         t AS (SELECT ni, si, qi,
             CAST(round(CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
               / CAST(ni AS DOUBLE), 4) AS DECIMAL(28,4)) AS gsq
           FROM g),
         a AS (SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ni) AS BIGINT) AS n,
             sum(si) AS s, sum(qi) AS q, sum(gsq) AS gs FROM t)
         SELECT k, n,
           round(((CAST(gs AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
             / ((CAST(q AS DOUBLE) - CAST(gs AS DOUBLE))
                / CAST(n - k AS DOUBLE)), 8) + 0.0 AS f_stat
         FROM a""",
    // Brown-Forsythe replay: exact doubled group medians (DuckDB's
    // interpolated quantile_cont equals Spark's percentile average on
    // the integer grid), |2v - med2| deviations, then the q292 anovaF
    // decimal-moment pipeline verbatim
    "q372_brown_forsythe" ->
      """WITH med AS (SELECT l_returnflag,
             CAST(round(quantile_cont(l_quantity, 0.5) * 2) AS BIGINT)
               AS med2
           FROM lineitem GROUP BY 1),
         z AS (SELECT l.l_returnflag,
             abs(CAST(2 * l.l_quantity AS BIGINT) - m.med2) AS zz
           FROM lineitem l JOIN med m USING (l_returnflag)),
         g AS (SELECT l_returnflag, count(*) AS ni,
             sum(CAST(zz AS DECIMAL(38,6))) AS si,
             sum(CAST(zz * zz AS DECIMAL(38,6))) AS qi
           FROM z GROUP BY 1),
         t AS (SELECT ni, si, qi,
             CAST(round(CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
               / CAST(ni AS DOUBLE), 4) AS DECIMAL(28,4)) AS gsq
           FROM g),
         a AS (SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ni) AS BIGINT) AS n,
             sum(si) AS s, sum(qi) AS q, sum(gsq) AS gs FROM t)
         SELECT k, n,
           round(((CAST(gs AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
             / ((CAST(q AS DOUBLE) - CAST(gs AS DOUBLE))
                / CAST(n - k AS DOUBLE)), 8) + 0.0 AS f_stat
         FROM a""",

    // Mann-Kendall replay: identical day-pair grid, sign sum, tie
    // term, shifted-floor e6 slope grid and doubled median — HUGEINT
    // floor division matches the Spark decimal div on positives
    "q373_mann_kendall" ->
      """WITH d AS MATERIALIZED (SELECT
             CAST(datediff('day', DATE '1992-01-01', o_orderdate)
               AS BIGINT) AS t,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS v
           FROM orders GROUP BY 1),
         p AS MATERIALIZED (SELECT b.v - a.v AS dv, b.t - a.t AS dt
           FROM d a JOIN d b ON a.t < b.t),
         sl AS MATERIALIZED (SELECT dv, dt,
             CAST((CAST(dv AS HUGEINT) + 10000000000 * dt) * 1000000
               // dt - 10000000000 * CAST(1000000 AS HUGEINT) AS BIGINT)
               AS s_e6
           FROM p),
         mk AS (SELECT CAST(count(*) AS BIGINT) AS np,
             CAST(coalesce(sum(sign(dv)), 0) AS BIGINT) AS s,
             min(CAST(dv AS HUGEINT) + 10000000000 * dt) AS minsh
           FROM sl),
         ties AS (SELECT
             CAST(coalesce(sum(CAST(c AS HUGEINT) * (c - 1)
               * (2 * c + 5)), 0) AS HUGEINT) AS t3,
             CAST(coalesce(sum(c), 0) AS BIGINT) AS n
           FROM (SELECT v, count(*) AS c FROM d GROUP BY 1)),
         sv AS (SELECT s_e6, count(*) AS c FROM sl GROUP BY 1),
         cum AS (SELECT s_e6, sum(c) OVER (ORDER BY s_e6
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
           FROM sv),
         npt AS (SELECT coalesce(sum(c), 0) AS np FROM sv),
         med AS (SELECT
             min(CASE WHEN cumc >= (np + 1) // 2 THEN s_e6 END) AS m_lo,
             min(CASE WHEN cumc >= np // 2 + 1 THEN s_e6 END) AS m_hi
           FROM cum CROSS JOIN npt)
         SELECT ties.n AS n, mk.np AS n_pairs, mk.s AS s,
           CASE WHEN ties.n < 3
                  OR CAST(ties.n AS DOUBLE) * (ties.n - 1)
                     * (2 * ties.n + 5) - CAST(ties.t3 AS DOUBLE) = 0.0
             THEN NULL ELSE round(
             (CAST(mk.s AS DOUBLE) - CASE WHEN mk.s > 0 THEN 1.0
                 WHEN mk.s < 0 THEN -1.0 ELSE 0.0 END)
             / sqrt((CAST(ties.n AS DOUBLE) * (ties.n - 1)
                 * (2 * ties.n + 5) - CAST(ties.t3 AS DOUBLE)) / 18.0),
             6) END AS z,
           CASE WHEN mk.minsh <= 0 THEN NULL
             ELSE CAST(med.m_lo + med.m_hi AS BIGINT) END
             AS sen_slope_e6_x2
         FROM mk CROSS JOIN ties CROSS JOIN med""",

    // Pettitt replay: doubled midranks of the daily counts, the exact
    // integer identity U_t = t(n+1) - sum r2, earliest-argmax flag
    "q374_pettitt" ->
      """WITH d AS MATERIALIZED (SELECT o_orderdate AS d,
             CAST(count(*) AS BIGINT) AS n_ord FROM orders GROUP BY 1),
         rv AS (SELECT n_ord AS v, count(*) AS c FROM d GROUP BY 1),
         rk AS (SELECT v,
             2 * coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
           FROM rv),
         nn AS (SELECT count(*) AS n FROM d),
         sc AS (SELECT d.d, d.n_ord,
             row_number() OVER (ORDER BY d.d) AS t,
             sum(rk.r2) OVER (ORDER BY d.d ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS rsum
           FROM d JOIN rk ON d.n_ord = rk.v),
         u AS MATERIALIZED (SELECT d, n_ord,
             CAST(abs(t * (nn.n + 1) - rsum) AS BIGINT) AS u_abs
           FROM sc CROSS JOIN nn),
         mx AS (SELECT max(u_abs) AS mx FROM u),
         cp AS (SELECT min(d) AS cp FROM u CROSS JOIN mx
           WHERE u_abs = mx)
         SELECT u.d, u.n_ord, u.u_abs,
           u.d = cp.cp AS is_changepoint
         FROM u CROSS JOIN cp""",

    // Benford replay: identical pinned 8-dp expected constants, the
    // chi2Independence per-digit term grid
    "q375_benford" ->
      """WITH e AS (SELECT * FROM (VALUES
             (1, 0.30103), (2, 0.17609126), (3, 0.12493874),
             (4, 0.09691001), (5, 0.07918125), (6, 0.06694679),
             (7, 0.05799195), (8, 0.05115252), (9, 0.04575749))
           AS t(d, e8)),
         dg AS (SELECT CASE WHEN v > 0 THEN
             CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) END AS d
           FROM (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
             AS v FROM orders)),
         obs AS (SELECT d, count(*) AS o FROM dg GROUP BY 1),
         tot AS (SELECT coalesce(sum(o), 0) AS n FROM obs
           WHERE d IS NOT NULL),
         exc AS (SELECT coalesce(sum(o), 0) AS ne FROM obs
           WHERE d IS NULL),
         terms AS (SELECT e.d, coalesce(obs.o, 0) AS o, tot.n,
             CAST(round(CASE WHEN tot.n = 0 THEN NULL ELSE
               (CAST(coalesce(obs.o, 0) AS DOUBLE)
                  - CAST(tot.n AS DOUBLE) * e.e8)
               * (CAST(coalesce(obs.o, 0) AS DOUBLE)
                  - CAST(tot.n AS DOUBLE) * e.e8)
               / (CAST(tot.n AS DOUBLE) * e.e8) END, 8)
               AS DECIMAL(30,8)) AS term
           FROM e LEFT JOIN obs USING (d) CROSS JOIN tot)
         SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(max(exc.ne) AS BIGINT) AS n_excluded,
           CASE WHEN max(n) = 0 THEN NULL
             ELSE round(CAST(sum(term) AS DOUBLE), 6) END AS chi2
         FROM terms CROSS JOIN exc""",

    // ACF/Ljung-Box replay: identical cleared-deviation decimal
    // moments, one IEEE division per lag at 8 dp, 12-dp Q terms
    // decimal-summed cumulatively
    "q376_acf_ljung_box" ->
      """WITH d AS MATERIALIZED (SELECT
             CAST(datediff('day', DATE '1992-01-01', o_orderdate)
               AS BIGINT) AS t,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS v
           FROM orders GROUP BY 1),
         tot AS (SELECT count(*) AS n,
             CAST(coalesce(sum(CAST(v AS HUGEINT)), 0) AS HUGEINT) AS sv
           FROM d),
         b AS MATERIALIZED (SELECT t, n,
             CAST(n AS HUGEINT) * v AS nv, sv
           FROM d CROSS JOIN tot),
         den AS (SELECT max(n) AS n,
             CAST(coalesce(sum((nv - sv) * (nv - sv)), 0) AS HUGEINT)
               AS den FROM b),
         lg AS (SELECT unnest(generate_series(1, 14)) AS lag),
         nums AS (SELECT lag,
             sum((x.nv - x.sv) * (y.nv - y.sv)) AS num,
             count(*) AS n_pairs
           FROM b x CROSS JOIN lg JOIN b y ON x.t + lg.lag = y.t
           GROUP BY 1),
         acf AS (SELECT lg.lag AS lag,
             CAST(coalesce(nums.n_pairs, 0) AS BIGINT) AS n_pairs,
             den.n,
             CASE WHEN den.den = 0 OR nums.num IS NULL THEN NULL
               ELSE round(CAST(nums.num AS DOUBLE)
                 / CAST(den.den AS DOUBLE), 8) END AS acf8
           FROM lg LEFT JOIN nums ON lg.lag = nums.lag
           CROSS JOIN den),
         t2 AS (SELECT lag, n_pairs, n, acf8,
             CAST(round(acf8 * acf8 / CAST(n - lag AS DOUBLE), 12)
               AS DECIMAL(30,12)) AS term
           FROM acf)
         SELECT CAST(lag AS BIGINT) AS lag, n_pairs, acf8,
           CASE WHEN n <= lag THEN NULL ELSE
             round(CAST(n AS DOUBLE) * (n + 2)
               * CAST(sum(term) OVER (ORDER BY lag ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
           END AS q
         FROM t2""",

    // Cliff's delta replay: the q290 doubled-midrank value frame;
    // nonnegative dividend then the -1e6 shift keeps the floor
    // division identical on both engines
    "q377_cliffs_delta" ->
      """WITH pv AS (SELECT l_quantity AS v,
             sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS cb
           FROM lineitem WHERE l_returnflag IN ('A', 'N') GROUP BY 1),
         rk AS (SELECT v, ca, cb,
             2 * coalesce(sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (ca + cb) + 1 AS r2
           FROM pv),
         a AS (SELECT CAST(sum(ca) AS BIGINT) AS n1,
             CAST(sum(cb) AS BIGINT) AS n2,
             CAST(sum(ca * r2) AS BIGINT) AS r1_x2 FROM rk)
         SELECT n1, n2,
           CASE WHEN n1 IS NULL OR n1 = 0 OR n2 = 0 THEN NULL
             ELSE CAST(CAST(r1_x2 - n1 * (n1 + 1) AS HUGEINT) * 1000000
                  // (CAST(n1 AS HUGEINT) * n2) - 1000000 AS BIGINT)
           END AS delta_ppm
         FROM a""",

    // BCa replay: q333's replicate machinery + the SAME A&S polynomial
    // text (interpolated from Bootstrap.invPhiSql/phiSql, so the
    // constants can never drift between engines)
    "q388_bca_bootstrap" -> {
      import graft.numerics.Bootstrap.{invPhiSql, phiSql, thresholdsSql}
      val pLo = s"round(${invPhiSql("(CAST(25 AS DOUBLE) / 1000.0)")}, 8)"
      val pHi = s"round(${invPhiSql(
        "(1.0 - CAST(25 AS DOUBLE) / 1000.0)")}, 8)"
      def pAdj(z: String): String =
        s"""round(${phiSql(s"""(z0_8 + (z0_8 + $z)
            / (1.0 - a8 * (z0_8 + $z)))""")}, 8)"""
      s"""WITH rows_in AS (
           SELECT CAST(o_orderkey AS VARCHAR) AS id,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
           FROM orders),
         u AS MATERIALIZED (
           SELECT g.b, v,
             list_reduce(list_transform(
                 string_split(substr(md5(id || '#' ||
                   CAST(g.b AS VARCHAR)), 1, 13), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 1000000000000 AS uu
           FROM rows_in, (SELECT unnest(generate_series(0, 47)) AS b) g),
         w AS (SELECT b, v, ${thresholdsSql("uu")} AS wt FROM u),
         reps AS MATERIALIZED (
           SELECT b, sum(CAST(wt * v AS HUGEINT))
             // nullif(sum(wt), 0) AS m
           FROM w GROUP BY b),
         f AS MATERIALIZED (SELECT count(*) AS n,
             CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2,
             CAST(sum(CAST(v AS HUGEINT) * v * v) AS HUGEINT) AS s3,
             sum(CAST(v AS HUGEINT)) // count(*) AS fmean
           FROM rows_in),
         ci AS (SELECT CAST(count(*) AS BIGINT) AS n_reps,
             list_sort(list(m)) AS ms,
             CAST(sum(CASE WHEN m < f.fmean THEN 1 ELSE 0 END)
               AS BIGINT) AS below
           FROM (SELECT * FROM reps WHERE m IS NOT NULL) reps
           CROSS JOIN f),
         st AS (SELECT ci.*, f.n, f.fmean,
             CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
               / CAST(n AS DOUBLE) AS m2d,
             CAST(s3 AS DOUBLE)
               - 3.0 * CAST(s2 AS DOUBLE) * CAST(s1 AS DOUBLE)
                 / CAST(n AS DOUBLE)
               + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                 * CAST(s1 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS m3d
           FROM ci CROSS JOIN f),
         z AS (SELECT *,
             CASE WHEN below = 0 OR below = n_reps THEN NULL
               ELSE round(${invPhiSql(
        "(CAST(below AS DOUBLE) / CAST(n_reps AS DOUBLE))")}, 8)
             END AS z0_8,
             CASE WHEN m2d <= 0.0 THEN NULL
               ELSE round(m3d / (6.0 * m2d * sqrt(m2d)), 8) END AS a8
           FROM st),
         pp AS (SELECT *,
             CASE WHEN z0_8 IS NULL OR a8 IS NULL THEN NULL
               ELSE ${pAdj(pLo)} END AS plo,
             CASE WHEN z0_8 IS NULL OR a8 IS NULL THEN NULL
               ELSE ${pAdj(pHi)} END AS phi_p
           FROM z)
         SELECT n_reps, CAST(fmean AS BIGINT) AS mean_fp, z0_8, a8,
           CASE WHEN plo IS NULL THEN NULL ELSE CAST(ms[CAST(
             least(greatest(floor(48 * plo) + 1, 1), 48) AS INT)]
             AS BIGINT) END AS lo_fp,
           CASE WHEN phi_p IS NULL THEN NULL ELSE CAST(ms[CAST(
             least(greatest(floor(48 * phi_p) + 1, 1), 48) AS INT)]
             AS BIGINT) END AS hi_fp
         FROM pp
         WHERE n_reps = 48"""
    },

    // Spearman replay: average-tie rank = cntBelow + (cntEq+1)/2 (the
    // exact half-integer Rank.avgRank computes), then the q40 corr
    // power-sum expression over the rank pairs
    "q293_spearman" ->
      """WITH vx AS (SELECT l_quantity AS v, count(*) AS c
           FROM lineitem GROUP BY 1),
         rx AS (SELECT v, coalesce(sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (c + 1) / 2.0 AS r FROM vx),
         vy AS (SELECT l_extendedprice AS v, count(*) AS c
           FROM lineitem GROUP BY 1),
         ry AS (SELECT v, coalesce(sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (c + 1) / 2.0 AS r FROM vy),
         p AS (SELECT rx.r AS x, ry.r AS y
           FROM lineitem l
           JOIN rx ON l.l_quantity = rx.v
           JOIN ry ON l.l_extendedprice = ry.v),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
           FROM p)
         SELECT CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) /
             (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 8) + 0.0
             AS rho
         FROM s""",

    // KW replay: same value-level prefix, same exact 2x-rank sums, the
    // identical fixed-order H expression (a+b+c associates left to
    // right in both SQL dialects)
    "q309_kruskal_wallis" ->
      """WITH pv AS (SELECT l_quantity AS v,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
               AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
               AS BIGINT) AS c_n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS c_r
           FROM lineitem WHERE l_returnflag IN ('A', 'N', 'R') GROUP BY 1),
         rk AS (SELECT *, coalesce(sum(c_a + c_n + c_r) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           FROM pv),
         r2 AS (SELECT *, 2 * below + (c_a + c_n + c_r) + 1 AS r2 FROM rk),
         agg AS (SELECT
             CAST(sum(c_a) AS BIGINT) AS n_a,
             CAST(sum(c_n) AS BIGINT) AS n_n,
             CAST(sum(c_r) AS BIGINT) AS n_r,
             CAST(sum(c_a * r2) AS BIGINT) AS rx2_a,
             CAST(sum(c_n * r2) AS BIGINT) AS rx2_n,
             CAST(sum(c_r * r2) AS BIGINT) AS rx2_r,
             CAST(sum((c_a + c_n + c_r) * (c_a + c_n + c_r)
                 * (c_a + c_n + c_r) - (c_a + c_n + c_r)) AS BIGINT) AS tie3
           FROM r2)
         SELECT n_a, n_n, n_r,
           round((12.0 / (CAST(n_a + n_n + n_r AS DOUBLE)
                 * CAST((n_a + n_n + n_r) + 1 AS DOUBLE))
               * ((CAST(rx2_a AS DOUBLE) * CAST(rx2_a AS DOUBLE)
                     / CAST(n_a AS DOUBLE)
                   + CAST(rx2_n AS DOUBLE) * CAST(rx2_n AS DOUBLE)
                     / CAST(n_n AS DOUBLE)
                   + CAST(rx2_r AS DOUBLE) * CAST(rx2_r AS DOUBLE)
                     / CAST(n_r AS DOUBLE)) / 4.0)
               - 3.0 * CAST((n_a + n_n + n_r) + 1 AS DOUBLE))
             / (1.0 - CAST(tie3 AS DOUBLE)
                / (CAST(n_a + n_n + n_r AS DOUBLE)
                   * CAST(n_a + n_n + n_r AS DOUBLE)
                   * CAST(n_a + n_n + n_r AS DOUBLE)
                   - CAST(n_a + n_n + n_r AS DOUBLE))), 8) + 0.0 AS h_stat
         FROM agg""",

    // same integer grid: DuckDB dayofweek is 0-based (Sunday=0) vs
    // Spark's 1-based, hence the +1; // truncates toward zero like div
    "q300_seasonal_decompose" ->
      """WITH daily AS (
           SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
           FROM orders GROUP BY 1),
         t AS (
           SELECT d, dayofweek(d) + 1 AS wd, rev_c,
             count(*) OVER w AS cnt7,
             CAST(sum(rev_c) OVER w AS BIGINT) AS trend_xp
           FROM daily
           WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         v AS (SELECT d, wd, rev_c, trend_xp,
             7 * rev_c - trend_xp AS detr FROM t WHERE cnt7 = 7),
         sn AS (SELECT wd, CAST(sum(detr) AS BIGINT) AS snum,
             count(*) AS sden FROM v GROUP BY 1)
         SELECT v.d, v.wd, v.rev_c, v.trend_xp,
           snum // sden AS seas_xp,
           v.detr - (snum // sden) AS resid_xp
         FROM v JOIN sn USING (wd)""",

    // CUSUM replay: same prefix sums, the same denominator-cleared
    // HUGEINT statistic, max + earliest-bucket tie-break
    "q326_cusum_changepoint" ->
      """WITH daily AS (
           SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
           FROM orders GROUP BY 1),
         p AS (SELECT d, rev_c,
             CAST(sum(rev_c) OVER (ORDER BY d) AS BIGINT) AS cum,
             CAST(count(*) OVER (ORDER BY d) AS BIGINT) AS t
           FROM daily),
         g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(rev_c) AS HUGEINT) AS tot FROM daily),
         sc AS (SELECT d, rev_c, cum,
             CAST(abs(n * CAST(cum AS HUGEINT) - t * tot) AS BIGINT)
               AS d_stat
           FROM p CROSS JOIN g),
         mx AS (SELECT max(d_stat) AS m FROM sc),
         cp AS (SELECT min(d) AS cpd FROM sc CROSS JOIN mx
           WHERE d_stat = m)
         SELECT d, rev_c, cum, d_stat, d = cpd AS is_changepoint
         FROM sc CROSS JOIN cp""",

    // anomaly replay: the q300 decomposition verbatim, then the same
    // median / MAD quantiles and the 3x fence on the exact grid
    "q329_seasonal_anomaly" ->
      """WITH daily AS (
           SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
           FROM orders GROUP BY 1),
         t AS (
           SELECT d, dayofweek(d) + 1 AS wd, rev_c,
             count(*) OVER w AS cnt7,
             CAST(sum(rev_c) OVER w AS BIGINT) AS trend_xp
           FROM daily
           WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         v AS (SELECT d, wd, rev_c, trend_xp,
             7 * rev_c - trend_xp AS detr FROM t WHERE cnt7 = 7),
         sn AS (SELECT wd, CAST(sum(detr) AS BIGINT) AS snum,
             count(*) AS sden FROM v GROUP BY 1),
         dec AS (SELECT v.d, v.rev_c,
             v.detr - (snum // sden) AS resid_xp
           FROM v JOIN sn USING (wd)),
         m AS (SELECT quantile_cont(CAST(resid_xp AS DOUBLE), 0.5) AS med
           FROM dec),
         md AS (SELECT max(med) AS med,
             quantile_cont(abs(resid_xp - med), 0.5) AS mad
           FROM dec CROSS JOIN m)
         SELECT d, rev_c, resid_xp,
           abs(resid_xp - med) > 3 * mad AS is_anomaly
         FROM dec CROSS JOIN md""",

    // MI replay: identical contingency cells, identical 8-dp terms
    "q362_mutual_information" ->
      """WITH cells AS (SELECT l_returnflag AS xx, l_linestatus AS yy,
             CAST(count(*) AS BIGINT) AS nxy FROM lineitem GROUP BY 1, 2),
         mx AS (SELECT xx, CAST(sum(nxy) AS BIGINT) AS nx
           FROM cells GROUP BY 1),
         my AS (SELECT yy, CAST(sum(nxy) AS BIGINT) AS ny
           FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS nn FROM cells)
         SELECT max(nn) AS n, CAST(count(*) AS BIGINT) AS n_cells,
           round(CAST(sum(CAST(round(nxy *
               log2(CAST(nn AS DOUBLE) * nxy
                    / (CAST(nx AS DOUBLE) * ny)), 8)
             AS DECIMAL(30,8))) AS DOUBLE) / max(nn), 6) AS mi_bits
         FROM cells JOIN mx USING (xx) JOIN my USING (yy)
         CROSS JOIN tot""",

    // BH replay: identical pooled z (one IEEE expression, rounded 8),
    // A&S tail on the rounded z, exact-decimal step-up threshold
    "q331_bh_fdr" ->
      """WITH g AS (SELECT p_brand AS brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS k
           FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(k) AS BIGINT) AS kk FROM g),
         z AS (SELECT brand, n, k,
             round((CAST(k AS DOUBLE) / n
                    - CAST(kk - k AS DOUBLE) / (nn - n)) /
                 sqrt((CAST(kk AS DOUBLE) / nn)
                      * (1.0 - CAST(kk AS DOUBLE) / nn)
                      * (1.0 / n + 1.0 / (nn - n))), 8) + 0.0 AS z8
           FROM g CROSS JOIN tot),
         p AS (SELECT brand, n, k, z8,
             CAST(round(2.0 * (0.3989422804014327
                 * exp(-abs(z8) * abs(z8) / 2.0)
                 * (tt * (0.319381530 + tt * (-0.356563782
                    + tt * (1.781477937 + tt * (-1.821255978
                    + tt * 1.330274429)))))), 8) AS DECIMAL(18,8)) AS p8
           FROM (SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z8)) AS tt
                 FROM z)),
         m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p),
         r AS (SELECT p.*, m.m,
             CAST(row_number() OVER (ORDER BY p8, brand) AS BIGINT)
               AS rank
           FROM p CROSS JOIN m),
         km AS (SELECT COALESCE(max(rank), 0) AS kmax FROM r
           WHERE p8 * 20 * m <= rank)
         SELECT brand, n, k, z8, CAST(p8 AS DOUBLE) + 0.0 AS p8,
           rank, rank <= kmax AS rejected
         FROM r CROSS JOIN km""",

    // JS replay: identical moments, identical declared grids
    "q370_james_stein" ->
      """WITH g AS (SELECT c_mktsegment AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
               AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(sum(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                 AS HUGEINT)
               * CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS HUGEINT) AS s2
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1 HAVING count(*) >= 2),
         gg AS (SELECT grp, n,
             round(CAST(s1 AS DOUBLE) / n, 2) AS mean2,
             round((CAST(s2 AS DOUBLE) * n
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n AS DOUBLE) * n * (n - 1)), 2) AS vmean2
           FROM g),
         h AS (SELECT CAST(count(*) AS BIGINT) AS k,
             round(avg(mean2), 2) AS mbar2,
             round(avg(vmean2), 2) AS vbar2 FROM gg),
         ws AS (SELECT grp, n, mean2, k, mbar2, vbar2,
             round((mean2 - mbar2) * (mean2 - mbar2), 2) AS dev2
           FROM gg CROSS JOIN h),
         st AS (SELECT CAST(sum(CAST(dev2 AS DECIMAL(38,2))) AS DOUBLE)
             AS ss FROM ws)
         SELECT grp, n, mean2,
           CASE WHEN k <= 3 OR ss = 0 THEN 1.0 ELSE
             round(greatest(0.0, 1.0 - (k - 3) * vbar2 / ss), 8) END
             AS shrink8,
           CASE WHEN k <= 3 OR ss = 0 THEN mean2 ELSE
             round(mbar2 + round(greatest(0.0,
                 1.0 - (k - 3) * vbar2 / ss), 8)
               * (mean2 - mbar2), 2) END AS js_mean2
         FROM ws CROSS JOIN st""",

    // power replay: identical z-sum literal, identical IEEE shapes
    "q368_power_mde" ->
      """WITH g AS (SELECT p_brand AS brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS k
           FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)
         SELECT brand, n, k, k * 1000000 // n AS p_ppm,
           round(CASE WHEN n < 2 THEN NULL ELSE
             2.8015852181129683 * sqrt(2.0 * (CAST(k AS DOUBLE) / n)
               * (1.0 - CAST(k AS DOUBLE) / n) / (n // 2)) END, 8) + 0.0
             AS mde8,
           CAST(ceil(2.8015852181129683 * 2.8015852181129683 * 2.0
               * (CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n)
               / (0.01 * 0.01)) AS BIGINT) AS n_req_per_arm
         FROM g""",

    // DID replay: the q353 bootstrap machinery over four cells
    "q367_did_bootstrap" ->
      s"""WITH rows_in AS (
           SELECT CAST(event_id AS VARCHAR) AS id,
             user_id % 2 = 0 AS t,
             ts >= TIMESTAMP '2024-01-16' AS p,
             CAST(round(value * 100, 0) AS BIGINT) AS v
           FROM events WHERE event_type = 'purchase'),
         u AS (
           SELECT g.b, t, p, v,
             list_reduce(list_transform(
                 string_split(substr(md5(id || '#' || CAST(g.b AS VARCHAR)),
                   1, 13), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (x, y) -> x * 16 + y) % 1000000000000 AS uu
           FROM rows_in, (SELECT unnest(generate_series(0, 47)) AS b) g),
         w AS (
           SELECT b, t, p, v,
             ${graft.numerics.Bootstrap.thresholdsSql("uu")} AS wt
           FROM u),
         reps AS (
           SELECT b,
             sum(CASE WHEN t AND p THEN CAST(wt * v AS HUGEINT)
               ELSE 0 END)
               // nullif(sum(CASE WHEN t AND p THEN wt ELSE 0 END), 0)
             - sum(CASE WHEN t AND NOT p THEN CAST(wt * v AS HUGEINT)
               ELSE 0 END)
               // nullif(sum(CASE WHEN t AND NOT p THEN wt
                 ELSE 0 END), 0)
             - sum(CASE WHEN NOT t AND p THEN CAST(wt * v AS HUGEINT)
               ELSE 0 END)
               // nullif(sum(CASE WHEN NOT t AND p THEN wt
                 ELSE 0 END), 0)
             + sum(CASE WHEN NOT t AND NOT p THEN CAST(wt * v AS HUGEINT)
               ELSE 0 END)
               // nullif(sum(CASE WHEN NOT t AND NOT p THEN wt
                 ELSE 0 END), 0) AS d
           FROM w GROUP BY b),
         ci AS (SELECT CAST(count(*) AS BIGINT) AS n_reps,
             list_sort(list(d)) AS ds
           FROM reps WHERE d IS NOT NULL),
         f AS (SELECT
             sum(CASE WHEN t AND p THEN CAST(v AS HUGEINT) ELSE 0 END)
               // count(CASE WHEN t AND p THEN 1 END)
             - sum(CASE WHEN t AND NOT p THEN CAST(v AS HUGEINT)
               ELSE 0 END)
               // count(CASE WHEN t AND NOT p THEN 1 END)
             - sum(CASE WHEN NOT t AND p THEN CAST(v AS HUGEINT)
               ELSE 0 END)
               // count(CASE WHEN NOT t AND p THEN 1 END)
             + sum(CASE WHEN NOT t AND NOT p THEN CAST(v AS HUGEINT)
               ELSE 0 END)
               // count(CASE WHEN NOT t AND NOT p THEN 1 END) AS did_fp
           FROM rows_in)
         SELECT n_reps, CAST(did_fp AS BIGINT) AS did_fp,
           CAST(ds[2] AS BIGINT) AS lo_fp, CAST(ds[47] AS BIGINT) AS hi_fp
         FROM ci CROSS JOIN f WHERE n_reps = 48""",

    // conformal replay: identical daily aggregate, lag-7 self-join,
    // order-statistic k and exact coverage ratio
    "q366_conformal" ->
      """WITH daily AS (SELECT o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
           FROM orders
           WHERE o_orderdate BETWEEN DATE '1995-02-20'
             AND DATE '1995-04-30'
           GROUP BY 1),
         j AS (SELECT d.day, d.rev, l.rev AS pred
           FROM daily d JOIN daily l ON d.day = l.day + INTERVAL 7 DAY
           WHERE d.day BETWEEN DATE '1995-03-01' AND DATE '1995-04-30'),
         r AS (SELECT day < DATE '1995-04-01' AS cal,
             abs(rev - pred) AS r FROM j),
         nk AS (SELECT CAST(count(*) AS BIGINT) AS n,
             ((count(*) + 1) * 900 + 999) // 1000 AS k
           FROM r WHERE cal),
         q AS (SELECT min(r) AS q_hat FROM (
             SELECT r, CAST(count(*) OVER (ORDER BY r ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM r WHERE cal) x CROSS JOIN nk WHERE cum >= k)
         SELECT nk.n AS n_calib, q.q_hat,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN r.r <= q.q_hat THEN 1 ELSE 0 END)
             AS BIGINT) AS covered,
           CASE WHEN count(*) = 0 OR q.q_hat IS NULL THEN NULL
                ELSE CAST(sum(CASE WHEN r.r <= q.q_hat THEN 1 ELSE 0 END)
                  AS BIGINT) * 1000000 // count(*) END AS coverage_ppm
         FROM r CROSS JOIN q CROSS JOIN nk WHERE NOT r.cal
         GROUP BY 1, 2""",

    // log-rank replay: identical per-(group, time) aggregate, grid
    // reinstatement, at-risk prefixes, and 1e12-grid O-E/variance terms
    "q365_log_rank" ->
      """WITH pc AS (SELECT o_custkey, min(o_orderdate) AS f,
             max(o_orderdate) AS l FROM orders GROUP BY 1),
         mx AS (SELECT max(o_orderdate) AS m FROM orders),
         subj AS (SELECT c.c_mktsegment = 'BUILDING' AS a,
             CAST(date_diff('day', CAST(f AS DATE), CAST(l AS DATE))
               AS BIGINT) AS t,
             CASE WHEN l < m - INTERVAL 90 DAY THEN 1 ELSE 0 END AS ev
           FROM pc JOIN customer c ON c.c_custkey = pc.o_custkey
           CROSS JOIN mx),
         agg AS (SELECT a, t, CAST(sum(ev) AS BIGINT) AS d,
             CAST(sum(1 - ev) AS BIGINT) AS c FROM subj GROUP BY 1, 2),
         filled AS (SELECT g.a, ti.t, coalesce(x.d, 0) AS d,
             coalesce(x.c, 0) AS c
           FROM (SELECT DISTINCT t FROM agg) ti
           CROSS JOIN (SELECT DISTINCT a FROM agg) g
           LEFT JOIN agg x ON x.a = g.a AND x.t = ti.t),
         tots AS (SELECT a, sum(d + c) AS tot FROM agg GROUP BY 1),
         ar AS (SELECT f.a, f.t, f.d,
             tots.tot - coalesce(sum(f.d + f.c) OVER (PARTITION BY f.a
               ORDER BY f.t ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS n
           FROM filled f JOIN tots USING (a)),
         wide AS (SELECT t,
             sum(CASE WHEN a THEN d ELSE 0 END) AS da,
             sum(CASE WHEN a THEN 0 ELSE d END) AS db,
             sum(CASE WHEN a THEN n ELSE 0 END) AS na,
             sum(CASE WHEN a THEN 0 ELSE n END) AS nb
           FROM ar GROUP BY 1),
         ev2 AS (SELECT * FROM wide WHERE da + db > 0),
         s AS (SELECT CAST(sum(da) AS BIGINT) AS o_a,
             CAST(sum(CAST(da + db AS HUGEINT) * na * 1000000000000
               // (na + nb)) AS BIGINT) AS e_a_e12,
             CAST(sum(CASE WHEN na + nb > 1 THEN
                 CAST(da + db AS HUGEINT) * na * nb
                   * (na + nb - da - db) * 1000000000000
                 // (CAST(na + nb AS HUGEINT) * (na + nb)
                      * (na + nb - 1))
               ELSE 0 END) AS BIGINT) AS var_e12
           FROM ev2)
         SELECT o_a, e_a_e12, var_e12,
           CASE WHEN var_e12 = 0 THEN NULL ELSE
             round((CAST(o_a AS DOUBLE) - CAST(e_a_e12 AS DOUBLE) / 1e12)
                   * (CAST(o_a AS DOUBLE)
                      - CAST(e_a_e12 AS DOUBLE) / 1e12)
                   / (CAST(var_e12 AS DOUBLE) / 1e12), 6) END AS chi2
         FROM s""",

    // KM replay: same per-duration aggregate, same 1e12 fixed-point
    // recursions via HUGEINT `//` in a recursive CTE (the q276 Holt
    // convention — truncating integer division shared by both engines)
    "q332_kaplan_meier" ->
      """WITH RECURSIVE pc AS (
           SELECT o_custkey, min(o_orderdate) AS f, max(o_orderdate) AS l
           FROM orders GROUP BY 1),
         mx AS (SELECT max(o_orderdate) AS m FROM orders),
         subj AS (SELECT
             date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS dur,
             CASE WHEN l < m - INTERVAL 90 DAY THEN 1 ELSE 0 END AS ev
           FROM pc CROSS JOIN mx),
         agg AS (SELECT CAST(dur AS BIGINT) AS t,
             CAST(sum(ev) AS BIGINT) AS d,
             CAST(sum(1 - ev) AS BIGINT) AS c
           FROM subj GROUP BY 1),
         tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS nn FROM agg),
         ord AS (SELECT t, d, c,
             CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn,
             nn - CAST(COALESCE(sum(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
           FROM agg CROSS JOIN tot),
         r AS (
           SELECT t, rn, n_risk, d, c,
             1000000000000::HUGEINT * (n_risk - d) // n_risk AS s,
             d::HUGEINT * 1000000000000 // n_risk AS h
           FROM ord WHERE rn = 1
           UNION ALL
           SELECT o.t, o.rn, o.n_risk, o.d, o.c,
             r.s * (o.n_risk - o.d) // o.n_risk,
             r.h + o.d::HUGEINT * 1000000000000 // o.n_risk
           FROM r JOIN ord o ON o.rn = r.rn + 1)
         SELECT t AS duration, n_risk, d AS d_events, c AS c_censored,
           CAST(s AS BIGINT) AS survival_e, CAST(h AS BIGINT) AS hazard_cum_e
         FROM r""",

    // Poisson bootstrap replay: identical md5(id#b) 13-hex uniform mod
    // 1e12, identical inverse-CDF integer thresholds, HUGEINT-exact
    // replicate means, order-stat CI from the sorted 48-list
    "q333_poisson_bootstrap" ->
      s"""WITH rows_in AS (
           SELECT CAST(l_orderkey AS VARCHAR) || '#' ||
               CAST(l_linenumber AS VARCHAR) || '#' ||
               CAST(l_partkey AS VARCHAR) || '#' ||
               CAST(l_suppkey AS VARCHAR) AS id,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v
           FROM lineitem),
         u AS (
           SELECT g.b, v,
             list_reduce(list_transform(
                 string_split(substr(md5(id || '#' || CAST(g.b AS VARCHAR)),
                   1, 13), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 1000000000000 AS uu
           FROM rows_in, (SELECT unnest(generate_series(0, 47)) AS b) g),
         w AS (
           SELECT b, v,
             ${graft.numerics.Bootstrap.thresholdsSql("uu")} AS wt
           FROM u),
         reps AS (
           SELECT b, sum(CAST(wt * v AS HUGEINT)) // nullif(sum(wt), 0) AS m
           FROM w GROUP BY b),
         ci AS (SELECT CAST(count(*) AS BIGINT) AS n_reps,
             list_sort(list(m)) AS ms FROM reps),
         f AS (SELECT sum(CAST(v AS HUGEINT)) // count(*) AS mean_fp
           FROM rows_in)
         SELECT n_reps, CAST(mean_fp AS BIGINT) AS mean_fp,
           CAST(ms[2] AS BIGINT) AS lo_fp, CAST(ms[47] AS BIGINT) AS hi_fp
         FROM ci CROSS JOIN f""",

    // A/B bootstrap replay: q333's uniform + thresholds, per-arm
    // weighted means, HUGEINT-exact, order-stat CI on the diffs
    "q353_ab_bootstrap" ->
      s"""WITH rows_in AS (
           SELECT CAST(l_orderkey AS VARCHAR) || '#' ||
               CAST(l_linenumber AS VARCHAR) || '#' ||
               CAST(l_partkey AS VARCHAR) || '#' ||
               CAST(l_suppkey AS VARCHAR) AS id,
             l_discount >= 0.05 AS a,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v
           FROM lineitem),
         u AS (
           SELECT g.b, a, v,
             list_reduce(list_transform(
                 string_split(substr(md5(id || '#' || CAST(g.b AS VARCHAR)),
                   1, 13), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (x, y) -> x * 16 + y) % 1000000000000 AS uu
           FROM rows_in, (SELECT unnest(generate_series(0, 47)) AS b) g),
         w AS (
           SELECT b, a, v,
             ${graft.numerics.Bootstrap.thresholdsSql("uu")} AS wt
           FROM u),
         reps AS (
           SELECT b,
             sum(CASE WHEN a THEN CAST(wt * v AS HUGEINT) ELSE 0 END)
               // nullif(sum(CASE WHEN a THEN wt ELSE 0 END), 0)
             - sum(CASE WHEN a THEN 0 ELSE CAST(wt * v AS HUGEINT) END)
               // nullif(sum(CASE WHEN a THEN 0 ELSE wt END), 0) AS d
           FROM w GROUP BY b),
         ci AS (SELECT CAST(count(*) AS BIGINT) AS n_reps,
             list_sort(list(d)) AS ds FROM reps),
         f AS (SELECT
             sum(CASE WHEN a THEN CAST(v AS HUGEINT) ELSE 0 END)
               // count(CASE WHEN a THEN 1 END)
             - sum(CASE WHEN a THEN 0 ELSE CAST(v AS HUGEINT) END)
               // count(CASE WHEN NOT a THEN 1 END) AS diff_fp
           FROM rows_in)
         SELECT n_reps, CAST(diff_fp AS BIGINT) AS diff_fp,
           CAST(ds[2] AS BIGINT) AS lo_fp, CAST(ds[47] AS BIGINT) AS hi_fp
         FROM ci CROSS JOIN f""",

    // Wilson replay: identical z literal, identical IEEE expression
    // shape, 8-dp round + signed-zero normalize; p_hat exact ppm
    "q334_wilson_interval" ->
      """WITH g AS (SELECT p_brand AS brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS k
           FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)
         SELECT brand, n, k, k * 1000000 // n AS p_ppm,
           round(((CAST(k AS DOUBLE) / n
               + 1.959963984540054 * 1.959963984540054 / (2.0 * n))
             - 1.959963984540054 * sqrt((CAST(k AS DOUBLE) / n)
                 * (1.0 - CAST(k AS DOUBLE) / n) / n
                 + 1.959963984540054 * 1.959963984540054 / (4.0 * n * n)))
            / (1.0 + 1.959963984540054 * 1.959963984540054 / n), 8) + 0.0
             AS wilson_lo8,
           round(((CAST(k AS DOUBLE) / n
               + 1.959963984540054 * 1.959963984540054 / (2.0 * n))
             + 1.959963984540054 * sqrt((CAST(k AS DOUBLE) / n)
                 * (1.0 - CAST(k AS DOUBLE) / n) / n
                 + 1.959963984540054 * 1.959963984540054 / (4.0 * n * n)))
            / (1.0 + 1.959963984540054 * 1.959963984540054 / n), 8) + 0.0
             AS wilson_hi8
         FROM g"""
  )
}
