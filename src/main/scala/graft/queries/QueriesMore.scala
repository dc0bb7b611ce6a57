package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.model.{Positions, XDataset}
import graft.model.XDataset.exactSum
import graft.GraftSession.scratch
import graft.io.{CFDecode, Tables}
import graft.align.AsOf
import graft.agg.Groupers
import graft.window.Pad

/** Remaining SURVEY.md §2 operator coverage: tail/drop_sel, pad/roll,
  * rolling-construct, upsampling, first/last, prod/all/any, positional
  * argmax, pct rank, ufunc battery, CF decode, cross product, set ops,
  * eval, multi-file open. */
object QueriesMore extends QueryFamily {

  /** q356's oracle: 8 synchronized 3-core peel rounds unrolled as CTE
    * stages (standard SQL forbids aggregates in a recursive term, so
    * the bounded unroll IS the portable replay; rounds past the
    * fixpoint are identity). */
  private def kcoreOracleSql: String = {
    // MATERIALIZED: each round references the previous edge frame
    // several times — inlined CTEs would re-evaluate the whole prefix
    // exponentially across 8 rounds (observed as an fd explosion)
    val rounds = (0 until 8).map { r =>
      s"""d$r AS MATERIALIZED (SELECT n FROM (SELECT u AS n FROM e$r
              UNION ALL SELECT v FROM e$r) GROUP BY 1
            HAVING count(*) < 3),
         e${r + 1} AS MATERIALIZED (SELECT u, v FROM e$r
            WHERE u NOT IN (SELECT n FROM d$r)
              AND v NOT IN (SELECT n FROM d$r))"""
    }.mkString(",\n")
    s"""WITH bi AS MATERIALIZED (SELECT DISTINCT l_orderkey AS b,
            l_partkey AS i
          FROM lineitem WHERE l_orderkey % 10 = 0),
        e0 AS MATERIALIZED (SELECT DISTINCT a.i AS u, b2.i AS v
          FROM bi a JOIN bi b2 ON a.b = b2.b AND a.i < b2.i),
        $rounds
        SELECT n AS node, CAST(count(*) AS BIGINT) AS core_degree
        FROM (SELECT u AS n FROM e8 UNION ALL SELECT v FROM e8)
        GROUP BY 1"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // tail per dim (ref `dataset.py:3213`) — TakeOrdered on the reversed key
    "q65_tail" -> ((s, dir) => {
      XDataset(Tables.orders(s, dir), Seq("o_orderkey"))
        .tailDim("o_orderkey", 50)
        .df.select("o_orderkey", "o_totalprice")
    }),

    // drop_sel: anti-selection by label (ref `dataset.py:6113`)
    "q66_drop_sel" -> ((s, dir) => {
      XDataset(Tables.customer(s, dir), Seq("c_custkey"))
        .dropSel("c_mktsegment", Seq("BUILDING", "MACHINERY"))
        .df.groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    }),

    // pad: constant/edge/reflect/symmetric/wrap modes (ref `dataset.py:9054`)
    "q67_pad" -> ((s, dir) => {
      val base = Positions.zipWithIndex(
        Tables.supplier(s, dir).select("s_suppkey", "s_acctbal"),
        Seq(col("s_suppkey")), "pos")
      val n = base.count()
      Pad.pad(base.select("pos", "s_acctbal"), "pos", "s_acctbal", n,
        before = 2, after = 2, constant = 0.0)
        .select("pos", "s_acctbal_constant", "s_acctbal_edge",
          "s_acctbal_reflect", "s_acctbal_symmetric", "s_acctbal_wrap")
    }),

    // pad stat/ramp modes (ref `dataset.py:9054`; numpy maximum/minimum/
    // mean/median/linear_ramp) — completes the structural modes of q67
    "q106_pad_stat" -> ((s, dir) => {
      val base = Positions.zipWithIndex(
        Tables.supplier(s, dir).select("s_suppkey", "s_acctbal"),
        Seq(col("s_suppkey")), "pos")
      val n = base.count()
      Pad.padStat(base.select("pos", "s_acctbal"), "pos", "s_acctbal", n,
        before = 3, after = 3)
    }),

    // roll: circular shift (ref `dataset.py:8038`)
    "q68_roll" -> ((s, dir) => {
      val base = Positions.zipWithIndex(
        Tables.supplier(s, dir).select("s_suppkey", "s_acctbal"),
        Seq(col("s_suppkey")), "pos")
      Pad.roll(base, "pos", "s_acctbal", base.count(), shift = 3)
        .select("pos", "s_suppkey", "s_acctbal_rolled")
    }),

    // rolling.construct: materialize the window as an array (ref
    // `rolling.py:327`); compared via joined string form
    "q69_rolling_construct" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, 0)
      Tables.orders(s, dir)
        .withColumn("win_keys",
          array_join(collect_list(col("o_orderkey")).over(w), ","))
        .select("o_orderkey", "o_custkey", "win_keys")
    }),

    // rolling(...).reduce(custom fn): a 3-window root-mean-square via the
    // generic construct-and-fold contract (ref `rolling.py` Rolling.reduce
    // — arbitrary functions, not just the named aggregations). The fold
    // accumulates in DECIMAL (order-independent, engine-exact) and the
    // float tail (decimal->double cast, division, sqrt) rounds to 2 dp:
    // cross-engine decimal->double casts differ by an ulp (~6e-11 here),
    // so the rounding step must dwarf it (at 6 dp one row in 150k flipped
    // a boundary; at 2 dp the odds are ~1e-8 per row).
    "q160_rolling_reduce" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, 0)
      Tables.orders(s, dir)
        .withColumn("rms", graft.window.Windows.rollingReduce(
          col("o_totalprice"), w, lit(0).cast(DecimalType(30, 4)),
          (acc, x) => (acc + (x * x).cast(DecimalType(30, 4)))
            .cast(DecimalType(30, 4)),
          (acc, arr) => round(sqrt(acc.cast("double") / size(arr)), 2)))
        .select("o_orderkey", "o_custkey", "rms")
    }),

    // rolling.construct stride= + fill_value= (ref `rolling.py:327`):
    // every 2nd window per customer, leading partials left-padded to the
    // full 3 slots with -1
    "q69b_construct_stride" -> ((s, dir) => {
      val out = graft.window.Windows.rollingConstruct(
        Tables.orders(s, dir),
        Seq(col("o_custkey")), Seq(col("o_orderdate"), col("o_orderkey")),
        col("o_orderkey"), window = 3, stride = 2, fillValue = lit(-1L))
      out.select(col("o_orderkey"), col("o_custkey"),
        array_join(col("window_arr").cast("array<string>"), ",").as("win_keys"))
    }),

    // cumulative max/min/count (ref `dataset.py:10452` cumulative)
    "q70_cummax" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.orders(s, dir)
        .withColumn("cummax_price", max(col("o_totalprice")).over(w))
        .withColumn("cummin_price", min(col("o_totalprice")).over(w))
        .withColumn("cumn", count(lit(1)).over(w))
        .select("o_orderkey", "o_custkey", "cummax_price", "cummin_price", "cumn")
    }),

    // resample upsample: monthly -> daily asfreq + ffill (ref
    // `core/resample.py:56` pad/ffill path)
    "q71_upsample_ffill" -> ((s, dir) => {
      val monthly = Tables.orders(s, dir)
        .groupBy(date_trunc("MONTH", col("o_orderdate")).as("m"))
        .agg(exactSum(col("o_totalprice")).as("rev"))
      val days = Groupers.timeBuckets(s, "1995-01-01 00:00:00",
        "1995-06-30 00:00:00", "1 day", "day")
      AsOf.backward(days, monthly.select(col("m").as("day"), col("rev")),
        by = Nil, key = "day", rightVals = Seq("rev"))
        .select("day", "rev")
    }),

    // resample-up with BACKFILL (ref `resample.py` Resample.bfill): each
    // day takes the NEXT month's aggregate — the forward as-of join,
    // mirroring q71's ffill
    "q212_upsample_bfill" -> ((s, dir) => {
      val monthly = Tables.orders(s, dir)
        .groupBy(date_trunc("MONTH", col("o_orderdate")).as("m"))
        .agg(exactSum(col("o_totalprice")).as("rev"))
      val days = Groupers.timeBuckets(s, "1995-01-01 00:00:00",
        "1995-06-30 00:00:00", "1 day", "day")
      AsOf.forward(days, monthly.select(col("m").as("day"), col("rev")),
        by = Nil, key = "day", rightVals = Seq("rev"))
        .select("day", "rev")
    }),

    // resample-up NEAREST (the last upsample method: asfreq/ffill/bfill/
    // nearest/interpolate): each day takes the closer of the previous and
    // next month-start aggregates; an exact midpoint resolves BACKWARD —
    // the documented rule both engines replay
    "q216_upsample_nearest" -> ((s, dir) => {
      val monthly = Tables.orders(s, dir)
        .groupBy(date_trunc("MONTH", col("o_orderdate")).as("m"))
        .agg(exactSum(col("o_totalprice")).as("rev"))
      val days = Groupers.timeBuckets(s, "1995-01-01 00:00:00",
        "1995-06-30 00:00:00", "1 day", "day")
      val prev = AsOf.backward(days,
        monthly.select(col("m").as("day"), col("m").as("pk"),
          col("rev").as("prev_rev")),
        by = Nil, key = "day", rightVals = Seq("pk", "prev_rev"))
      val nxt = AsOf.forward(days,
        monthly.select(col("m").as("day"), col("m").as("nk"),
          col("rev").as("next_rev")),
        by = Nil, key = "day", rightVals = Seq("nk", "next_rev"))
      prev.join(nxt, "day")
        .withColumn("rev", when(col("nk").isNull ||
          (unix_micros(col("day")) - unix_micros(col("pk"))) <=
            (unix_micros(col("nk")) - unix_micros(col("day"))),
          col("prev_rev")).otherwise(col("next_rev")))
        .select("day", "rev")
    }),

    // resample-up INTERPOLATE (ref `resample.py` Resample.interpolate —
    // the last upsample method after asfreq/ffill/bfill/nearest): each
    // day linearly interpolates between its bracketing month-start
    // aggregates; outside the knot range there is NO extrapolation (NULL),
    // matching interp_1d's NaN-outside contract (q159 covers extrapolate)
    "q251_upsample_interpolate" -> ((s, dir) => {
      val monthly = Tables.orders(s, dir)
        .groupBy(date_trunc("MONTH", col("o_orderdate")).as("m"))
        .agg(exactSum(col("o_totalprice")).as("rev"))
      val days = Groupers.timeBuckets(s, "1995-01-01 00:00:00",
        "1995-06-30 00:00:00", "1 day", "day")
      val prev = AsOf.backward(days,
        monthly.select(col("m").as("day"), col("m").as("pk"),
          col("rev").as("prev_rev")),
        by = Nil, key = "day", rightVals = Seq("pk", "prev_rev"))
      val nxt = AsOf.forward(days,
        monthly.select(col("m").as("day"), col("m").as("nk"),
          col("rev").as("next_rev")),
        by = Nil, key = "day", rightVals = Seq("nk", "next_rev"))
      prev.join(nxt, "day")
        .withColumn("rev",
          when(col("pk").isNull || col("nk").isNull,
            lit(null).cast("double"))
          .when(col("pk") === col("nk"), col("prev_rev"))
          .otherwise(col("prev_rev") +
            (col("next_rev") - col("prev_rev")) *
            ((unix_micros(col("day")) - unix_micros(col("pk")))
              .cast("double") /
             (unix_micros(col("nk")) - unix_micros(col("pk")))
              .cast("double"))))
        .select("day", "rev")
    }),

    // groupby first/last with deterministic order (ref `groupby.py:1498`)
    "q72_first_last" -> ((s, dir) => {
      Tables.orders(s, dir).groupBy("o_custkey").agg(
        min_by(col("o_totalprice"), struct(col("o_orderdate"), col("o_orderkey")))
          .as("first_price"),
        max_by(col("o_totalprice"), struct(col("o_orderdate"), col("o_orderkey")))
          .as("last_price"))
    }),

    // prod / all / any reductions (ref `_aggregations.py`). prod runs as
    // exp of a DECIMAL-accumulated sum of logs: the ln values of the 11
    // distinct discount levels are bit-identical across JVM/DuckDB libm,
    // and decimal summation is order-independent, so the product is
    // reproducible under any shuffle (and across engines).
    "q73_prod_all_any" -> ((s, dir) => {
      val lg = log(lit(1.0) - col("l_discount")).cast(DecimalType(30, 12))
      Tables.lineitem(s, dir).groupBy("l_orderkey").agg(
        round(exp(sum(lg).cast("double")), 8).as("prod_keep"),
        bool_and(col("l_quantity") > 0).as("all_pos"),
        bool_or(col("l_discount") === 0.0).as("any_nodisc"))
    }),

    // positional argmin/argmax (ref `dataset.py:9447` returns positions)
    "q74_argmax_pos" -> ((s, dir) => {
      val pos = Positions.zipWithIndex(
        Tables.supplier(s, dir).select("s_suppkey", "s_nationkey", "s_acctbal"),
        Seq(col("s_suppkey")), "pos")
      pos.groupBy("s_nationkey").agg(
        min_by(col("pos"), struct(col("s_acctbal") * -1, col("pos"))).as("argmax"),
        min_by(col("pos"), struct(col("s_acctbal"), col("pos"))).as("argmin"))
    }),

    // rank(pct=True) (ref `dataset.py:8416` pct param) — distributed form
    "q75_rank_pct" -> ((s, dir) => {
      graft.agg.Rank.avgRank(Tables.supplier(s, dir), "s_acctbal",
        "rank_pct", pct = true)
        .select("s_suppkey", "rank_pct")
    }),

    // ufunc battery (ref `xarray/ufuncs.py`; ~1 ulp libm differences
    // absorbed by round(.,8) on both sides)
    "q76_ufunc_battery" -> ((s, dir) => {
      val d = col("l_discount"); val q = col("l_quantity")
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        round(sin(d), 8).as("sin_d"),
        round(cos(d), 8).as("cos_d"),
        round(tan(d), 8).as("tan_d"),
        round(atan(d), 8).as("atan_d"),
        round(exp(d), 8).as("exp_d"),
        round(log1p(d), 8).as("log1p_d"),
        round(expm1(d), 8).as("expm1_d"),
        sqrt(q).as("sqrt_q"),
        round(cbrt(q), 8).as("cbrt_q"),
        round(pow(q, 1.5), 6).as("pow_q"),
        round(sqrt(d * d + q * q), 8).as("hypot_dq"),
        signum(d - 0.05).as("sign_d"),
        floor(q / 7).cast("double").as("floor_q"),
        ceil(q / 7).cast("double").as("ceil_q"),
        round((exp(d) - exp(-d)) / 2, 8).as("sinh_d"),
        round(log(q + 1), 8).as("log_q1"))
    }),

    // CF decode pipeline: mask + scale/offset + time units (ref
    // `conventions.py:109`; coders in `coding/variables.py`, `coding/times.py`)
    "q77_cf_decode" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        // synthesize an encoded int variable: quantity at scale 0.5,
        // fill=-999 where returnflag='N'; and days-since-epoch shipdate
        .withColumn("enc_qty",
          when(col("l_returnflag") === "N", lit(-999))
            .otherwise(CFDecode.scaleOffsetEncode(col("l_quantity"), 0.5, 0.0)
              .cast("int")))
        .withColumn("enc_days",
          CFDecode.timeEncodeDays(col("l_shipdate"), "1995-01-01 00:00:00"))
      li.select(
        col("l_orderkey"), col("l_linenumber"),
        CFDecode.decode(col("enc_qty"), -999, 0.5, 0.0).as("dec_qty"),
        CFDecode.timeDecodeDays(col("enc_days"), "1995-01-01 00:00:00")
          .as("dec_ship"))
    }),

    // cross product along a 3-vector dim (ref `computation.py:316`)
    "q78_cross" -> ((s, dir) => {
      val e = col("embedding")
      def el(i: Int) = element_at(e, i).cast("double")
      Tables.embeddings(s, dir).select(
        col("vec_id"),
        round(el(2) * el(6) - el(3) * el(5), 8).as("cx"),
        round(el(3) * el(4) - el(1) * el(6), 8).as("cy"),
        round(el(1) * el(5) - el(2) * el(4), 8).as("cz"))
    }),

    // cumulative_integrate: running trapezoid (ref `dataset.py:8662`)
    "q79_cumulative_integrate" -> ((s, dir) => {
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val cum = ord.rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, dir)
        .withColumn("t_sec", unix_micros(col("ts")).cast("double") / 1e6)
        .withColumn("term",
          graft.numerics.Numerics.trapezoid(col("value"), col("t_sec"), ord))
        .withColumn("cum_auc",
          sum(col("term").cast(DecimalType(38, 4))).over(cum).cast("double"))
        .select("event_id", "user_id", "cum_auc")
    }),

    // set-ops extension over label sets (SURVEY.md §2.7: free extension)
    "q80_intersect_except" -> ((s, dir) => {
      def custIn(year: Int) = Tables.orders(s, dir)
        .filter(org.apache.spark.sql.functions.year(col("o_orderdate")) === year)
        .select("o_custkey").distinct()
      custIn(1995).intersect(custIn(1996)).except(custIn(1997))
    }),

    // eval/assign string front-end (ref `dataset.py:9671` -> selectExpr)
    "q81_eval_assign" -> ((s, dir) => {
      Tables.lineitem(s, dir).selectExpr(
        "l_orderkey", "l_linenumber",
        "l_extendedprice * (1 - l_discount) AS disc_price",
        "l_quantity > 25 AND l_discount < 0.05 AS flag")
    }),

    // interp(method="nearest") (ref `dataset.py:3810` methods list)
    "q83_interp_nearest" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val users = series.select("user_id").distinct()
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      graft.numerics.Numerics.interpNearest(series, users.crossJoin(grid),
        by = Seq("user_id"), t = "ts", v = "value")
        .select("user_id", "ts", "v_nearest")
    }),

    // polyfit degree 2: closed-form normal equations over exact moments
    // (ref `computation/fit.py:101`, general Vandermonde path)
    "q84_polyfit2" -> ((s, dir) => {
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(graft.numerics.Numerics.fit2(
          col("l_quantity"), col("l_extendedprice")).as("fit"))
        .select(col("l_returnflag"),
          round(col("fit.c0"), 4).as("c0"),
          round(col("fit.c1"), 4).as("c1"),
          round(col("fit.c2"), 6).as("c2"))
    }),

    // weighted quantile (ref `computation/weighted.py:319`) — custom
    // aggregator; no SQL oracle (non-monotone plotting positions), pinned
    // by PadCfSpec unit tests
    "q85_weighted_quantile" -> ((s, dir) => {
      import graft.exprs.WeightedQuantile
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
        WeightedQuantile(col("l_extendedprice"), col("l_quantity"), 0.5)
          .as("wq50"))
    }),

    // drop_duplicates along dim, keep=first (ref `dataset.py:9967`)
    "q86_drop_duplicates" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_mktsegment"), col("c_nationkey"))
        .orderBy(col("c_custkey"))
      Tables.customer(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("c_mktsegment", "c_nationkey", "c_custkey")
    }),

    // update: in-place merge, left (new) priority (ref `dataset.py:5700`)
    "q87_update" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_acctbal").as("bal"))
      val updates = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(col("o_totalprice")).as("bal_new"))
      base.join(updates, Seq("custkey"), "left")
        .select(col("custkey"), coalesce(col("bal_new"), col("bal")).as("bal"))
    }),

    // 2-D rolling mean over a (user-bucket x day) grid — the ND-specific
    // window case, via offset contributions + one hash agg (no nested
    // window functions; ref `rolling.py` multi-dim rolling)
    "q88_rolling_2d" -> ((s, dir) => {
      import graft.window.Windows
      import graft.model.XDataset.exactSum
      val grid = Tables.events(s, dir)
        .groupBy((col("user_id") % 12).as("i"),
          dayofmonth(col("ts")).as("j"))
        .agg(exactSum(col("value"), scale = 6).as("v"))
      val contrib = Windows.rolling2dContrib(grid, "i", "j", 1, 1)
      val cells = grid.select(col("i").as("__ci"), col("j").as("__cj")).distinct()
      contrib.join(cells, Seq("__ci", "__cj"))
        .groupBy(col("__ci").as("i"), col("__cj").as("j"))
        .agg(count(lit(1)).as("n_window"),
          (exactSum(col("v"), scale = 6) / count(lit(1))).as("win_mean"))
    }),

    // interp(method="cubic"): natural spline per series (ref
    // `dataset.py:3810`; scipy-class method -> per-group solve). Oracle
    // replays the Thomas algorithm via recursive CTEs, bit-exact.
    "q89_spline_cubic" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("t"), col("value"))
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      val probes = series.select("user_id").distinct()
        .crossJoin(grid.select(unix_micros(col("ts")).as("t")))
      graft.numerics.Spline.interpCubic(series, probes,
        by = Seq("user_id"), t = "t", v = "value")
    }),

    // interp(method="pchip"): monotone cubic Hermite, declarative
    // (window slopes + as-of join; see Numerics.interpPchip)
    "q93_interp_pchip" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("t"), col("value"))
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      val probes = series.select("user_id").distinct()
        .crossJoin(grid.select(unix_micros(col("ts")).as("t")))
      graft.numerics.Numerics.interpPchip(series, probes,
        by = Seq("user_id"), t = "t", v = "value")
    }),

    // interp(method="akima"): 4-secant local slopes with virtual
    // boundary secants (see Numerics.interpAkima)
    "q96_interp_akima" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("t"), col("value"))
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      val probes = series.select("user_id").distinct()
        .crossJoin(grid.select(unix_micros(col("ts")).as("t")))
      graft.numerics.Numerics.interpAkima(series, probes,
        by = Seq("user_id"), t = "t", v = "value")
    }),

    // interp(method="makima"): modified-Akima weights (no epsilon)
    "q107_interp_makima" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("t"), col("value"))
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
             timestamp'2024-01-25 00:00:00', interval 1 day)) AS ts""")
      val probes = series.select("user_id").distinct()
        .crossJoin(grid.select(unix_micros(col("ts")).as("t")))
      graft.numerics.Numerics.interpMakima(series, probes,
        by = Seq("user_id"), t = "t", v = "value")
    }),

    // curvefit (ref `fit.py:311`): per-group nonlinear least squares via
    // Levenberg-Marquardt. Oracle-able fixture: y = a_g * exp(b_g * x) is
    // built noiselessly from lineitem quantities with per-flag params, so
    // LM must recover (a, b) to machine precision, and DuckDB recovers the
    // SAME params analytically via log-linear regression — both sides
    // round to 4 dp (repo float policy).
    "q90_curvefit" -> ((s, dir) => {
      val g = when(col("l_returnflag") === "A", 0.0)
        .when(col("l_returnflag") === "N", 1.0).otherwise(2.0)
      val df = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), (col("l_quantity") / 10.0).as("x"), g.as("g"))
        .withColumn("y", (lit(100.0) + col("g") * 25.0) *
          exp((lit(0.2) + col("g") * 0.1) * col("x")))
      graft.numerics.Curvefit.fit(df, Seq("l_returnflag"), "x", "y",
        (p, x) => p(0) * math.exp(p(1) * x),
        p0 = Array(50.0, 0.5), maxIter = 50)
        .select(col("l_returnflag"),
          round(col("p0"), 4).as("a_fit"), round(col("p1"), 4).as("b_fit"))
    }),

    // to_zarr-style chunked store roundtrip (ref `dataset.py:2204`,
    // `backends/zarr.py:655`): write partitioned by the chunk key, region-
    // overwrite one chunk (dynamic partition overwrite must leave the rest
    // intact), read back with a chunk predicate (-> partition pruning).
    "q97_store_roundtrip" -> ((s, dir) => {
      val path = scratch(s, "store", dir)
      val src = Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_year")
        // co-partition by the chunk key before writing: one file per chunk
        // dir instead of one per (task x chunk) — at scale, control files
        // per chunk with repartition(N, chunkCols)
        .repartition(col("o_year"))
      graft.io.Store.write(src, path, Seq("o_year"))
      // region write: replace the 1996 chunk with itself; any leak of the
      // old partitionOverwriteMode=static would truncate the other years
      graft.io.Store.writeRegion(src.filter(col("o_year") === 1996),
        path, Seq("o_year"))
      graft.io.Store.open(s, path)
        .filter(col("o_year") >= 1995 && col("o_year") <= 1996)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_year")
    }),

    // netCDF classic -> parquet converter roundtrip (ref
    // `backends/api.py:395` engine dispatch, `backends/scipy_.py`):
    // a CDF-1 file is written with the in-repo writer, decoded
    // distributedly (banded preads, executor-side parse), converted
    // to a parquet store, and read back in long format. The fixture grid
    // is closed-form, so the oracle regenerates it from generate_series.
    // REAL zarr v2 store roundtrip (ref `backends/zarr.py:655` ZarrStore,
    // `dataset.py:2204` to_zarr): the grid is written as an actual zarr v2
    // array — .zarray/.zattrs JSON, C-order little-endian chunks, zlib,
    // edge chunks on both dims — by the distributed writer (one shuffle by
    // chunk id, one file per chunk), one chunk is region-overwritten
    // (to_zarr(region=...)), and read back by the distributed reader
    // (chunks decoded in the executors). Closed-form grid, so the oracle
    // regenerates it from generate_series, independent of the format code.
    // open_datatree over a hierarchical zarr store: root group with a v2
    // child group and a v3 child group (format-transparent per node),
    // per-node reduction collapsed with the node path
    "q153_datatree_zarr" -> ((s, dir) => {
      import graft.model.{DataTree, XDataset}
      import graft.io.Zarr
      import org.apache.spark.sql.types.DecimalType
      val root = scratch(s, "ztree", dir)
      val grid = s.range(0, 24).select(
        (col("id") / 4).cast("long").as("t"),
        (col("id") % 4).cast("long").as("x"))
      val coords = Seq(Array.tabulate(6)(_.toDouble),
        Array.tabulate(4)(_.toDouble))
      Zarr.initStore(s, root)
      Zarr.writeLongDF(grid.withColumn("temp", col("t") * 10.0 + col("x")),
        root + "/obs", "temp", Seq("t", "x"), coords, chunks = Seq(4, 3))
      Zarr.writeLongDF(
        grid.withColumn("temp", col("t") * 10.0 + col("x") + 0.5),
        root + "/fcst", "temp", Seq("t", "x"), coords, chunks = Seq(4, 3),
        zarrFormat = 3)
      DataTree.openZarr(s, root)
        .mapOverDatasets { ds =>
          XDataset(ds.df.agg(count(lit(1)).as("n"),
            sum(col("temp").cast(DecimalType(30, 4))).cast("double")
              .as("sum_temp")), Nil)
        }
        .collapse().select("path", "n", "sum_temp")
    }),

    // zarr v3: same grid and region-overwrite contract as q135 but in the
    // v3 format — zarr.json metadata nodes, "c/i/j" nested chunk keys,
    // bytes+gzip codec chain. Write, region-rewrite one chunk, read back
    // distributed (one task per chunk file).
    "q152_zarr_v3" -> ((s, dir) => {
      import graft.io.Zarr
      val store = scratch(s, "zarr3", dir)
      val grid = s.range(0, 30).select(
        (col("id") / 5).cast("long").as("time"),
        (col("id") % 5).cast("long").as("lat"))
        .withColumn("temp", col("time") * 100.0 + col("lat") * 1.5)
      val coords = Seq(Array.tabulate(6)(_.toDouble),
        Array.tabulate(5)(_.toDouble))
      Zarr.writeLongDF(grid, store, "temp", Seq("time", "lat"), coords,
        chunks = Seq(4, 2), zarrFormat = 3)
      Zarr.writeLongDF(
        grid.filter(col("time") >= 4 && col("lat") < 2),
        store, "temp", Seq("time", "lat"), coords,
        chunks = Seq(4, 2), region = true, zarrFormat = 3)
      Zarr.toLongDF(s, store, "temp").select("time", "lat", "temp")
    }),

    // zarr v3 SHARDED store: shard = 4x3 box of 2x3-gzip inner chunks +
    // binary index + crc32c (sharding_indexed codec). The 100 TB lever:
    // object count drops by the inner-grid factor while reads keep
    // inner-chunk granularity. Write + format-transparent read-back.
    "q205_zarr_sharded" -> ((s, dir) => {
      import graft.io.Zarr
      val store = scratch(s, "zarr3s", dir)
      val grid = s.range(0, 48).select(
        (col("id") / 6).cast("long").as("time"),
        (col("id") % 6).cast("long").as("lat"))
        .withColumn("temp", col("time") * 10.0 + col("lat") * 0.5)
      val coords = Seq(Array.tabulate(8)(_.toDouble),
        Array.tabulate(6)(_.toDouble))
      Zarr.writeLongDF(grid, store, "temp", Seq("time", "lat"), coords,
        chunks = Seq(4, 6), zarrFormat = 3, shardInner = Some(Seq(2, 3)))
      Zarr.toLongDF(s, store, "temp").select("time", "lat", "temp")
    }),

    // zarr v2 with BLOSC — zarr-python's default compressor (numcodecs
    // Blosc cname=lz4, shuffle=1), decoded by the pure-JVM c-blosc frame
    // parser in io/Blosc.scala. DERIVATIONAL: the grid is a real orders
    // aggregation (1995 revenue by quarter x priority), written as a
    // blosc-framed store, read back distributed. The oracle recomputes
    // the aggregate straight from the parquet — independent of the codec.
    "q222_zarr_blosc" -> ((s, dir) => {
      import graft.io.Zarr
      val store = scratch(s, "zarrbl", dir)
      val grid = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(
          (quarter(col("o_orderdate")) - 1).cast("long").as("q"),
          (substring(col("o_orderpriority"), 1, 1).cast("int") - 1)
            .cast("long").as("p"))
        .agg(sum(col("o_totalprice").cast(DecimalType(30, 4)))
          .cast("double").as("rev"))
      Zarr.writeLongDF(grid, store, "rev", Seq("q", "p"),
        Seq(Array.tabulate(4)(_.toDouble), Array.tabulate(5)(_.toDouble)),
        chunks = Seq(2, 3), compressor = Some(("blosc:lz4:1", 5)))
      // a cell no 1995 order hits reads back as the NaN fill — drop it so
      // both engines describe only observed cells
      Zarr.toLongDF(s, store, "rev").filter(!isnan(col("rev")))
        .select("q", "p", "rev")
    }),

    // blosc BITSHUFFLE (shuffle=2 — the common zarr encoding for integer
    // science data, e.g. hdf5plugin/bitshuffle-written stores): same
    // derivational grid discipline, different grid (1996 order counts),
    // zstd inner codec. Exercises the LSB-first bit-transpose decode in
    // io/Blosc.scala end to end through the store machinery.
    "q296_zarr_bitshuffle" -> ((s, dir) => {
      import graft.io.Zarr
      val store = scratch(s, "zarrbs", dir)
      val grid = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1996)
        .groupBy(
          (quarter(col("o_orderdate")) - 1).cast("long").as("q"),
          (substring(col("o_orderpriority"), 1, 1).cast("int") - 1)
            .cast("long").as("p"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      Zarr.writeLongDF(grid, store, "cnt", Seq("q", "p"),
        Seq(Array.tabulate(4)(_.toDouble), Array.tabulate(5)(_.toDouble)),
        chunks = Seq(2, 3), compressor = Some(("blosc:zstd:2", 5)))
      Zarr.toLongDF(s, store, "cnt").filter(!isnan(col("cnt")))
        .select("q", "p", "cnt")
    }),

    "q135_zarr_roundtrip" -> ((s, dir) => {
      import graft.io.Zarr
      val store = scratch(s, "zarr", dir)
      val grid = s.range(0, 30).select(
        (col("id") / 5).cast("long").as("time"),
        (col("id") % 5).cast("long").as("lat"))
        .withColumn("temp", col("time") * 100.0 + col("lat") * 1.5)
      val coords = Seq(Array.tabulate(6)(_.toDouble),
        Array.tabulate(5)(_.toDouble))
      Zarr.writeLongDF(grid, store, "temp", Seq("time", "lat"), coords,
        chunks = Seq(4, 2))
      // region write: chunk (1,0) = time 4-5 x lat 0-1, rewritten in place;
      // a leak into any other chunk would corrupt neighbours
      Zarr.writeLongDF(
        grid.filter(col("time") >= 4 && col("lat") < 2),
        store, "temp", Seq("time", "lat"), coords,
        chunks = Seq(4, 2), region = true)
      Zarr.toLongDF(s, store, "temp").select("time", "lat", "temp")
    }),

    "q115_netcdf_roundtrip" -> ((s, dir) => {
      import graft.io.NetCDF
      val base = scratch(s, "nc", dir)
      new java.io.File(base).mkdirs()
      val dims = Seq(NetCDF.Dim("time", 6), NetCDF.Dim("lat", 5))
      NetCDF.write(base + "/part0.nc", dims, Seq(
        NetCDF.Var("time", Seq(0), NetCDF.NC_INT,
          Array.tabulate(6)(_.toDouble)),
        NetCDF.Var("lat", Seq(1), NetCDF.NC_INT,
          Array.tabulate(5)(_.toDouble)),
        NetCDF.Var("temp", Seq(0, 1), NetCDF.NC_DOUBLE,
          (for (t <- 0 until 6; l <- 0 until 5)
            yield t * 100.0 + l * 1.5).toArray)))
      NetCDF.convert(s, base, "temp", base + "_parquet")
      graft.io.Store.open(s, base + "_parquet")
        .select("time", "lat", "temp")
    }),

    // netCDF-4 / HDF5 engine (ref `backends/netCDF4_.py:680`,
    // `backends/h5netcdf_.py`): write a dimension-scale .nc4 fixture
    // (chunked + deflate, edge chunks, DIMENSION_LIST via the global
    // heap), then the distributed per-chunk read -> parquet convert.
    // The reader walks the real HDF5 structures — superblock, v1 group
    // B-tree, chunk B-tree, filter pipeline — not a replay of the writer.
    "q168_netcdf4_roundtrip" -> ((s, dir) => {
      import graft.io.HDF5
      val base = scratch(s, "nc4", dir)
      new java.io.File(base).mkdirs()
      HDF5.writeNc4(base + "/part0.nc4",
        Seq("time" -> Array.tabulate(6)(_.toDouble),
          "lat" -> Array.tabulate(5)(_ * 0.5)),
        Seq(HDF5.WVar("temp", Seq(0, 1),
          (for (t <- 0 until 6; l <- 0 until 5)
            yield t * 100.0 + l * 1.5).toArray,
          chunk = Some(Seq(4, 2)))))
      HDF5.convert(s, base, "temp", base + "_parquet")
      graft.io.Store.open(s, base + "_parquet")
        .select("time", "lat", "temp")
    }),

    // szip-compressed netCDF-4 (ref `backends/netCDF4_.py:680` — szip is
    // the classic climate-archive encoding): the pure-JVM CCSDS 121 Rice
    // codec in io/Szip.scala, end to end through writer -> distributed
    // convert. DERIVATIONAL: the 4x5 grid is real 1995 order counts by
    // (quarter, priority) — the collect is bounded at the 20-cell grid —
    // and the oracle recomputes them straight from the parquet, so a
    // codec bug (bad split k, broken zero-run, wrong delta unmap) breaks
    // the hash. Counts are < 2^24, exact in the f32 samples szip codes.
    "q231_hdf5_szip" -> ((s, dir) => {
      import graft.io.HDF5
      val base = scratch(s, "h5sz", dir)
      new java.io.File(base).mkdirs()
      val cells = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(
          (quarter(col("o_orderdate")) - 1).cast("int").as("q"),
          (substring(col("o_orderpriority"), 1, 1).cast("int") - 1)
            .cast("int").as("p"))
        .count().collect()
      val grid = new Array[Double](20)
      cells.foreach(r => grid(r.getInt(0) * 5 + r.getInt(1)) =
        r.getLong(2).toDouble)
      HDF5.writeNc4(base + "/part0.nc4",
        Seq("q" -> Array.tabulate(4)(_.toDouble),
          "p" -> Array.tabulate(5)(_.toDouble)),
        Seq(HDF5.WVar("cnt", Seq(0, 1), grid,
          // 3x2 chunks over 4x5: edge chunks exercise szip's padding
          chunk = Some(Seq(3, 2)), f32 = true, szip = true)))
      HDF5.convert(s, base, "cnt", base + "_parquet")
      graft.io.Store.open(s, base + "_parquet").select("q", "p", "cnt")
    }),

    // EXTENSIBLE-ARRAY chunk index (what HDF5 1.10+ writes for a dataset
    // with an unlimited dimension under libver="latest" — the most common
    // real-file shape this reader used to reject): derivational 7x4
    // lineitem-count grid, chunk 2x1 -> 16 chunks spread across the EA
    // index block AND two direct data blocks, deflate-filtered entries
    // with per-chunk stored sizes. The reader walks EAHD -> EAIB -> EADB
    // with every block's lookup3 checksum verified.
    "q295_hdf5_extensible_array" -> ((s, dir) => {
      import graft.io.HDF5
      val base = scratch(s, "h5ea", dir)
      new java.io.File(base).mkdirs()
      val cells = Tables.lineitem(s, dir)
        .groupBy((col("l_linenumber") - 1).cast("int").as("ln"),
          (quarter(col("l_shipdate")) - 1).cast("int").as("q"))
        .count().collect() // bounded at the 28-cell grid
      val grid = new Array[Double](28)
      cells.foreach(r => grid(r.getInt(0) * 4 + r.getInt(1)) =
        r.getLong(2).toDouble)
      HDF5.writeNc4(base + "/part0.nc4",
        Seq("ln" -> Array.tabulate(7)(_.toDouble),
          "q" -> Array.tabulate(4)(_.toDouble)),
        Seq(HDF5.WVar("cnt", Seq(0, 1), grid,
          chunk = Some(Seq(2, 1)), index4 = Some("ea"))))
      HDF5.convert(s, base, "cnt", base + "_parquet")
      graft.io.Store.open(s, base + "_parquet").select("ln", "q", "cnt")
    }),

    // swizzled extensible-array chunk order (the last real-file HDF5
    // read gap): unlimited dim at position 1, so libhdf5 linearizes
    // chunks with the unlimited dim SLOWEST (H5VM_swizzle_coords) —
    // a C-order read of the same file permutes whole chunks and breaks
    // the hash. Same derivational year x quarter orders grid as q354's
    // scale-offset leg, but through the swizzled EA index.
    "q389_hdf5_swizzled_ea" -> ((s, dir) => {
      import graft.io.HDF5
      val base = scratch(s, "h5swz", dir)
      new java.io.File(base).mkdirs()
      val od = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")).between(1995, 2001))
        .groupBy((year(col("o_orderdate")) - 1995).cast("int").as("y"),
          (quarter(col("o_orderdate")) - 1).cast("int").as("q"))
        .count().collect() // bounded at the 28-cell grid
      val grid = new Array[Double](28)
      od.foreach(r => grid(r.getInt(0) * 4 + r.getInt(1)) =
        r.getLong(2).toDouble)
      HDF5.writeNc4(base + "/part0.nc4",
        Seq("y" -> Array.tabulate(7)(_.toDouble),
          "q" -> Array.tabulate(4)(_.toDouble)),
        Seq(HDF5.WVar("cnt", Seq(0, 1), grid,
          chunk = Some(Seq(2, 1)), index4 = Some("ea"),
          unlimDim = Some(1))))
      HDF5.convert(s, base, "cnt", base + "_parquet")
      graft.io.Store.open(s, base + "_parquet").select("y", "q", "cnt")
    }),

    // n-bit + scale-offset filtered netCDF-4 (HDF5 built-in filters 5
    // and 6 — the last real-file read gaps): derivational 7x4
    // (year x quarter) count grids, cnt_nb through nbit (24-bit
    // precision on int64 elements, reduced-precision dtype sign
    // extension) + deflate, cnt_so through scale-offset INT (per-chunk
    // minbits/minval header) + deflate; both read back through
    // openDataset's full-outer dim join, counts recomputed by the
    // oracle straight from the parquet — any packing defect (bit
    // order, span walk, header layout) breaks the hash
    "q354_hdf5_nbit_scaleoffset" -> ((s, dir) => {
      import graft.io.HDF5
      val base = scratch(s, "h5nb", dir)
      new java.io.File(base).mkdirs()
      val li = Tables.lineitem(s, dir)
        .filter(year(col("l_shipdate")).between(1995, 2001))
        .groupBy((year(col("l_shipdate")) - 1995).cast("int").as("y"),
          (quarter(col("l_shipdate")) - 1).cast("int").as("q"))
        .count().collect() // bounded at the 28-cell grid
      val gridNb = new Array[Double](28)
      li.foreach(r => gridNb(r.getInt(0) * 4 + r.getInt(1)) =
        r.getLong(2).toDouble)
      val od = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")).between(1995, 2001))
        .groupBy((year(col("o_orderdate")) - 1995).cast("int").as("y"),
          (quarter(col("o_orderdate")) - 1).cast("int").as("q"))
        .count().collect()
      val gridSo = new Array[Double](28)
      od.foreach(r => gridSo(r.getInt(0) * 4 + r.getInt(1)) =
        r.getLong(2).toDouble)
      HDF5.writeNc4(base + "/part0.nc4",
        Seq("y" -> Array.tabulate(7)(_.toDouble),
          "q" -> Array.tabulate(4)(_.toDouble)),
        Seq(
          // 3x2 chunks over 7x4: edge chunks exercise the packers' pad
          HDF5.WVar("cnt_nb", Seq(0, 1), gridNb,
            chunk = Some(Seq(3, 2)), integral = true, nbitPrec = 24),
          HDF5.WVar("cnt_so", Seq(0, 1), gridSo,
            chunk = Some(Seq(3, 2)), integral = true,
            soScale = Some((2, 0)))))
      HDF5.openDataset(s, base)
        .select(col("y"), col("q"),
          col("cnt_nb").cast("double").as("cnt_nb"),
          col("cnt_so").cast("double").as("cnt_so"))
    }),

    // big-endian n-bit (round 15): the BE byte walk of H5Z__nbit —
    // signed quarterly deviations (count − grid mean) pack negatives
    // through the reduced-precision BE dtype; the oracle recomputes the
    // deviations straight from the parquet, so a wrong walk direction,
    // span extraction, or sign extension breaks the hash
    "q371_hdf5_nbit_bigendian" -> ((s, dir) => {
      import graft.io.HDF5
      val base = scratch(s, "h5benb", dir)
      new java.io.File(base).mkdirs()
      val od = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")).between(1995, 2001))
        .groupBy((year(col("o_orderdate")) - 1995).cast("int").as("y"),
          (quarter(col("o_orderdate")) - 1).cast("int").as("q"))
        .count().collect() // bounded at the 28-cell grid
      val grid = new Array[Double](28)
      od.foreach(r => grid(r.getInt(0) * 4 + r.getInt(1)) =
        r.getLong(2).toDouble)
      val mean = (grid.map(_.toLong).sum / 28).toDouble // exact int div
      val dev = grid.map(_ - mean)
      HDF5.writeNc4(base + "/part0.nc4",
        Seq("y" -> Array.tabulate(7)(_.toDouble),
          "q" -> Array.tabulate(4)(_.toDouble)),
        Seq(HDF5.WVar("dev_be", Seq(0, 1), dev,
          chunk = Some(Seq(3, 2)), integral = true, nbitPrec = 24,
          bigEndian = true)))
      HDF5.openDataset(s, base)
        .select(col("y"), col("q"),
          col("dev_be").cast("long").as("dev_be"))
    }),

    // synchronous label propagation (3 rounds) on the co-purchase
    // graph: deterministic mode-with-min-tie-break updates (async LPA
    // is visit-order luck; the sync labeling after R rounds is a pure
    // function any engine replays) — the community companion of q356's
    // k-core and q273's PageRank
    "q386_label_propagation" -> ((s, dir) => {
      val bi = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
        .distinct()
      val edges = bi.as("a").join(bi.as("b2"),
          col("a.b") === col("b2.b") && col("a.i") < col("b2.i"))
        .select(col("a.i").as("x"), col("b2.i").as("y"))
      graft.llm.LinkAnalysis.labelPropagation(edges, "x", "y",
        rounds = 3)
    }),

    // NumPy .npz round-trip (round 15): quarterly revenue/count grids
    // written as real npy-format-1.0 members of a zip container, read
    // back through the from-scratch parser — the np.save/np.load
    // interchange xarray users hit constantly; the oracle recomputes
    // the grids from parquet, so any header/layout/stride defect in
    // the codec breaks the hash
    "q383_npz_roundtrip" -> ((s, dir) => {
      import graft.io.Npy
      val od = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")).between(1995, 2001))
        .groupBy((year(col("o_orderdate")) - 1995).cast("int").as("y"),
          (quarter(col("o_orderdate")) - 1).cast("int").as("q"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("r"))
        .collect() // bounded at the 28-cell grid
      val rev = new Array[Double](28); val cnt = new Array[Double](28)
      od.foreach { r =>
        val i = r.getInt(0) * 4 + r.getInt(1)
        cnt(i) = r.getLong(2).toDouble; rev(i) = r.getLong(3).toDouble
      }
      val path = java.nio.file.Paths.get(scratch(s, "npz", dir) + ".npz")
      java.nio.file.Files.write(path, Npy.writeNpz(
        Seq(("rev_c", Seq(7, 4), rev), ("n_ord", Seq(7, 4), cnt)),
        integral = true))
      val back = Npy.readNpz(java.nio.file.Files.readAllBytes(path))
      val (shp, rv) = back("rev_c"); val (_, cv) = back("n_ord")
      require(shp == Seq(7, 4), s"npz round-trip shape $shp")
      import s.implicits._
      (0 until 28).map(i => (i / 4, i % 4, cv(i).toLong, rv(i).toLong))
        .toDF("y", "q", "n_ord", "rev_c")
        .select(col("y").cast("long"), col("q").cast("long"),
          col("n_ord"), col("rev_c"))
    }),

    // ORC sink -> source round-trip: Spark's built-in columnar sibling
    // of the parquet path (per-segment aggregate out, read back) — the
    // oracle recomputes straight from parquet
    "q384_orc_roundtrip" -> ((s, dir) => {
      val base = scratch(s, "orc", dir)
      Tables.customer(s, dir)
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n_cust"),
          sum(round(col("c_acctbal") * 100, 0).cast("long")).as("bal_c"))
        .write.mode("overwrite").orc(base)
      s.read.orc(base).select(col("seg"), col("n_cust"), col("bal_c"))
    }),

    // k-core decomposition (k=3) of the co-purchase graph: synchronized
    // peeling to the UNIQUE fixpoint (order-independent, so any engine
    // replays it) — per round one degree aggregate + two anti-joins on
    // the shrinking dropped-node set; output = surviving nodes with
    // their in-core degree. The community-core companion of q325's
    // triangles and q344's link prediction.
    "q356_kcore" -> ((s, dir) => {
      val bi = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
        .distinct()
      val edges = bi.as("a").join(bi.as("b2"),
          col("a.b") === col("b2.b") && col("a.i") < col("b2.i"))
        .select(col("a.i").as("x"), col("b2.i").as("y"))
      graft.llm.LinkAnalysis.kcore(edges, "x", "y", k = 3, maxRounds = 8)
    }),

    // CSV sink -> source round-trip with quoting hazards: memo embeds
    // commas and double quotes, so a broken writer dialect (unescaped
    // quote, naive split) corrupts rows; the oracle recomputes the
    // aggregate straight from the parquet, so the CSV-borne values must
    // come back byte-faithful (doubles round-trip via shortest repr)
    "q359_csv_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val base = scratch(s, "csv", dir)
      Tables.customer(s, dir).select(col("c_custkey"),
          concat(col("c_name"), lit(", \""), col("c_mktsegment"),
            lit("\" x")).as("memo"),
          col("c_mktsegment"), col("c_acctbal"))
        .write.mode("overwrite").option("header", "true").csv(base)
      val back = s.read.option("header", "true")
        .schema(StructType(Seq(
          StructField("c_custkey", LongType),
          StructField("memo", StringType),
          StructField("c_mktsegment", StringType),
          StructField("c_acctbal", DoubleType))))
        .csv(base)
      back.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("memo"))).as("memo_chars"),
          exactSum(col("c_acctbal")).as("bal"))
    }),

    // lzf-compressed netCDF-4 (h5py's built-in compression="lzf"):
    // derivational 7x4 (year x quarter, 1995-2001) order-count grid through the
    // libLZF codec in io/Lzf.scala and the chunk-granular convert
    "q232_hdf5_lzf" -> ((s, dir) => {
      import graft.io.HDF5
      val base = scratch(s, "h5lzf", dir)
      new java.io.File(base).mkdirs()
      val cells = Tables.orders(s, dir)
        .groupBy((year(col("o_orderdate")) - 1995).cast("int").as("y"),
          (quarter(col("o_orderdate")) - 1).cast("int").as("q"))
        .count().collect() // bounded at the 28-cell grid
      val grid = new Array[Double](28)
      cells.foreach(r => grid(r.getInt(0) * 4 + r.getInt(1)) =
        r.getLong(2).toDouble)
      HDF5.writeNc4(base + "/part0.nc4",
        Seq("y" -> Array.tabulate(7)(_.toDouble),
          "q" -> Array.tabulate(4)(_.toDouble)),
        Seq(HDF5.WVar("cnt", Seq(0, 1), grid,
          chunk = Some(Seq(3, 2)), lzf = true)))
      HDF5.convert(s, base, "cnt", base + "_parquet")
      graft.io.Store.open(s, base + "_parquet").select("y", "q", "cnt")
    }),

    // layout-v4 FIXED ARRAY chunk index (what HDF5 1.10+ writes under
    // libver="latest"): the same grid discipline through the FAHD/FADB
    // walk — 5x5 supplier counts by nation, deflate-filtered entries
    "q233_hdf5_v4fixed" -> ((s, dir) => {
      import graft.io.HDF5
      val base = scratch(s, "h5v4", dir)
      new java.io.File(base).mkdirs()
      val cells = Tables.supplier(s, dir)
        .groupBy((col("s_nationkey") / 5).cast("int").as("r"),
          (col("s_nationkey") % 5).cast("int").as("c"))
        .count().collect() // bounded at the 25-cell grid
      val grid = new Array[Double](25)
      cells.foreach(r => grid(r.getInt(0) * 5 + r.getInt(1)) =
        r.getLong(2).toDouble)
      HDF5.writeNc4(base + "/part0.nc4",
        Seq("r" -> Array.tabulate(5)(_.toDouble),
          "c" -> Array.tabulate(5)(_.toDouble)),
        Seq(HDF5.WVar("cnt", Seq(0, 1), grid,
          chunk = Some(Seq(2, 3)), index4 = Some("fixed"))))
      HDF5.convert(s, base, "cnt", base + "_parquet")
      graft.io.Store.open(s, base + "_parquet").select("r", "c", "cnt")
    }),

    // zarr v2 NESTED keys + zstd compressor together (NestedDirectoryStore
    // with numcodecs Zstd): 1996 revenue by quarter x priority, read back
    // through the nested-key glob + zstd frame decode
    "q234_zarr_nested_zstd" -> ((s, dir) => {
      import graft.io.Zarr
      val store = scratch(s, "zarrnz", dir)
      val grid = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1996)
        .groupBy(
          (quarter(col("o_orderdate")) - 1).cast("long").as("q"),
          (substring(col("o_orderpriority"), 1, 1).cast("int") - 1)
            .cast("long").as("p"))
        .agg(sum(col("o_totalprice").cast(DecimalType(30, 4)))
          .cast("double").as("rev"))
      Zarr.writeLongDF(grid, store, "rev", Seq("q", "p"),
        Seq(Array.tabulate(4)(_.toDouble), Array.tabulate(5)(_.toDouble)),
        chunks = Seq(2, 3), separator = Some("/"),
        compressor = Some(("zstd", 3)))
      Zarr.toLongDF(s, store, "rev").filter(!isnan(col("rev")))
        .select("q", "p", "rev")
    }),

    // zarr v3 transpose codec (array->array, spec §transpose): the 1995
    // revenue grid written with order=[1,0] — chunks serialize in the
    // PERMUTED C-order — and read back through the inverse permutation;
    // derivational oracle recomputes from parquet, layout-independent
    "q247_zarr_transpose" -> ((s, dir) => {
      import graft.io.Zarr
      val store = scratch(s, "zarrtp", dir)
      val grid = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(
          (quarter(col("o_orderdate")) - 1).cast("long").as("q"),
          (substring(col("o_orderpriority"), 1, 1).cast("int") - 1)
            .cast("long").as("p"))
        .agg(sum(col("o_totalprice").cast(DecimalType(30, 4)))
          .cast("double").as("rev"))
      Zarr.writeLongDF(grid, store, "rev", Seq("q", "p"),
        Seq(Array.tabulate(4)(_.toDouble), Array.tabulate(5)(_.toDouble)),
        chunks = Seq(2, 3), zarrFormat = 3,
        compressor = Some(("gzip", 5)),
        transposeOrder = Some(Seq(1, 0)))
      Zarr.toLongDF(s, store, "rev").filter(!isnan(col("rev")))
        .select("q", "p", "rev")
    }),

    // open_dataset over netCDF-4: EVERY data variable joined on the dims
    // (ref `backends/api.py:637` open_dataset -> all data_vars). Two
    // measures — count and revenue — written as separate variables,
    // read back through HDF5.openDataset's full-outer dim join;
    // derivational oracle recomputes both from the parquet
    "q235_h5_open_dataset" -> ((s, dir) => {
      import graft.io.HDF5
      val base = scratch(s, "h5od", dir)
      new java.io.File(base).mkdirs()
      val cells = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(
          (quarter(col("o_orderdate")) - 1).cast("int").as("q"),
          (substring(col("o_orderpriority"), 1, 1).cast("int") - 1)
            .cast("int").as("p"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(30, 4)))
            .cast("double").as("rev"))
        .collect() // bounded at the 20-cell grid
      val cnt = new Array[Double](20)
      val rev = new Array[Double](20)
      cells.foreach { r =>
        val i = r.getInt(0) * 5 + r.getInt(1)
        cnt(i) = r.getLong(2).toDouble; rev(i) = r.getDouble(3)
      }
      HDF5.writeNc4(base + "/part0.nc4",
        Seq("q" -> Array.tabulate(4)(_.toDouble),
          "p" -> Array.tabulate(5)(_.toDouble)),
        Seq(HDF5.WVar("cnt", Seq(0, 1), cnt, chunk = Some(Seq(3, 2))),
          HDF5.WVar("rev", Seq(0, 1), rev, chunk = Some(Seq(2, 3)))))
      HDF5.openDataset(s, base).select("q", "p", "cnt", "rev")
    }),

    // the classic-netCDF twin of q235: customer count + balance grid
    // through NetCDF.openDataset's banded reads + dim join
    "q236_nc_open_dataset" -> ((s, dir) => {
      import graft.io.NetCDF
      val base = scratch(s, "ncod", dir)
      new java.io.File(base).mkdirs()
      val cells = Tables.customer(s, dir)
        .groupBy((col("c_nationkey") / 5).cast("int").as("r"),
          (col("c_nationkey") % 5).cast("int").as("c"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_acctbal").cast(DecimalType(30, 2)))
            .cast("double").as("bal"))
        .collect() // bounded at the 25-cell grid
      val cnt = new Array[Double](25)
      val bal = new Array[Double](25)
      cells.foreach { r =>
        val i = r.getInt(0) * 5 + r.getInt(1)
        cnt(i) = r.getLong(2).toDouble; bal(i) = r.getDouble(3)
      }
      NetCDF.write(base + "/part0.nc",
        Seq(NetCDF.Dim("r", 5), NetCDF.Dim("c", 5)),
        Seq(
          NetCDF.Var("r", Seq(0), NetCDF.NC_INT, Array.tabulate(5)(_.toDouble)),
          NetCDF.Var("c", Seq(1), NetCDF.NC_INT, Array.tabulate(5)(_.toDouble)),
          NetCDF.Var("cnt", Seq(0, 1), NetCDF.NC_DOUBLE, cnt),
          NetCDF.Var("bal", Seq(0, 1), NetCDF.NC_DOUBLE, bal)))
      NetCDF.openDataset(s, base).select("r", "c", "cnt", "bal")
    }),

    // same converter pipeline through a CDF-5 container (64-bit sizes,
    // INT64 variable): proves the version-5 header/offset path end to end
    "q115b_netcdf_cdf5" -> ((s, dir) => {
      import graft.io.NetCDF
      val base = scratch(s, "nc5", dir)
      new java.io.File(base).mkdirs()
      val dims = Seq(NetCDF.Dim("time", 6), NetCDF.Dim("lat", 5))
      NetCDF.write(base + "/part0.nc", dims, Seq(
        NetCDF.Var("time", Seq(0), NetCDF.NC_INT64,
          Array.tabulate(6)(_.toDouble)),
        NetCDF.Var("lat", Seq(1), NetCDF.NC_INT,
          Array.tabulate(5)(_.toDouble)),
        NetCDF.Var("temp", Seq(0, 1), NetCDF.NC_DOUBLE,
          (for (t <- 0 until 6; l <- 0 until 5)
            yield t * 100.0 + l * 1.5).toArray)), version = 5)
      NetCDF.convert(s, base, "temp", base + "_parquet")
      graft.io.Store.open(s, base + "_parquet")
        .select("time", "lat", "temp")
    }),

    // sortby(multi-key) + positional index (ref `dataset.py` sortby; isel
    // positions): ordinals via the range-partitioned zipWithIndex scheme
    // (no single-partition window at scale)
    "q98_sortby_positions" -> ((s, dir) => {
      val src = Tables.supplier(s, dir)
        .select("s_suppkey", "s_nationkey", "s_acctbal")
      graft.model.Positions.zipWithIndex(src,
        Seq(col("s_nationkey"), col("s_acctbal").desc, col("s_suppkey")),
        "pos")
    }),

    // align(join="override"): keep the LEFT labels, take the RIGHT values
    // positionally (ref `alignment.py` override mode) — zip on range-
    // partitioned ordinals, no global window
    "q100_align_override" -> ((s, dir) => {
      import graft.model.XDataset
      val a = XDataset(Tables.nation(s, dir)
        .select("n_nationkey", "n_name"), Seq("n_nationkey"))
      val b = XDataset(Tables.supplier(s, dir)
        .orderBy("s_suppkey").limit(25)
        .select(col("s_suppkey").as("n_nationkey"), col("s_acctbal")),
        Seq("n_nationkey"))
      graft.align.Align.overrideAlign(a, b, "n_nationkey")
    }),

    // where(cond, drop=True) (ref `common.py:1497`): filter instead of
    // NULL-mask; the LawsSpec equivalence (mask+dropna == drop) pins the
    // pair, this pins the values
    "q101_where_drop" -> ((s, dir) => {
      import graft.model.XDataset
      XDataset(Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value"), Seq("event_id"))
        .whereDrop(col("value").isNotNull && col("event_type") =!= "error")
        .df
    }),

    // combine_nested (ref `structure/combine.py:356`): fold of unions
    // along an existing dim — split a year of orders into quarters,
    // combine back, must equal the plain selection
    "q102_combine_nested" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1995)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      val parts = (1 to 4).map(q => base.filter(quarter(col("o_orderdate")) === q))
      graft.reshape.Reshape.concatExisting(parts)
    }),

    // resample with non-standard origin + closed='right', label='right'
    // (ref `groupers.py:474` TimeResampler origin/offset/closed): bucket i
    // satisfies t in (origin+(i-1)D, origin+iD]; i = floor((t-origin-1)/D)+1
    // computed integer-exactly via pmod (origin predates the data, so the
    // numerator is positive and the exact-multiple/D division is lossless)
    "q103_resample_origin" -> ((s, dir) => {
      val oUs = 1704056400000000L // 2023-12-31T21:00:00Z
      val dUs = 21600000000L      // 6 hours
      val ev = Tables.events(s, dir)
        .withColumn("__x", unix_micros(col("ts")) - lit(oUs) - 1)
        .withColumn("__i",
          ((col("__x") - pmod(col("__x"), lit(dUs))) / lit(dUs)).cast("long") + 1)
      ev.groupBy(timestamp_micros(lit(oUs) + col("__i") * lit(dUs)).as("w_end"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(30, 6))).cast("double").as("v"))
    }),

    // rolling median + rolling idxmax (ref `computation/rolling.py:56`
    // reductions median/argmin/argmax): exact percentile and max_by as
    // window aggregates over the trailing frame. Spark's lerp-median
    // a+(b-a)/2 and DuckDB's (a+b)/2 differ by <=1 ulp -> round(6) both.
    "q104_rolling_median" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
      Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        round(percentile(col("value"), lit(0.5)).over(w), 6).as("roll_med"),
        // idxmax with deterministic tie-break: max over (value, id) structs,
        // NULL values excluded on both engines by the conditional struct
        max(when(col("value").isNotNull, struct(col("value"), col("event_id"))))
          .over(w).getField("event_id").as("roll_idxmax"))
    }),

    // dropna(thresh=2) on a 3-variable dataset (ref `dataset.py:6355`):
    // pivot events into per-(user, day) click/view/purchase means, keep
    // rows where at least 2 of the 3 vars are present
    "q105_dropna_thresh" -> ((s, dir) => {
      import graft.model.XDataset
      def m(t: String) =
        XDataset.exactAvg(when(col("event_type") === t, col("value")), 6)
      val wide = Tables.events(s, dir)
        .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
        .agg(m("click").as("v_click"), m("view").as("v_view"),
          m("purchase").as("v_purchase"))
      XDataset(wide, Seq("user_id", "day"))
        .dropnaThresh(2, Seq("v_click", "v_view", "v_purchase")).df
    }),

    // cumprod via decimal log-sum window (ref `_aggregations.py` cumprod)
    "q91_cumprod" -> ((s, dir) => {
      // (orderkey, linenumber) is NOT unique in this data; order by all
      // value columns so ties carry identical factors and the cumulative
      // product is order-invariant within them
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val lg = log(lit(1.0) - col("l_discount")).cast(DecimalType(30, 12))
      Tables.lineitem(s, dir)
        .withColumn("cumprod_keep",
          round(exp(sum(lg).over(w).cast("double")), 8))
        .select("l_orderkey", "l_linenumber", "cumprod_keep")
    }),

    // general cumprod (ref `core/_aggregations.py` cumprod): factors span
    // negatives, zero (l_quantity=25) and positives — exercises the
    // sign-tracking/zero-latch path the positive-only log trick (q91)
    // cannot, including the zero UN-latching when a zero factor leaves the
    // frame. Oracle is DuckDB's independent product() window. The frame is
    // a 5-row slide, NOT unbounded: factors have one decimal digit, so
    // true products are exact multiples of 1e-5 and an 8-dp round sits
    // >=0.5e-8 from every tie boundary — an unbounded frame at sf0.1 has
    // 13-line orders whose products (multiples of 1e-13) land ON
    // boundaries and flip under the engines' ~1e-12 float disagreement
    // (observed: 7/600000 rows at sf0.1; sf0.01 never hits it).
    "q134_cumprod_signed" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .rowsBetween(-4, 0)
      val factor = (col("l_quantity") - 25.0) / 10.0
      Tables.lineitem(s, dir)
        // + 0.0 normalizes IEEE -0.0 (a zero factor then a negative one
        // yields -0.0 from a sequential multiply) so both engines hash alike
        .withColumn("cumprod_f",
          round(graft.window.Windows.cumprod(factor, w), 8) + lit(0.0))
        .select("l_orderkey", "l_linenumber", "cumprod_f")
    }),

    // open_mfdataset + combine_by_coords: multi-path read, duplicate
    // coordinates resolved (ref `backends/api.py:1379`, `combine.py:798`)
    "q82_mfopen_combine" -> ((s, dir) => {
      val twice = s.read.parquet(s"$dir/region.parquet", s"$dir/region.parquet")
      twice.dropDuplicates("r_regionkey").select("r_regionkey", "r_name")
    }),

    // ufunc battery 2: inverse trig, hyperbolics (explicit exp/ln formulas
    // on BOTH sides — libm hyperbolics differ by ulps across engines),
    // exp2/log2/log10, degrees/radians, fmod/trunc/reciprocal/square
    "q129_ufunc_battery2" -> ((s, dir) => {
      val d = col("l_discount"); val q = col("l_quantity")
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        round(asin(d), 8).as("asin_d"),
        round(acos(d), 8).as("acos_d"),
        round(atan2(d, q), 8).as("atan2_dq"),
        round((exp(d) + exp(-d)) / 2, 8).as("cosh_d"),
        round((exp(d * 2) - 1) / (exp(d * 2) + 1), 8).as("tanh_d"),
        round(log(q + sqrt(q * q + 1)), 8).as("asinh_q"),
        round(log(q + 1 + sqrt((q + 1) * (q + 1) - 1)), 8).as("acosh_q1"),
        round(log((d + 1) / (lit(1.0) - d)) / 2, 8).as("atanh_d"),
        round(degrees(d), 8).as("deg_d"),
        round(radians(q), 8).as("rad_q"),
        round(log2(q), 8).as("log2_q"),
        round(log10(q), 8).as("log10_q"),
        round(pow(lit(2.0), d), 8).as("exp2_d"),
        (lit(1.0) / (d + 1)).as("recip_d"),
        (d * d).as("square_d"),
        (q % 7.0).as("mod_q7"),
        (q / 7 * 3).cast("long").cast("double").as("trunc_q"))
    }),

    // N-ary xr.dot / einsum "ik,kj,j->i" (ref `computation.py:136` dot with
    // multiple arrays): the contraction is a JOIN CHAIN — contract k by
    // joining a with b, contract j by joining c, then one hash agg per
    // output label. Small factors broadcast; the big operand streams
    // through one shuffle on the output key. Integer counts keep the
    // arithmetic exact end to end.
    "q130_einsum3" -> ((s, dir) => {
      val a = Tables.lineitem(s, dir)
        .groupBy((col("l_orderkey") % 50).as("i"), col("l_linenumber").as("k"))
        .agg(count(lit(1)).as("va"))
      val b = Tables.part(s, dir)
        .groupBy((col("p_partkey") % 7 + 1).cast("int").as("k"),
          (col("p_size") % 10).as("j"))
        .agg(count(lit(1)).as("vb"))
      val c = Tables.customer(s, dir)
        .groupBy((col("c_custkey") % 10).as("j"))
        .agg(count(lit(1)).as("vc"))
      a.join(broadcast(b), "k").join(broadcast(c), "j")
        .groupBy("i")
        .agg(sum(col("va") * col("vb") * col("vc")).cast("double").as("dot3"))
    }),

    // last-touch attribution: each purchase credited to the user's most
    // recent click/view/signup within a 7-day lookback — the AsOf union
    // + partitioned-window machinery (one shuffle on user_id, no row
    // multiplication); oracle = DuckDB's native ASOF JOIN. Touches are
    // pre-deduped per (user, ts) to the max-event-id row so the as-of
    // pick is unambiguous on both engines.
    "q307_last_touch" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      val touches = ev
        .filter(col("event_type").isin("click", "view", "signup"))
        .select(col("user_id"), col("ts"), col("event_type"),
          col("event_id"))
      graft.align.Attribution.lastTouch(conv, touches,
          "user_id", "ts", "event_type", "event_id",
          toleranceMicros = 7L * 24 * 3600 * 1000000L)
        .groupBy("attributed")
        .agg(count(lit(1)).as("n_conv"),
          sum(col("value").cast(DecimalType(30, 6))).cast("double")
            .as("rev"))
    }),

    // event-path mining: top-10 3-step event-type sequences (the Markov
    // matrix generalized to paths) — per-user lead() windows, wordcount
    // aggregate, TakeOrdered cut
    "q308_event_paths" -> ((s, dir) =>
      graft.window.Paths.topPaths(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type", n = 3, k = 10)),

    // changelog application (CDC apply / MERGE INTO): a derived I/U/D
    // changelog (lineitem lines >= 4, line 7 rows as inserts under
    // shifted keys, low-quantity rows as deletes, linenumber as the
    // version) folded into the orders snapshot — per-key winner in ONE
    // combiner-friendly max-struct aggregate, then a single anti-join +
    // union. This lineitem has DUPLICATE (orderkey, linenumber) pairs,
    // so version ties are real: the max-struct total order (seq, op,
    // payload...) is the deterministic tiebreak, replayed verbatim by
    // the oracle's ORDER BY chain
    "q310_changelog_merge" -> ((s, dir) => {
      val snap = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("totalprice_c"))
      val changes = Tables.lineitem(s, dir)
        .filter(col("l_linenumber") >= 4)
        .select(
          when(col("l_linenumber") === 7, col("l_orderkey") + 600000000L)
            .otherwise(col("l_orderkey")).as("o_orderkey"),
          col("l_linenumber").as("seq"),
          when(col("l_linenumber") === 7, "I")
            .when(col("l_quantity") < 10, "D").otherwise("U").as("op"),
          col("l_suppkey").as("o_custkey"),
          lit("U").as("o_orderstatus"),
          round(col("l_extendedprice") * 100).cast("long")
            .as("totalprice_c"))
      graft.align.ChangelogMerge.applyChangelog(snap, changes,
        "o_orderkey", "seq", "op")
    }),

    // JSONL corpus interchange: documents written as JSON-Lines by the
    // distributed native sink (one file per partition — no driver
    // collect at any size), read back with a PINNED schema (inference
    // is an extra full pass at 100 TB) in FAILFAST mode, then an
    // integrity aggregate whose oracle reads the ORIGINAL parquet —
    // the md5-key sum proves text survived JSON escaping byte-exactly
    "q311_jsonl_roundtrip" -> ((s, dir) => {
      val path = scratch(s, "jsonl", dir)
      val docs = Tables.documents(s, dir)
        .select("doc_id", "text", "lang", "source", "n_chars")
      graft.io.JsonLines.write(docs, path)
      graft.io.JsonLines.read(s, path, docs.schema)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("len_sum"),
          sum(graft.llm.Sketch.tokenKey(col("text"))).as("text_key_sum"))
    }),

    // equi-width histogram sketch + quantiles read off it: bin counts
    // (range/width-bounded state, mergeable by cell addition) instead
    // of shuffled values; rank targets and in-bin interpolation on the
    // exact integer/ppm grid
    "q312_histogram_quantile" -> ((s, dir) =>
      graft.llm.Sketch.histogramQuantile(
        Tables.lineitem(s, dir).select(
          round(col("l_extendedprice") * 100).cast("long").as("price_c")),
        "price_c", width = 500000L, qPcts = Seq(25, 50, 75, 90, 99))),

    // KMV (bottom-k minimum hash values) distinct sketches per source +
    // union/Jaccard/intersection ESTIMATES for every source pair — the
    // mergeable-synopsis complement of q299's exact overlap; all
    // estimates on truncating integer division
    "q313_kmv_set_ops" -> ((s, dir) =>
      graft.llm.Sketch.kmvPairs(
        Tables.documents(s, dir).select(col("source"),
            explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0),
        "source", "tok", k = 64)),

    // RFM segmentation: per-user recency/frequency/monetary scored 1-4
    // by quartile position (exact binary-fraction quantiles over
    // integer columns - ulp-safe comparisons), 64-cell segment grid
    "q323_rfm_segments" -> ((s, dir) =>
      graft.window.Rfm.segments(Tables.events(s, dir), "user_id", "ts",
        "event_type", "value", purchaseType = "purchase")),

    // SCD type-2 history over the q310 changelog: every non-delete
    // change becomes a version row with [valid_from, valid_to) on the
    // version axis (delete closes, null = current) — one partitioned
    // window per key, the q310 total order resolving version ties
    "q315_scd2_history" -> ((s, dir) => {
      val changes = Tables.lineitem(s, dir)
        .filter(col("l_linenumber") >= 4)
        .select(
          when(col("l_linenumber") === 7, col("l_orderkey") + 600000000L)
            .otherwise(col("l_orderkey")).as("o_orderkey"),
          col("l_linenumber").as("seq"),
          when(col("l_linenumber") === 7, "I")
            .when(col("l_quantity") < 10, "D").otherwise("U").as("op"),
          col("l_suppkey").as("o_custkey"),
          round(col("l_extendedprice") * 100).cast("long")
            .as("totalprice_c"))
      graft.align.ChangelogMerge.scd2History(changes,
        "o_orderkey", "seq", "op")
    }),

    // URL canonicalization dedup (the web-corpus dedup key): synthetic
    // crawl URLs with case noise, default ports, trailing slashes,
    // utm_* tracking params, unsorted query strings and fragments are
    // canonicalized by a pure codegen'd string expression, then
    // per-host dedup accounting
    "q316_url_dedup" -> ((s, dir) => {
      val urls = Tables.orders(s, dir).select(concat(
        lit("HTTP://Shop"), (col("o_custkey") % 5).cast("string"),
        lit(".Example.COM"),
        when(col("o_orderkey") % 2 === 0, ":80").otherwise(""),
        lit("/item/"), (col("o_orderkey") % 1000).cast("string"),
        when(col("o_orderkey") % 3 === 0, "/").otherwise(""),
        lit("?utm_source=x&ref="), (col("o_custkey") % 7).cast("string"),
        lit("&b=2&a=1"),
        when(col("o_orderkey") % 5 === 0, "#sec").otherwise(""))
        .as("url"))
      urls.select(graft.llm.Url.canonicalize(col("url")).as("canon"))
        .groupBy("canon").agg(count(lit(1)).as("n_raw"))
        .groupBy(regexp_extract(col("canon"), "://([^/]+)", 1).as("host"))
        .agg(count(lit(1)).as("n_canonical"),
          sum(col("n_raw")).as("n_urls"))
    }),

    // linear (equal-split) multi-touch attribution: every touch in the
    // 7-day lookback shares the conversion equally — the range match is
    // IntervalJoin's time-bucket EQUI-join (1-day buckets), credit on
    // the ppm grid via truncating division
    "q314_linear_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("conv_id"),
          round(col("value") * 100).cast("long").as("value_c"))
      val touches = ev
        .filter(col("event_type").isin("click", "view", "signup"))
        .select(col("user_id"), col("ts"), col("event_type"))
      graft.align.Attribution.linearTouch(conv, touches,
        "user_id", "ts", "conv_id", "value_c", "event_type",
        lookbackMicros = 7L * 24 * 3600 * 1000000L,
        bucketMicros = 24L * 3600 * 1000000L)
    }),

    // ordered funnel view → click → purchase: per user the earliest
    // in-order completion of each stage prefix (strictly-after contract);
    // |stages| conditional-min hash aggs chained on the user key — no
    // window, no per-user sort, timestamps compare exactly
    "q270_funnel" -> ((s, dir) =>
      graft.window.Funnel.ordered(Tables.events(s, dir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))),

    // batch gap sessionization (30-min gap): gaps-and-islands fold per
    // user, session stats — all timestamp/integer arithmetic
    "q271_sessions" -> ((s, dir) =>
      graft.window.Sessions.stats(Tables.events(s, dir), "user_id", "ts",
        gapSec = 1800)),

    // weekly cohort retention anchored on the first signup: exact-ppm
    // shares, pre-anchor activity excluded
    "q272_cohort_retention" -> ((s, dir) =>
      graft.window.Cohort.weeklyRetention(Tables.events(s, dir),
        "user_id", "ts", "event_type", anchor = "signup")),

    // first-order Markov transition matrix of the per-user event stream
    // (ts, event_id order): counts + exact-ppm outgoing shares
    "q274_transitions" -> ((s, dir) =>
      graft.window.Markov.transitions(Tables.events(s, dir), "user_id",
        "ts", "event_type", col("event_id"))),

    // argsort per user's purchase series (ref dataarray.argsort → numpy
    // stable sort): for sort rank k, the original 0-based position
    "q277_argsort" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .withColumn("pos", row_number().over(w) - 1)
        .select("user_id", "pos", "value")
      graft.agg.Rank.argsort(series, Seq("user_id"), "pos", "value")
    }),

    // searchsorted (side="left") of literal thresholds into each user's
    // sorted purchase values: insert index = count of strictly-smaller
    "q278_searchsorted" -> ((s, dir) =>
      graft.agg.Rank.searchSorted(
        Tables.events(s, dir).filter(col("event_type") === "purchase"),
        Seq("user_id"), "value",
        probes = Seq(0.0, 100.0, 250.0, 400.0, 500.0))),

    // batch point-in-interval join via the time-bucket decomposition:
    // every event lands back in exactly the q271 session that contains
    // it — an equi-join on (user, bucket), never a nested loop
    "q282_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val sessions = graft.window.Sessions.stats(ev, "user_id", "ts",
        gapSec = 1800)
      graft.align.IntervalJoin.pointInInterval(
        ev.select("event_id", "user_id", "ts"),
        sessions.select(col("user_id"), col("t_start"), col("t_end"),
          col("session_seq")),
        by = Seq("user_id"), t = "ts", start = "t_start", end = "t_end",
        bucketMicros = 3600L * 1000000L)
        .select("event_id", "user_id", "session_seq")
    }),

    // Holt linear-trend smoothing (alpha=1/2, beta=1/5) of each user's
    // purchase-value series in 1e6 fixed-point — integer recursion, so
    // the recursive-CTE oracle replays every step exactly
    "q276_holt_smooth" -> ((s, dir) =>
      graft.numerics.Holt.smooth(
        Tables.events(s, dir).filter(col("event_type") === "purchase"),
        "user_id", "ts", "event_id",
        round(col("value") * 1000000, 0).cast("long"),
        alphaDen = 2L, betaDen = 5L)),

    // Markov removal-effect attribution: the data-driven credit model
    // next to last-touch q307 and linear q314 — absorption probability
    // drop per removed channel, 12 Jacobi rounds in BigInteger ppb
    // fixed-point on the COLLECTED (bounded) transition-count aggregate;
    // the oracle unrolls the identical recursion in HUGEINT SQL
    "q335_markov_attribution" -> ((s, dir) =>
      graft.window.Markov.removalAttribution(
        Tables.events(s, dir), "user_id", "ts", "event_type",
        col("event_id"), convType = "purchase", iters = 12)),

    // single-pass column profiling (null rate / exact distinct / typed
    // ranges) over lineitem — numeric ranges on the column's own cent
    // grid, string ranges as strings; no float/timestamp rendering
    "q336_column_profile" -> ((s, dir) =>
      graft.io.Profile.profile(Tables.lineitem(s, dir), Seq(
        ("l_orderkey", col("l_orderkey"), true),
        ("l_quantity", col("l_quantity").cast("long"), true),
        ("l_extendedprice",
          round(col("l_extendedprice") * 100, 0).cast("long"), true),
        ("l_returnflag", col("l_returnflag"), false),
        ("l_linestatus", col("l_linestatus"), false)))),

    // forecastability diagnostic per order priority: seasonal-naive
    // (lag-7) vs naive (lag-1) absolute-error sums over the daily
    // revenue series, and their MASE-style ratio — count-normalized,
    // decimal-widened, on the exact ppm grid. The denominator metric
    // every forecast eval (q276 Holt, q340 Holt-Winters) is judged
    // against; windows are per-priority lags over the calendar-bounded
    // daily aggregate
    "q352_forecast_mase" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, dir)
        .groupBy(
          substring(col("o_orderpriority"), 1, 1).cast("long").as("pid"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("y"))
      val w = Window.partitionBy(col("pid")).orderBy(col("day"))
      daily
        .withColumn("l1", lag(col("y"), 1).over(w))
        .withColumn("l7", lag(col("y"), 7).over(w))
        .groupBy(col("pid"))
        .agg(sum(when(col("l7").isNotNull, abs(col("y") - col("l7"))))
          .cast("long").as("err_sn"),
          sum(when(col("l7").isNotNull, 1L).otherwise(0L)).as("n_sn"),
          sum(when(col("l1").isNotNull, abs(col("y") - col("l1"))))
            .cast("long").as("err_n"),
          sum(when(col("l1").isNotNull, 1L).otherwise(0L)).as("n_n"))
        .select(col("pid"), col("err_sn"), col("n_sn"), col("err_n"),
          col("n_n"),
          expr("""CAST(CAST(err_sn AS DECIMAL(38,0)) * n_n * 1000000
                  div (CAST(err_n AS DECIMAL(38,0)) * n_sn) AS BIGINT)""")
            .as("mase_ppm"))
    }),

    // 2-D skyline / Pareto frontier (both maximized) over per-order
    // (total quantity, revenue cents): dominance via a prefix max over
    // the distinct-quantity AGGREGATE — the sort-filter skyline with
    // the sort touching only the aggregate
    "q350_pareto_frontier" -> ((s, dir) => {
      val per = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).cast("long").as("qty"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .as("rev_c"))
      graft.agg.Skyline.frontier2d(per, col("qty"), col("rev_c"))
    }),

    // keyed snapshot diff between two table versions (version B derived
    // deterministically: %97 keys deleted, %101 cents bumped, %103 keys
    // cloned under shifted ids): one full outer join on the key, rows
    // compared by portable md5-prefix hashes, 4-row status summary
    "q347_snapshot_diff" -> ((s, dir) => {
      val a = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val b = a.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 101 === 0, col("cents") + 1)
            .otherwise(col("cents")).as("cents"))
        .union(a.filter(col("o_orderkey") % 103 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_custkey"), col("o_orderstatus"), col("cents")))
      graft.io.Snapshot.diff(a, b, "o_orderkey",
        Seq("o_custkey", "o_orderstatus", "cents"))
    }),

    // order-invariant table fingerprint: Σ md5-prefix row hashes (exact
    // DECIMAL sum — commutative, layout never matters) + row count; the
    // rewrite-validation verb next to q347's keyed diff
    "q348_table_fingerprint" -> ((s, dir) =>
      graft.io.Snapshot.fingerprint(
        Tables.lineitem(s, dir).select(col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100, 0).cast("long")
            .as("cents"), col("l_returnflag")),
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "cents", "l_returnflag"))),

    // common-neighbor link prediction on the co-purchase graph: score
    // NON-edges by shared neighborhood (cn + neighborhood Jaccard ppm);
    // hub middles (deg > 60) anti-joined out of wedge formation
    "q344_link_prediction" -> ((s, dir) =>
      graft.llm.LinkAnalysis.linkPrediction(
        Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 10 === 0)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
        "ok", "pk", maxDeg = 60, topK = 20)),

    // peak concurrent sessions per day: sweep-line (+1/-1 boundaries,
    // ends before starts at an instant) running-summed by the
    // DISTRIBUTED two-level prefix (Positions.runningSum over
    // Positions.bucketOffsets) — never a global window over the boundary
    // stream
    "q345_concurrency" -> ((s, dir) => {
      val sess = graft.window.Sessions.stats(Tables.events(s, dir),
        "user_id", "ts", gapSec = 1800)
      graft.window.Concurrency.dailyPeak(sess, "t_start", "t_end")
    }),

    // declarative data-quality suite (dbt-test verbs): referential
    // integrity, row predicates, uniqueness — each check ONE summary
    // row, the suite a union of 1-row aggregates
    "q346_data_checks" -> ((s, dir) => {
      import graft.io.Checks
      Checks.suite(Seq(
        Checks.fkCheck("orders_fk_customer", Tables.orders(s, dir),
          "o_custkey", Tables.customer(s, dir), "c_custkey"),
        Checks.fkCheck("lineitem_fk_orders", Tables.lineitem(s, dir),
          "l_orderkey", Tables.orders(s, dir), "o_orderkey"),
        Checks.predicateCheck("orders_price_positive",
          Tables.orders(s, dir), col("o_totalprice") > 0),
        Checks.predicateCheck("events_value_nonneg",
          Tables.events(s, dir),
          col("value").isNotNull && col("value") >= 0),
        Checks.uniqueCheck("customer_pk_unique",
          Tables.customer(s, dir), Seq("c_custkey"))))
    }),

    // Holt-Winters additive seasonal smoothing (m=7 weekly) of each
    // order priority's daily revenue — level+trend+season integer
    // fixed-point recursion (alpha=1/2, beta=1/5, gamma=1/4); the
    // oracle carries the 7-slot seasonal ring as a LIST through a
    // recursive CTE and replays every step exactly
    "q340_holt_winters" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(
          substring(col("o_orderpriority"), 1, 1).cast("long").as("pid"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("rev_c"))
      graft.numerics.Holt.holtWinters(daily, "pid", "day",
          col("rev_c"), m = 7, alphaDen = 2L, betaDen = 5L, gammaDen = 4L)
        .withColumnRenamed("pid", "priority_id")
    }),

    // compaction planning over daily event-log segments: batch =
    // running-bytes div target (integer, locality-preserving — the
    // Delta OPTIMIZE planning shape; the prefix sum sees only the
    // calendar-bounded segment-metadata aggregate)
    "q337_compaction_plan" -> ((s, dir) => {
      val segs = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg((count(lit(1)) * 64 +
          sum(octet_length(coalesce(col("props"), lit(""))))).as("b"))
      graft.io.Compaction.plan(segs, "day", col("b"),
        targetBytes = 256L * 1024)
    })
  )

  /** q335 oracle: the 12 Jacobi rounds unrolled as chained CTEs — each
    * round is the SAME integer expression the Scala fold runs
    * ((Σ n·p) // tot on the 1e9 grid, HUGEINT exact). */
  private def markovOracle(iters: Int): String = {
    val step = (k: Int) => s"""
         it$k AS MATERIALIZED (
           SELECT g.rm, g.s,
             CAST(CASE WHEN g.s = 'CONV' THEN 1000000000
                  WHEN g.s = 'NULL' OR g.s = g.rm THEN 0
                  ELSE COALESCE(a.acc, 0) END AS HUGEINT) AS p
           FROM it${k - 1} g LEFT JOIN (
             SELECT p.rm, c.f AS s,
               sum(c.n::HUGEINT * p.p) // min(t.tn) AS acc
             FROM cnt c JOIN it${k - 1} p ON p.s = c.t
             JOIN tot t ON t.f = c.f
             GROUP BY p.rm, c.f) a ON a.rm = g.rm AND a.s = g.s)"""
    s"""WITH seq0 AS (
           SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS st,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
         fc AS (SELECT user_id, min(rn) AS fcrn FROM seq0
           WHERE st = 'CONV' GROUP BY 1),
         j AS (SELECT s.user_id, s.st, s.rn, f.fcrn
           FROM seq0 s LEFT JOIN fc f USING (user_id)
           WHERE f.fcrn IS NULL OR s.rn <= f.fcrn),
         edges AS (
           SELECT COALESCE(lag(st) OVER (PARTITION BY user_id
               ORDER BY rn), 'START') AS f, st AS t
           FROM j
           UNION ALL
           SELECT max_by(st, rn) AS f, 'NULL' AS t FROM j
           WHERE fcrn IS NULL GROUP BY user_id),
         cnt AS MATERIALIZED (SELECT f, t, CAST(count(*) AS BIGINT) AS n
           FROM edges GROUP BY 1, 2),
         tot AS MATERIALIZED (SELECT f, CAST(sum(n) AS BIGINT) AS tn
           FROM cnt GROUP BY 1),
         states AS (SELECT DISTINCT f AS s FROM cnt
           UNION SELECT DISTINCT t FROM cnt),
         var_s AS (SELECT 'FULL' AS rm
           UNION ALL SELECT s FROM states
           WHERE s NOT IN ('START', 'CONV', 'NULL')),
         it0 AS MATERIALIZED (SELECT v.rm, s.s,
             CAST(CASE WHEN s.s = 'CONV' THEN 1000000000 ELSE 0 END
               AS HUGEINT) AS p
           FROM states s CROSS JOIN var_s v),${(1 to iters).map(step)
      .mkString(",")},
         fin AS (SELECT rm, p FROM it$iters WHERE s = 'START'),
         fp AS (SELECT p AS pf FROM fin WHERE rm = 'FULL'),
         rem AS (SELECT f.rm AS channel, fp.pf AS pfull, f.p AS prem,
             fp.pf - f.p AS removal
           FROM fin f CROSS JOIN fp WHERE f.rm <> 'FULL'),
         sr AS (SELECT sum(removal) AS srem FROM rem)
         SELECT channel, CAST(pfull AS BIGINT) AS p_full_e,
           CAST(prem AS BIGINT) AS p_removed_e,
           CAST(removal AS BIGINT) AS removal_e,
           CAST(CASE WHEN sr.srem = 0 THEN 0
             ELSE removal * 1000000 // sr.srem END AS BIGINT) AS share_ppm
         FROM rem CROSS JOIN sr"""
  }

  val oracles: Map[String, String] = Map(
    "q335_markov_attribution" -> markovOracle(12),

    // profiling replay: one wide aggregate, five long-form projections
    "q336_column_profile" ->
      """WITH b AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(l_orderkey) AS BIGINT) AS nu1,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d1,
           CAST(min(l_orderkey) AS BIGINT) AS mn1,
           CAST(max(l_orderkey) AS BIGINT) AS mx1,
           CAST(count(*) - count(l_quantity) AS BIGINT) AS nu2,
           CAST(count(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT) AS d2,
           CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mn2,
           CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mx2,
           CAST(count(*) - count(l_extendedprice) AS BIGINT) AS nu3,
           CAST(count(DISTINCT CAST(round(l_extendedprice * 100, 0)
             AS BIGINT)) AS BIGINT) AS d3,
           CAST(min(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             AS BIGINT) AS mn3,
           CAST(max(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             AS BIGINT) AS mx3,
           CAST(count(*) - count(l_returnflag) AS BIGINT) AS nu4,
           CAST(count(DISTINCT l_returnflag) AS BIGINT) AS d4,
           min(l_returnflag) AS mn4, max(l_returnflag) AS mx4,
           CAST(count(*) - count(l_linestatus) AS BIGINT) AS nu5,
           CAST(count(DISTINCT l_linestatus) AS BIGINT) AS d5,
           min(l_linestatus) AS mn5, max(l_linestatus) AS mx5
         FROM lineitem)
         SELECT 'l_orderkey' AS "column", n_rows, nu1 AS n_null,
           d1 AS n_distinct, mn1 AS min_num, mx1 AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         FROM b
         UNION ALL SELECT 'l_quantity', n_rows, nu2, d2, mn2, mx2,
           NULL, NULL FROM b
         UNION ALL SELECT 'l_extendedprice', n_rows, nu3, d3, mn3, mx3,
           NULL, NULL FROM b
         UNION ALL SELECT 'l_returnflag', n_rows, nu4, d4,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), mn4, mx4 FROM b
         UNION ALL SELECT 'l_linestatus', n_rows, nu5, d5,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), mn5, mx5 FROM b""",

    // MASE replay: same lags, same count-normalized decimal ratio
    "q352_forecast_mase" ->
      """WITH daily AS (
           SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pid,
             CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS y
           FROM orders GROUP BY 1, 2),
         lagged AS (SELECT pid, y,
             lag(y, 1) OVER (PARTITION BY pid ORDER BY day) AS l1,
             lag(y, 7) OVER (PARTITION BY pid ORDER BY day) AS l7
           FROM daily),
         agg AS (SELECT pid,
             CAST(sum(CASE WHEN l7 IS NOT NULL THEN abs(y - l7) END)
               AS BIGINT) AS err_sn,
             CAST(sum(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_sn,
             CAST(sum(CASE WHEN l1 IS NOT NULL THEN abs(y - l1) END)
               AS BIGINT) AS err_n,
             CAST(sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_n
           FROM lagged GROUP BY 1)
         SELECT pid, err_sn, n_sn, err_n, n_n,
           CAST(CAST(err_sn AS HUGEINT) * n_n * 1000000
             // (CAST(err_n AS HUGEINT) * n_sn) AS BIGINT) AS mase_ppm
         FROM agg""",

    // skyline replay: same aggregate, same strictly-greater prefix rule
    "q350_pareto_frontier" ->
      """WITH per AS (SELECT l_orderkey,
             CAST(sum(l_quantity) AS BIGINT) AS qty,
             CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev_c
           FROM lineitem GROUP BY 1),
         agg AS (SELECT qty AS x, CAST(max(rev_c) AS BIGINT) AS y
           FROM per GROUP BY 1),
         sky AS (SELECT x, y FROM (
             SELECT x, y, max(y) OVER (ORDER BY x DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_right
             FROM agg)
           WHERE best_right IS NULL OR y > best_right)
         SELECT s.x, s.y, CAST(count(*) AS BIGINT) AS n
         FROM sky s JOIN per p ON p.qty = s.x AND p.rev_c = s.y
         GROUP BY 1, 2""",

    // diff replay: same derived version B, same md5-prefix row hashes
    "q347_snapshot_diff" ->
      """WITH a AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
           FROM orders),
         b AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 101 = 0 THEN cents + 1
                  ELSE cents END AS cents
           FROM a WHERE o_orderkey % 97 <> 0
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, cents
           FROM a WHERE o_orderkey % 103 = 0),
         hx AS (SELECT o_orderkey AS k,
             list_reduce(list_transform(string_split(substr(md5(
                 CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus
                 || '|' || CAST(cents AS VARCHAR)), 1, 13), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (x, y) -> x * 16 + y) AS h
           FROM a),
         hy AS (SELECT o_orderkey AS k,
             list_reduce(list_transform(string_split(substr(md5(
                 CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus
                 || '|' || CAST(cents AS VARCHAR)), 1, 13), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (x, y) -> x * 16 + y) AS h
           FROM b)
         SELECT status, CAST(count(*) AS BIGINT) AS n FROM (
           SELECT CASE WHEN hx.h IS NULL THEN 'added'
                       WHEN hy.h IS NULL THEN 'removed'
                       WHEN hx.h = hy.h THEN 'unchanged'
                       ELSE 'changed' END AS status
           FROM hx FULL OUTER JOIN hy USING (k))
         GROUP BY status""",

    // fingerprint replay: same canonical rendering, same exact HUGEINT
    // sum folded mod 2^62 -> BIGINT (modular addition is order-invariant)
    "q348_table_fingerprint" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(list_reduce(list_transform(
               string_split(substr(md5(
                 CAST(l_orderkey AS VARCHAR) || '|'
                 || CAST(l_linenumber AS VARCHAR) || '|'
                 || CAST(l_partkey AS VARCHAR) || '|'
                 || CAST(l_suppkey AS VARCHAR) || '|'
                 || CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   AS VARCHAR) || '|' || l_returnflag), 1, 13), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (x, y) -> x * 16 + y) AS HUGEINT))
             % 4611686018427387904 AS BIGINT)
             AS content_sum
         FROM lineitem""",

    // link-prediction replay: same hub cap, same wedge close, same
    // anti-join of existing edges, same ppm Jaccard and tiebreak
    "q344_link_prediction" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
           FROM lineitem WHERE l_orderkey % 10 = 0),
         e AS (SELECT DISTINCT a.i AS u, b2.i AS v
           FROM bi a JOIN bi b2 ON a.b = b2.b AND a.i < b2.i),
         adj AS (SELECT u AS x, v AS nbr FROM e
           UNION ALL SELECT v, u FROM e),
         deg AS (SELECT x, CAST(count(*) AS BIGINT) AS deg FROM adj
           GROUP BY 1),
         mid AS (SELECT x FROM deg WHERE deg <= 60),
         vm AS (SELECT a.x AS n, a.nbr FROM adj a JOIN mid USING (x)),
         w AS (SELECT l.nbr AS a, r.nbr AS c,
             CAST(count(*) AS BIGINT) AS cn
           FROM vm l JOIN vm r ON l.n = r.n AND l.nbr < r.nbr
           GROUP BY 1, 2),
         cand AS (SELECT w.a, w.c, w.cn FROM w
           LEFT JOIN e ON w.a = e.u AND w.c = e.v WHERE e.u IS NULL),
         sc AS (SELECT cand.a, cand.c, cand.cn,
             da.deg AS deg_a, dc.deg AS deg_c,
             cand.cn * 1000000 // (da.deg + dc.deg - cand.cn)
               AS jaccard_ppm
           FROM cand JOIN deg da ON da.x = cand.a
           JOIN deg dc ON dc.x = cand.c)
         SELECT a, c, cn, deg_a, deg_c, jaccard_ppm FROM sc
         ORDER BY cn DESC, jaccard_ppm DESC, a, c LIMIT 20""",

    // concurrency replay: q271's sessions, tie-collapsed boundaries,
    // ends-before-starts key, one running sum, per-day max
    "q345_concurrency" ->
      """WITH o AS (SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                 (PARTITION BY user_id ORDER BY ts)) >= 1800000000
               THEN 1 ELSE 0 END AS nw
           FROM events),
         s AS (SELECT user_id, ts,
             CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
           FROM o),
         sess AS (SELECT min(ts) AS t_start, max(ts) AS t_end
           FROM s GROUP BY user_id, session_seq),
         b AS (SELECT epoch_us(t_start) AS us, CAST(1 AS BIGINT) AS d
             FROM sess
           UNION ALL
           SELECT epoch_us(t_end), CAST(-1 AS BIGINT) FROM sess),
         a AS (SELECT us, d, CAST(sum(d) AS BIGINT) AS dd,
             us * 2 + CASE WHEN d = 1 THEN 1 ELSE 0 END AS key
           FROM b GROUP BY us, d),
         r AS (SELECT us, CAST(sum(dd) OVER (ORDER BY key
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
           FROM a)
         SELECT CAST(make_timestamp(us) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_boundaries,
           CAST(max(conc) AS BIGINT) AS peak_concurrency
         FROM r GROUP BY 1""",

    // checks replay: same anti-joins / predicates / group counts
    "q346_data_checks" ->
      """SELECT 'orders_fk_customer' AS check, CAST((SELECT count(*)
           FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
           ON o.o_custkey = c.c_custkey
           WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)
           AS BIGINT) AS n_violations,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_total
         UNION ALL
         SELECT 'lineitem_fk_orders', CAST((SELECT count(*)
           FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
           ON l.l_orderkey = o.o_orderkey
           WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)
           AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
         UNION ALL
         SELECT 'orders_price_positive', CAST((SELECT count(*)
           FROM orders WHERE NOT (o_totalprice > 0)
             OR o_totalprice IS NULL) AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
         UNION ALL
         SELECT 'events_value_nonneg', CAST((SELECT count(*)
           FROM events WHERE NOT (value IS NOT NULL AND value >= 0))
           AS BIGINT),
           CAST((SELECT count(*) FROM events) AS BIGINT)
         UNION ALL
         SELECT 'customer_pk_unique',
           CAST((SELECT sum(n - 1) FROM (SELECT count(*) AS n
             FROM customer GROUP BY c_custkey)) AS BIGINT),
           CAST((SELECT count(*) FROM customer) AS BIGINT)""",

    // Holt-Winters replay: the 7-slot seasonal ring rides a LIST column
    // through the recursion; two nested subqueries sequence the l' ->
    // (b', s') dependencies; all arithmetic truncating integer
    "q340_holt_winters" ->
      """WITH RECURSIVE daily AS (
           SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pid,
             CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS y
           FROM orders GROUP BY 1, 2),
         s AS (SELECT pid, y,
             CAST(row_number() OVER (PARTITION BY pid ORDER BY day)
               AS BIGINT) AS rn
           FROM daily),
         init AS (
           SELECT pid, CAST(sum(y) // 7 AS BIGINT) AS l0,
             list(y ORDER BY rn) AS ys
           FROM s WHERE rn <= 7 GROUP BY pid HAVING count(*) = 7),
         r AS (
           SELECT pid, CAST(7 AS BIGINT) AS rn, l0 AS l,
             CAST(0 AS BIGINT) AS b,
             list_transform(ys, v -> v - l0) AS ring,
             CAST(NULL AS BIGINT) AS sn, CAST(NULL AS BIGINT) AS fit
           FROM init
           UNION ALL
           SELECT pid, rn, l2 AS l, b2 AS b,
             list_append(ring[2:7], s2) AS ring, s2 AS sn, fit
           FROM (
             SELECT pid, rn, y, lprev, b, ring, fit, l2,
               ((l2 - lprev) + 4 * b) // 5 AS b2,
               ((y - l2) + 3 * ring[1]) // 4 AS s2
             FROM (
               SELECT s.pid, s.rn, s.y, r.l AS lprev, r.b, r.ring,
                 r.l + r.b + r.ring[1] AS fit,
                 ((s.y - r.ring[1]) + 1 * (r.l + r.b)) // 2 AS l2
               FROM r JOIN s ON s.pid = r.pid AND s.rn = r.rn + 1)))
         SELECT pid AS priority_id, rn, l AS level_e, b AS trend_e,
           sn AS season_e, fit AS fitted_e
         FROM r WHERE rn > 7""",

    // compaction replay: identical running-bytes integer cut
    "q337_compaction_plan" ->
      """WITH segs AS (SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) * 64 + sum(strlen(COALESCE(props, '')))
             AS BIGINT) AS b
           FROM events GROUP BY 1),
         c AS (SELECT day, b AS bytes,
           CAST(COALESCE(sum(b) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             // 262144 AS BIGINT) AS batch
           FROM segs),
         t AS (SELECT batch, CAST(sum(bytes) AS BIGINT) AS batch_bytes,
           CAST(count(*) AS BIGINT) AS batch_segments FROM c GROUP BY 1)
         SELECT day, bytes, batch, batch_bytes, batch_segments
         FROM c JOIN t USING (batch)""",
    "q65_tail" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_orderkey DESC LIMIT 50""",
    "q66_drop_sel" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
         WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY') GROUP BY 1""",
    "q67_pad" ->
      """WITH s AS (SELECT row_number() OVER (ORDER BY s_suppkey) - 1 AS pos,
               s_acctbal FROM supplier),
         n AS (SELECT count(*) AS n FROM s),
         grid AS (SELECT unnest(generate_series(-2, (SELECT n FROM n) + 1)) AS pos)
         SELECT g.pos,
           coalesce(c.s_acctbal, 0.0) AS s_acctbal_constant,
           e.s_acctbal AS s_acctbal_edge,
           r.s_acctbal AS s_acctbal_reflect,
           sy.s_acctbal AS s_acctbal_symmetric,
           w.s_acctbal AS s_acctbal_wrap
         FROM grid g
         LEFT JOIN s c ON c.pos = g.pos
         LEFT JOIN s e ON e.pos = least(greatest(g.pos, 0), (SELECT n FROM n) - 1)
         LEFT JOIN s r ON r.pos = CASE WHEN g.pos < 0 THEN -g.pos
             WHEN g.pos >= (SELECT n FROM n)
               THEN 2 * ((SELECT n FROM n) - 1) - g.pos
             ELSE g.pos END
         LEFT JOIN s sy ON sy.pos = CASE WHEN g.pos < 0 THEN -g.pos - 1
             WHEN g.pos >= (SELECT n FROM n)
               THEN 2 * (SELECT n FROM n) - 1 - g.pos
             ELSE g.pos END
         LEFT JOIN s w ON w.pos = ((g.pos % (SELECT n FROM n))
             + (SELECT n FROM n)) % (SELECT n FROM n)""",
    "q68_roll" ->
      """WITH s AS (SELECT row_number() OVER (ORDER BY s_suppkey) - 1 AS pos,
               s_suppkey, s_acctbal FROM supplier),
         n AS (SELECT count(*) AS n FROM s)
         SELECT a.pos, a.s_suppkey, b.s_acctbal AS s_acctbal_rolled
         FROM s a JOIN s b
           ON b.pos = ((a.pos - 3) % (SELECT n FROM n) + (SELECT n FROM n))
                      % (SELECT n FROM n)""",
    "q69_rolling_construct" ->
      """SELECT o_orderkey, o_custkey,
         array_to_string(list(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), ',') AS win_keys
         FROM orders""",
    "q69b_construct_stride" ->
      """SELECT o_orderkey, o_custkey,
         array_to_string(list_transform(
           CASE WHEN len(w) = 1 THEN [CAST(-1 AS BIGINT)] || [CAST(-1 AS BIGINT)] || w
                WHEN len(w) = 2 THEN [CAST(-1 AS BIGINT)] || w
                ELSE w END,
           x -> CAST(x AS VARCHAR)), ',') AS win_keys
         FROM (SELECT o_orderkey, o_custkey,
             list(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS w,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
           FROM orders)
         WHERE (rn - 1) % 2 = 0""",
    "q70_cummax" ->
      """SELECT o_orderkey, o_custkey,
         max(o_totalprice) OVER w AS cummax_price,
         min(o_totalprice) OVER w AS cummin_price,
         count(*) OVER w AS cumn
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    // interpolate replay: linear between bracketing month-starts in
    // microsecond time, NULL outside the knot range (no extrapolation)
    "q251_upsample_interpolate" ->
      """WITH days AS (SELECT generate_series AS day FROM
             generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-06-30',
                             INTERVAL 1 DAY)),
         monthly AS (SELECT date_trunc('month', o_orderdate) AS day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
           FROM orders GROUP BY 1),
         prev AS (SELECT d.day, max(m.day) AS pk
           FROM days d LEFT JOIN monthly m ON m.day <= d.day GROUP BY 1),
         nxt AS (SELECT d.day, min(m.day) AS nk
           FROM days d LEFT JOIN monthly m ON m.day >= d.day GROUP BY 1),
         j AS (SELECT p.day, p.pk, n.nk, mp.rev AS prev_rev,
             mn.rev AS next_rev
           FROM prev p JOIN nxt n ON n.day = p.day
           LEFT JOIN monthly mp ON mp.day = p.pk
           LEFT JOIN monthly mn ON mn.day = n.nk)
         SELECT day,
           CASE WHEN pk IS NULL OR nk IS NULL THEN NULL
                WHEN pk = nk THEN prev_rev
                ELSE prev_rev + (next_rev - prev_rev) *
                  (CAST(epoch_us(day) - epoch_us(pk) AS DOUBLE) /
                   CAST(epoch_us(nk) - epoch_us(pk) AS DOUBLE)) END AS rev
         FROM j""",
    // nearest replay: closer of the prev/next month-start, midpoint ties
    // backward
    "q216_upsample_nearest" ->
      """WITH days AS (SELECT generate_series AS day FROM
             generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-06-30',
                             INTERVAL 1 DAY)),
         monthly AS (SELECT date_trunc('month', o_orderdate) AS day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
           FROM orders GROUP BY 1),
         prev AS (SELECT d.day, max(m.day) AS pk
           FROM days d LEFT JOIN monthly m ON m.day <= d.day GROUP BY 1),
         nxt AS (SELECT d.day, min(m.day) AS nk
           FROM days d LEFT JOIN monthly m ON m.day >= d.day GROUP BY 1),
         sel AS (SELECT p.day,
             CASE WHEN n.nk IS NULL
                    OR (epoch_us(p.day) - epoch_us(p.pk))
                       <= (epoch_us(n.nk) - epoch_us(p.day))
                  THEN p.pk ELSE n.nk END AS k
           FROM prev p JOIN nxt n ON p.day = n.day)
         SELECT s.day, m.rev FROM sel s JOIN monthly m ON m.day = s.k""",
    // forward as-of: each day joins the first month-start at or after it
    "q212_upsample_bfill" ->
      """WITH days AS (SELECT generate_series AS day FROM
             generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-06-30',
                             INTERVAL 1 DAY)),
         monthly AS (SELECT date_trunc('month', o_orderdate) AS day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
           FROM orders GROUP BY 1),
         nxt AS (SELECT d.day, min(m.day) AS md
           FROM days d LEFT JOIN monthly m ON m.day >= d.day GROUP BY 1)
         SELECT n.day, m.rev
         FROM nxt n LEFT JOIN monthly m ON n.md = m.day""",
    "q71_upsample_ffill" ->
      """SELECT d.day, m.rev
         FROM (SELECT generate_series AS day FROM
             generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-06-30',
                             INTERVAL 1 DAY)) d
         ASOF LEFT JOIN (SELECT date_trunc('month', o_orderdate) AS day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
           FROM orders GROUP BY 1) m
         ON d.day >= m.day""",
    "q72_first_last" ->
      """SELECT o_custkey,
         max(CASE WHEN rn_a = 1 THEN o_totalprice END) AS first_price,
         max(CASE WHEN rn_d = 1 THEN o_totalprice END) AS last_price
         FROM (SELECT o_custkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS rn_a,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_d
           FROM orders)
         GROUP BY 1""",
    "q73_prod_all_any" ->
      """SELECT l_orderkey,
         round(exp(CAST(sum(CAST(ln(1.0 - l_discount) AS DECIMAL(30,12))) AS DOUBLE)), 8)
           AS prod_keep,
         bool_and(l_quantity > 0) AS all_pos,
         bool_or(l_discount = 0.0) AS any_nodisc
         FROM lineitem GROUP BY 1""",
    // closed-form fixture grid regenerated independently of the .nc path
    "q115_netcdf_roundtrip" ->
      """SELECT t.t AS time, l.l AS lat, t.t * 100 + l.l * 1.5 AS temp
         FROM (SELECT unnest(generate_series(0, 5)) AS t) t
         CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS l) l""",
    // netCDF-4 (HDF5) roundtrip: the same closed-form grid, regenerated
    // independently of the HDF5 codec (lat is a FLOAT coord: 0.5 steps)
    "q168_netcdf4_roundtrip" ->
      """SELECT t.t AS time, l.l * 0.5 AS lat,
           t.t * 100 + l.l * 1.5 AS temp
         FROM (SELECT unnest(generate_series(0, 5)) AS t) t
         CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS l) l""",
    "q115b_netcdf_cdf5" ->
      """SELECT t.t AS time, l.l AS lat, t.t * 100 + l.l * 1.5 AS temp
         FROM (SELECT unnest(generate_series(0, 5)) AS t) t
         CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS l) l""",
    // same closed-form grid, regenerated independently of the zarr codec
    "q135_zarr_roundtrip" ->
      """SELECT t.t AS time, l.l AS lat, t.t * 100 + l.l * 1.5 AS temp
         FROM (SELECT unnest(generate_series(0, 5)) AS t) t
         CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS l) l""",
    // same decimal sum-of-squares fold, same cast-to-double + IEEE sqrt
    "q160_rolling_reduce" ->
      """SELECT o_orderkey, o_custkey,
           round(sqrt(CAST(list_reduce(
             list_transform(win, x -> CAST(x * x AS DECIMAL(30,4))),
             (a, b) -> a + b) AS DOUBLE) / len(win)), 2) AS rms
         FROM (SELECT o_orderkey, o_custkey,
             list(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS win
           FROM orders)""",
    "q152_zarr_v3" ->
      """SELECT t.t AS time, l.l AS lat, t.t * 100 + l.l * 1.5 AS temp
         FROM (SELECT unnest(generate_series(0, 5)) AS t) t
         CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS l) l""",
    // derivational: recomputed from the parquet, not the store — a codec
    // bug (mis-shuffled bytes, wrong stream splits) breaks the hash
    "q222_zarr_blosc" ->
      """SELECT CAST(quarter(o_orderdate) - 1 AS BIGINT) AS q,
           CAST(CAST(substring(o_orderpriority, 1, 1) AS INT) - 1 AS BIGINT)
             AS p,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
         FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1, 2""",
    // derivational: both measures recomputed from the parquet; the
    // full-outer dim join must reassemble exactly the written grids
    "q235_h5_open_dataset" ->
      """SELECT g.q, g.p, CAST(coalesce(c.cnt, 0) AS DOUBLE) AS cnt,
           CAST(coalesce(c.rev, 0) AS DOUBLE) AS rev
         FROM (SELECT q.q, p.p
             FROM (SELECT unnest(generate_series(0, 3)) AS q) q
             CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS p) p) g
         LEFT JOIN (SELECT CAST(quarter(o_orderdate) - 1 AS BIGINT) AS q,
             CAST(CAST(substring(o_orderpriority, 1, 1) AS INT) - 1
               AS BIGINT) AS p,
             count(*) AS cnt,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
           FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1, 2) c
         ON c.q = g.q AND c.p = g.p""",
    "q236_nc_open_dataset" ->
      """SELECT g.r, g.c, CAST(coalesce(x.cnt, 0) AS DOUBLE) AS cnt,
           CAST(coalesce(x.bal, 0) AS DOUBLE) AS bal
         FROM (SELECT r.r, c.c
             FROM (SELECT unnest(generate_series(0, 4)) AS r) r
             CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS c) c) g
         LEFT JOIN (SELECT CAST(c_nationkey // 5 AS BIGINT) AS r,
             CAST(c_nationkey % 5 AS BIGINT) AS c, count(*) AS cnt,
             CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS bal
           FROM customer GROUP BY 1, 2) x
         ON x.r = g.r AND x.c = g.c""",
    // derivational: the count grid recomputed from the parquet, not the
    // szip store — any Rice-coding defect surfaces as a hash mismatch
    "q231_hdf5_szip" ->
      """SELECT g.q, g.p, CAST(coalesce(c.cnt, 0) AS DOUBLE) AS cnt
         FROM (SELECT q.q, p.p
             FROM (SELECT unnest(generate_series(0, 3)) AS q) q
             CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS p) p) g
         LEFT JOIN (SELECT CAST(quarter(o_orderdate) - 1 AS BIGINT) AS q,
             CAST(CAST(substring(o_orderpriority, 1, 1) AS INT) - 1
               AS BIGINT) AS p,
             count(*) AS cnt
           FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1, 2) c
         ON c.q = g.q AND c.p = g.p""",
    // derivational: counts recomputed from the parquet — a bit-transpose
    // defect (wrong bit order, bad row stride) breaks the hash
    "q296_zarr_bitshuffle" ->
      """SELECT CAST(quarter(o_orderdate) - 1 AS BIGINT) AS q,
           CAST(CAST(substring(o_orderpriority, 1, 1) AS INT) - 1 AS BIGINT)
             AS p,
           CAST(count(*) AS DOUBLE) AS cnt
         FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1, 2""",

    // derivational: the count grid recomputed from the parquet, not the
    // EA store — a mis-walked index block / data block (wrong entry
    // widths, bad direct-pointer count) breaks the hash
    "q295_hdf5_extensible_array" ->
      """SELECT g.ln, g.q, CAST(coalesce(c.cnt, 0) AS DOUBLE) AS cnt
         FROM (SELECT ln.ln, q.q
             FROM (SELECT unnest(generate_series(0, 6)) AS ln) ln
             CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS q) q) g
         LEFT JOIN (SELECT CAST(l_linenumber - 1 AS BIGINT) AS ln,
             CAST(quarter(l_shipdate) - 1 AS BIGINT) AS q, count(*) AS cnt
           FROM lineitem GROUP BY 1, 2) c
         ON c.ln = g.ln AND c.q = g.q""",

    // k-core replay: the same 8 synchronized peel rounds UNROLLED (the
    // Spark side caps at the same 8 and THROWS if not converged, so the
    // two engines peel the identical schedule; rounds past the fixpoint
    // are no-ops). The k-core is the unique maximal deg>=k subgraph —
    // order-independent by construction.
    "q356_kcore" -> kcoreOracleSql,

    // CSV replay: the aggregate recomputed from the parquet — a broken
    // CSV quote/escape dialect corrupts memo/segment/balance columns on
    // the Spark side and breaks the hash
    "q359_csv_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
           CAST(sum(length(c_name || ', "' || c_mktsegment || '" x'))
             AS BIGINT) AS memo_chars,
           CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS bal
         FROM customer GROUP BY 1""",

    // derivational: both count grids recomputed from the parquet — an
    // nbit bit-walk or scale-offset header/minbits defect breaks it
    // swizzled-EA replay: grid recomputed straight from orders — a
    // C-order misread permutes whole chunks and breaks the hash
    "q389_hdf5_swizzled_ea" ->
      """SELECT g.y, g.q, CAST(coalesce(o.cnt, 0) AS DOUBLE) AS cnt
         FROM (SELECT y.y, q.q
             FROM (SELECT unnest(generate_series(0, 6)) AS y) y
             CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS q) q) g
         LEFT JOIN (SELECT CAST(year(o_orderdate) - 1995 AS BIGINT) AS y,
             CAST(quarter(o_orderdate) - 1 AS BIGINT) AS q,
             count(*) AS cnt
           FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 2001
           GROUP BY 1, 2) o
         ON o.y = g.y AND o.q = g.q""",

    "q354_hdf5_nbit_scaleoffset" ->
      """SELECT g.y, g.q,
           CAST(coalesce(l.cnt, 0) AS DOUBLE) AS cnt_nb,
           CAST(coalesce(o.cnt, 0) AS DOUBLE) AS cnt_so
         FROM (SELECT y.y, q.q
             FROM (SELECT unnest(generate_series(0, 6)) AS y) y
             CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS q) q) g
         LEFT JOIN (SELECT CAST(year(l_shipdate) - 1995 AS BIGINT) AS y,
             CAST(quarter(l_shipdate) - 1 AS BIGINT) AS q, count(*) AS cnt
           FROM lineitem WHERE year(l_shipdate) BETWEEN 1995 AND 2001
           GROUP BY 1, 2) l
         ON l.y = g.y AND l.q = g.q
         LEFT JOIN (SELECT CAST(year(o_orderdate) - 1995 AS BIGINT) AS y,
             CAST(quarter(o_orderdate) - 1 AS BIGINT) AS q,
             count(*) AS cnt
           FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 2001
           GROUP BY 1, 2) o
         ON o.y = g.y AND o.q = g.q""",

    // LPA replay: three unrolled synchronous rounds, the identical
    // (count desc, label asc) argmax — every stage MATERIALIZED (the
    // DuckDB CTE-inlining lesson)
    "q386_label_propagation" ->
      """WITH bi AS MATERIALIZED (SELECT DISTINCT l_orderkey AS b,
             l_partkey AS i FROM lineitem WHERE l_orderkey % 10 = 0),
         e0 AS MATERIALIZED (SELECT a.i AS u, b2.i AS v
           FROM bi a JOIN bi b2 ON a.b = b2.b AND a.i < b2.i
           GROUP BY 1, 2),
         adj AS MATERIALIZED (SELECT u, v FROM e0
           UNION ALL SELECT v, u FROM e0),
         l0 AS MATERIALIZED (SELECT DISTINCT u AS n, u AS lbl FROM adj),
         c1 AS MATERIALIZED (SELECT adj.u, l.lbl, count(*) AS c
           FROM adj JOIN l0 l ON adj.v = l.n GROUP BY 1, 2),
         l1 AS MATERIALIZED (SELECT u AS n, lbl FROM (
           SELECT u, lbl, row_number() OVER (PARTITION BY u
             ORDER BY c DESC, lbl) AS rk FROM c1) WHERE rk = 1),
         c2 AS MATERIALIZED (SELECT adj.u, l.lbl, count(*) AS c
           FROM adj JOIN l1 l ON adj.v = l.n GROUP BY 1, 2),
         l2 AS MATERIALIZED (SELECT u AS n, lbl FROM (
           SELECT u, lbl, row_number() OVER (PARTITION BY u
             ORDER BY c DESC, lbl) AS rk FROM c2) WHERE rk = 1),
         c3 AS MATERIALIZED (SELECT adj.u, l.lbl, count(*) AS c
           FROM adj JOIN l2 l ON adj.v = l.n GROUP BY 1, 2),
         l3 AS MATERIALIZED (SELECT u AS n, lbl FROM (
           SELECT u, lbl, row_number() OVER (PARTITION BY u
             ORDER BY c DESC, lbl) AS rk FROM c3) WHERE rk = 1)
         SELECT CAST(n AS BIGINT) AS node,
           CAST(lbl AS BIGINT) AS community FROM l3""",

    // derivational: both grids recomputed from parquet — any npy
    // header/stride/zip defect breaks the hash
    "q383_npz_roundtrip" ->
      """SELECT g.y, g.q,
           CAST(coalesce(o.n, 0) AS BIGINT) AS n_ord,
           CAST(coalesce(o.r, 0) AS BIGINT) AS rev_c
         FROM (SELECT y.y, q.q
             FROM (SELECT unnest(generate_series(0, 6)) AS y) y
             CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS q) q) g
         LEFT JOIN (SELECT CAST(year(o_orderdate) - 1995 AS BIGINT) AS y,
             CAST(quarter(o_orderdate) - 1 AS BIGINT) AS q,
             count(*) AS n,
             sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS r
           FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 2001
           GROUP BY 1, 2) o
         ON o.y = g.y AND o.q = g.q""",

    // derivational: the per-segment aggregate recomputed from parquet —
    // a broken ORC writer/reader dialect corrupts rows
    "q384_orc_roundtrip" ->
      """SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT))
             AS BIGINT) AS bal_c
         FROM customer GROUP BY 1""",

    // derivational: signed quarterly deviations recomputed from the
    // parquet — a BE-walk/sign-extension defect breaks the hash
    "q371_hdf5_nbit_bigendian" ->
      """SELECT g.y, g.q,
           CAST(coalesce(o.cnt, 0) - m.mean AS BIGINT) AS dev_be
         FROM (SELECT y.y, q.q
             FROM (SELECT unnest(generate_series(0, 6)) AS y) y
             CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS q) q) g
         CROSS JOIN (SELECT count(*) // 28 AS mean
           FROM orders
           WHERE year(o_orderdate) BETWEEN 1995 AND 2001) m
         LEFT JOIN (SELECT CAST(year(o_orderdate) - 1995 AS BIGINT) AS y,
             CAST(quarter(o_orderdate) - 1 AS BIGINT) AS q,
             count(*) AS cnt
           FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 2001
           GROUP BY 1, 2) o
         ON o.y = g.y AND o.q = g.q""",

    // derivational: order counts recomputed from the parquet — an lzf
    // defect (bad back-reference, wrong run length) breaks the hash
    "q232_hdf5_lzf" ->
      """SELECT g.y, g.q, CAST(coalesce(c.cnt, 0) AS DOUBLE) AS cnt
         FROM (SELECT y.y, q.q
             FROM (SELECT unnest(generate_series(0, 6)) AS y) y
             CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS q) q) g
         LEFT JOIN (SELECT CAST(year(o_orderdate) - 1995 AS BIGINT) AS y,
             CAST(quarter(o_orderdate) - 1 AS BIGINT) AS q,
             count(*) AS cnt
           FROM orders GROUP BY 1, 2) c
         ON c.y = g.y AND c.q = g.q""",
    // derivational: supplier counts recomputed from the parquet — a
    // fixed-array index defect (wrong entry order, bad paging) breaks it
    "q233_hdf5_v4fixed" ->
      """SELECT g.r, g.c, CAST(coalesce(s.cnt, 0) AS DOUBLE) AS cnt
         FROM (SELECT r.r, c.c
             FROM (SELECT unnest(generate_series(0, 4)) AS r) r
             CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS c) c) g
         LEFT JOIN (SELECT CAST(s_nationkey // 5 AS BIGINT) AS r,
             CAST(s_nationkey % 5 AS BIGINT) AS c, count(*) AS cnt
           FROM supplier GROUP BY 1, 2) s
         ON s.r = g.r AND s.c = g.c""",
    // derivational: the 1996 revenue grid recomputed from the parquet,
    // independent of the nested-key layout and the zstd frames
    "q234_zarr_nested_zstd" ->
      """SELECT CAST(quarter(o_orderdate) - 1 AS BIGINT) AS q,
           CAST(CAST(substring(o_orderpriority, 1, 1) AS INT) - 1 AS BIGINT)
             AS p,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
         FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1, 2""",
    // derivational: the 1995 revenue grid recomputed from parquet,
    // independent of the transposed chunk layout
    "q247_zarr_transpose" ->
      """SELECT CAST(quarter(o_orderdate) - 1 AS BIGINT) AS q,
           CAST(CAST(substring(o_orderpriority, 1, 1) AS INT) - 1 AS BIGINT)
             AS p,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
         FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1, 2""",
    // the sharded store must read back to exactly the generating surface
    "q205_zarr_sharded" ->
      """SELECT t.t AS time, l.l AS lat, t.t * 10 + l.l * 0.5 AS temp
         FROM (SELECT unnest(generate_series(0, 7)) AS t) t
         CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS l) l""",
    "q153_datatree_zarr" ->
      """WITH g AS (SELECT t.t, x.x
           FROM (SELECT unnest(generate_series(0, 5)) AS t) t
           CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS x) x)
         SELECT '/fcst' AS path, count(*) AS n,
           CAST(sum(CAST(t * 10 + x + 0.5 AS DECIMAL(30,4))) AS DOUBLE)
             AS sum_temp
         FROM g
         UNION ALL
         SELECT '/obs', count(*),
           CAST(sum(CAST(t * 10 + x AS DECIMAL(30,4))) AS DOUBLE)
         FROM g""",
    // The fixture's y = a*exp(b*x) is noiseless, so the TRUE params are
    // recoverable analytically: ln(y) = ln(a) + b*x is an exact linear
    // relation and OLS on (x, ln y) returns (ln a, b) to ~1e-12. LM on the
    // engine side converges to ~1e-8 on the same data; both round to 4 dp.
    "q90_curvefit" ->
      """SELECT l_returnflag,
         round(exp(regr_intercept(ln(y), x)), 4) AS a_fit,
         round(regr_slope(ln(y), x), 4) + 0.0 AS b_fit
         FROM (SELECT l_returnflag, l_quantity / 10.0 AS x,
                 (100.0 + g * 25.0) * exp((0.2 + g * 0.1) * (l_quantity / 10.0)) AS y
               FROM (SELECT l_returnflag, l_quantity,
                       CASE WHEN l_returnflag = 'A' THEN 0.0
                            WHEN l_returnflag = 'N' THEN 1.0
                            ELSE 2.0 END AS g
                     FROM lineitem))
         GROUP BY 1""",
    "q74_argmax_pos" ->
      """SELECT s_nationkey,
         min(CASE WHEN s_acctbal = mx THEN pos END) AS argmax,
         min(CASE WHEN s_acctbal = mn THEN pos END) AS argmin
         FROM (SELECT s_nationkey, s_acctbal,
             row_number() OVER (ORDER BY s_suppkey) - 1 AS pos
           FROM supplier) s
         JOIN (SELECT s_nationkey AS nk, max(s_acctbal) AS mx,
             min(s_acctbal) AS mn FROM supplier GROUP BY 1) m
           ON s.s_nationkey = m.nk
         GROUP BY 1""",
    "q75_rank_pct" ->
      """SELECT s_suppkey,
         (rank() OVER (ORDER BY s_acctbal) +
          (count(*) OVER (PARTITION BY s_acctbal) - 1) / 2.0)
         / (count(*) OVER ()) AS rank_pct
         FROM supplier""",
    "q76_ufunc_battery" ->
      """SELECT l_orderkey, l_linenumber,
         round(sin(l_discount), 8) AS sin_d,
         round(cos(l_discount), 8) AS cos_d,
         round(tan(l_discount), 8) AS tan_d,
         round(atan(l_discount), 8) AS atan_d,
         round(exp(l_discount), 8) AS exp_d,
         round(ln(1 + l_discount), 8) AS log1p_d,
         round(exp(l_discount) - 1, 8) AS expm1_d,
         sqrt(l_quantity) AS sqrt_q,
         round(cbrt(l_quantity), 8) AS cbrt_q,
         round(pow(l_quantity, 1.5), 6) AS pow_q,
         round(sqrt(l_discount * l_discount + l_quantity * l_quantity), 8) AS hypot_dq,
         CASE WHEN l_discount - 0.05 > 0 THEN 1.0
              WHEN l_discount - 0.05 < 0 THEN -1.0 ELSE 0.0 END AS sign_d,
         floor(l_quantity / 7) AS floor_q,
         ceil(l_quantity / 7) AS ceil_q,
         round((exp(l_discount) - exp(-l_discount)) / 2, 8) AS sinh_d,
         round(ln(l_quantity + 1), 8) AS log_q1
         FROM lineitem""",
    "q77_cf_decode" ->
      """SELECT l_orderkey, l_linenumber,
         CASE WHEN enc_qty = -999 THEN NULL
              ELSE enc_qty * 0.5 + 0.0 END AS dec_qty,
         TIMESTAMP '1995-01-01' + to_days(CAST(enc_days AS INT)) AS dec_ship
         FROM (SELECT l_orderkey, l_linenumber,
             CASE WHEN l_returnflag = 'N' THEN -999
                  ELSE CAST(round(l_quantity / 0.5, 0) AS INT) END AS enc_qty,
             CAST(floor(CAST(epoch(l_shipdate) AS DOUBLE) / 86400
               - CAST(epoch(TIMESTAMP '1995-01-01') AS DOUBLE) / 86400) AS BIGINT)
               AS enc_days
           FROM lineitem)""",
    "q78_cross" ->
      """SELECT vec_id,
         round(CAST(embedding[2] AS DOUBLE) * CAST(embedding[6] AS DOUBLE)
             - CAST(embedding[3] AS DOUBLE) * CAST(embedding[5] AS DOUBLE), 8) + 0.0 AS cx,
         round(CAST(embedding[3] AS DOUBLE) * CAST(embedding[4] AS DOUBLE)
             - CAST(embedding[1] AS DOUBLE) * CAST(embedding[6] AS DOUBLE), 8) + 0.0 AS cy,
         round(CAST(embedding[1] AS DOUBLE) * CAST(embedding[5] AS DOUBLE)
             - CAST(embedding[2] AS DOUBLE) * CAST(embedding[4] AS DOUBLE), 8) + 0.0 AS cz
         FROM embeddings""",
    "q79_cumulative_integrate" ->
      """SELECT event_id, user_id,
         CAST(sum(CAST(term AS DECIMAL(38,4))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS cum_auc
         FROM (SELECT event_id, user_id, ts,
             (value + lag(value) OVER w) / 2 * (t - lag(t) OVER w) AS term
           FROM (SELECT *, CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS t FROM events)
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""",
    "q80_intersect_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997""",
    "q81_eval_assign" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1 - l_discount) AS disc_price,
         l_quantity > 25 AND l_discount < 0.05 AS flag
         FROM lineitem""",
    "q106_pad_stat" ->
      """WITH s AS (SELECT row_number() OVER (ORDER BY s_suppkey) - 1 AS pos,
                    s_acctbal AS v FROM supplier),
         mx AS (SELECT max(pos) AS mp FROM s),
         st AS (SELECT max(v) AS vmax, min(v) AS vmin,
                  CAST(sum(CAST(v AS DECIMAL(30,6))) AS DOUBLE) / count(v) AS vmean,
                  round(median(v), 6) AS vmedian,
                  max(CASE WHEN pos = 0 THEN v END) AS vfirst,
                  max(CASE WHEN pos = (SELECT mp FROM mx) THEN v END) AS vlast
                FROM s),
         g AS (SELECT unnest(generate_series(-3, (SELECT mp FROM mx) + 3)) AS pos)
         SELECT g.pos,
           coalesce(s.v, st.vmax) AS s_acctbal_maximum,
           coalesce(s.v, st.vmin) AS s_acctbal_minimum,
           coalesce(s.v, st.vmean) AS s_acctbal_mean,
           coalesce(s.v, st.vmedian) AS s_acctbal_median,
           CASE WHEN g.pos < 0
                  THEN st.vfirst * ((3 + g.pos) / CAST(3 AS DOUBLE))
                WHEN g.pos > (SELECT mp FROM mx)
                  THEN st.vlast * ((3 - (g.pos - (SELECT mp FROM mx)))
                                   / CAST(3 AS DOUBLE))
                ELSE s.v END AS s_acctbal_linear_ramp
         FROM g LEFT JOIN s ON s.pos = g.pos CROSS JOIN st""",
    "q105_dropna_thresh" ->
      """SELECT * FROM (
           SELECT user_id, date_trunc('day', ts) AS day,
             CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value END
               AS DECIMAL(30,6))) AS DOUBLE)
               / count(CASE WHEN event_type = 'click' THEN value END) AS v_click,
             CAST(sum(CAST(CASE WHEN event_type = 'view' THEN value END
               AS DECIMAL(30,6))) AS DOUBLE)
               / count(CASE WHEN event_type = 'view' THEN value END) AS v_view,
             CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value END
               AS DECIMAL(30,6))) AS DOUBLE)
               / count(CASE WHEN event_type = 'purchase' THEN value END) AS v_purchase
           FROM events GROUP BY 1, 2)
         WHERE (CASE WHEN v_click IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN v_view IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN v_purchase IS NOT NULL THEN 1 ELSE 0 END) >= 2""",
    "q104_rolling_median" ->
      """SELECT event_id, user_id,
         round(median(value) OVER w, 6) AS roll_med,
         (max(CASE WHEN value IS NOT NULL
                   THEN {'v': value, 'i': event_id} END) OVER w).i
           AS roll_idxmax
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",
    "q103_resample_origin" ->
      """SELECT make_timestamp(1704056400000000 +
           (CAST((x - (x % 21600000000)) / 21600000000 AS BIGINT) + 1)
           * 21600000000) AS w_end,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
         FROM (SELECT value,
                 epoch_us(CAST(ts AS TIMESTAMP)) - 1704056400000000 - 1 AS x
               FROM events)
         GROUP BY 1""",
    "q100_align_override" ->
      """SELECT a.n_nationkey, a.n_name, b.s_acctbal
         FROM (SELECT n_nationkey, n_name,
                 row_number() OVER (ORDER BY n_nationkey) AS rn FROM nation) a
         JOIN (SELECT s_acctbal, row_number() OVER (ORDER BY s_suppkey) AS rn
               FROM (SELECT * FROM supplier ORDER BY s_suppkey LIMIT 25)) b
         USING (rn)""",
    "q101_where_drop" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE value IS NOT NULL AND event_type <> 'error'""",
    "q102_combine_nested" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
         WHERE year(o_orderdate) = 1995""",
    "q97_store_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
           year(o_orderdate) AS o_year
         FROM orders
         WHERE year(o_orderdate) BETWEEN 1995 AND 1996""",
    "q98_sortby_positions" ->
      """SELECT s_suppkey, s_nationkey, s_acctbal,
           row_number() OVER (ORDER BY s_nationkey, s_acctbal DESC, s_suppkey)
             - 1 AS pos
         FROM supplier""",
    // makima: same extended-secant scaffolding as akima, with the
    // modified weights |d|+|avg| and no epsilon case
    "q107_interp_makima" ->
      """WITH kn0 AS (
           SELECT user_id, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS t,
                  CAST(value AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase'),
         n1 AS (
           SELECT user_id, t, y,
             lead(t) OVER w AS tp, lead(y) OVER w AS yp,
             (lead(y) OVER w - y) / (lead(t) OVER w - t) AS sp,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM kn0 WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         n2 AS (
           SELECT *, lag(sp) OVER w AS sm, lead(sp) OVER w AS spp,
             lag(sp, 2) OVER w AS smm
           FROM n1 WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         n3 AS (
           SELECT *,
             CASE WHEN sp IS NOT NULL THEN sp ELSE 2 * sm - smm END AS m2,
             CASE WHEN sm IS NOT NULL THEN sm ELSE 2 * sp - spp END AS m1
           FROM n2),
         n4 AS (
           SELECT *,
             CASE WHEN spp IS NOT NULL THEN spp
                  WHEN sp IS NOT NULL THEN 2 * sp - sm
                  ELSE 2 * m2 - sm END AS m3,
             CASE WHEN smm IS NOT NULL THEN smm
                  WHEN sm IS NOT NULL THEN 2 * sm - sp
                  ELSE 2 * m1 - sp END AS m0
           FROM n3),
         n5 AS (
           SELECT *,
             abs(m3 - m2) + abs((m3 + m2) / CAST(2 AS DOUBLE)) AS f1,
             abs(m1 - m0) + abs((m1 + m0) / CAST(2 AS DOUBLE)) AS f2,
             (abs(m3 - m2) + abs((m3 + m2) / CAST(2 AS DOUBLE)))
               + (abs(m1 - m0) + abs((m1 + m0) / CAST(2 AS DOUBLE))) AS f12
           FROM n4),
         sl AS (
           SELECT user_id, t, y, tp, yp,
             CASE WHEN n < 3 THEN coalesce(sp, sm, CAST(0 AS DOUBLE))
                  WHEN f12 = 0 THEN CAST(0 AS DOUBLE)
                  ELSE (f1 * m1 + f2 * m2) / f12 END AS d
           FROM n5),
         kn2 AS (
           SELECT user_id, t AS t0, y AS y0, d AS d0,
             tp AS t1, yp AS y1, lead(d) OVER w AS d1
           FROM sl WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         probes AS (
           SELECT u.user_id, CAST(epoch_us(g.ts) AS DOUBLE) AS tq
           FROM (SELECT DISTINCT user_id FROM kn0) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
                             INTERVAL 1 DAY)) g),
         m AS (
           SELECT p.user_id, p.tq, k.t0, k.y0, k.d0, k.t1, k.y1, k.d1
           FROM probes p ASOF LEFT JOIN kn2 k
           ON p.user_id = k.user_id AND p.tq >= k.t0)
         SELECT user_id, tq AS t_probe,
           CASE WHEN t0 IS NULL THEN NULL
                WHEN tq = t0 THEN y0
                WHEN t1 IS NULL THEN NULL
                ELSE y0 * ((1 + 2 * ((tq - t0) / (t1 - t0)))
                           * ((1 - (tq - t0) / (t1 - t0))
                              * (1 - (tq - t0) / (t1 - t0))))
                   + ((t1 - t0) * d0) * (((tq - t0) / (t1 - t0))
                           * ((1 - (tq - t0) / (t1 - t0))
                              * (1 - (tq - t0) / (t1 - t0))))
                   + y1 * ((((tq - t0) / (t1 - t0)) * ((tq - t0) / (t1 - t0)))
                           * (3 - 2 * ((tq - t0) / (t1 - t0))))
                   + ((t1 - t0) * d1) * ((((tq - t0) / (t1 - t0))
                              * ((tq - t0) / (t1 - t0)))
                           * (((tq - t0) / (t1 - t0)) - 1))
           END AS v_makima
         FROM m""",
    // Akima: extended-secant slopes mirrored per knot (virtuals at the
    // boundaries, data-dependent threshold = per-series window max),
    // then the same Hermite evaluation as pchip.
    "q96_interp_akima" ->
      """WITH kn0 AS (
           SELECT user_id, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS t,
                  CAST(value AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase'),
         n1 AS (
           SELECT user_id, t, y,
             lead(t) OVER w AS tp, lead(y) OVER w AS yp,
             (lead(y) OVER w - y) / (lead(t) OVER w - t) AS sp,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM kn0 WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         n2 AS (
           SELECT *, lag(sp) OVER w AS sm, lead(sp) OVER w AS spp,
             lag(sp, 2) OVER w AS smm
           FROM n1 WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         n3 AS (
           SELECT *,
             CASE WHEN sp IS NOT NULL THEN sp ELSE 2 * sm - smm END AS m2,
             CASE WHEN sm IS NOT NULL THEN sm ELSE 2 * sp - spp END AS m1
           FROM n2),
         n4 AS (
           SELECT *,
             CASE WHEN spp IS NOT NULL THEN spp
                  WHEN sp IS NOT NULL THEN 2 * sp - sm
                  ELSE 2 * m2 - sm END AS m3,
             CASE WHEN smm IS NOT NULL THEN smm
                  WHEN sm IS NOT NULL THEN 2 * sm - sp
                  ELSE 2 * m1 - sp END AS m0
           FROM n3),
         n5 AS (
           SELECT *, abs(m3 - m2) AS f1, abs(m1 - m0) AS f2,
             abs(m3 - m2) + abs(m1 - m0) AS f12
           FROM n4),
         n6 AS (
           SELECT *, max(f12) OVER (PARTITION BY user_id) AS f12max
           FROM n5),
         sl AS (
           SELECT user_id, t, y, tp, yp,
             CASE WHEN n < 3 THEN coalesce(sp, sm, CAST(0 AS DOUBLE))
                  WHEN f12 > 1e-9 * f12max THEN (f1 * m1 + f2 * m2) / f12
                  ELSE 0.5 * (m3 + m0) END AS d
           FROM n6),
         kn2 AS (
           SELECT user_id, t AS t0, y AS y0, d AS d0,
             tp AS t1, yp AS y1, lead(d) OVER w AS d1
           FROM sl WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         probes AS (
           SELECT u.user_id, CAST(epoch_us(g.ts) AS DOUBLE) AS tq
           FROM (SELECT DISTINCT user_id FROM kn0) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
                             INTERVAL 1 DAY)) g),
         m AS (
           SELECT p.user_id, p.tq, k.t0, k.y0, k.d0, k.t1, k.y1, k.d1
           FROM probes p ASOF LEFT JOIN kn2 k
           ON p.user_id = k.user_id AND p.tq >= k.t0)
         SELECT user_id, tq AS t_probe,
           CASE WHEN t0 IS NULL THEN NULL
                WHEN tq = t0 THEN y0
                WHEN t1 IS NULL THEN NULL
                ELSE y0 * ((1 + 2 * ((tq - t0) / (t1 - t0)))
                           * ((1 - (tq - t0) / (t1 - t0))
                              * (1 - (tq - t0) / (t1 - t0))))
                   + ((t1 - t0) * d0) * (((tq - t0) / (t1 - t0))
                           * ((1 - (tq - t0) / (t1 - t0))
                              * (1 - (tq - t0) / (t1 - t0))))
                   + y1 * ((((tq - t0) / (t1 - t0)) * ((tq - t0) / (t1 - t0)))
                           * (3 - 2 * ((tq - t0) / (t1 - t0))))
                   + ((t1 - t0) * d1) * ((((tq - t0) / (t1 - t0))
                              * ((tq - t0) / (t1 - t0)))
                           * (((tq - t0) / (t1 - t0)) - 1))
           END AS v_akima
         FROM m""",
    // PCHIP: slopes are local window expressions (no recursion needed);
    // the oracle mirrors the Fritsch–Carlson slope CASE and the Hermite
    // basis evaluation with the engine's exact float op order.
    "q93_interp_pchip" ->
      """WITH kn AS (
           SELECT user_id, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS t,
                  CAST(value AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase'),
         n1 AS (
           SELECT user_id, t, y,
             lag(t) OVER w AS tm, lag(y) OVER w AS ym,
             lead(t) OVER w AS tp, lead(y) OVER w AS yp,
             lead(t, 2) OVER w AS tpp, lead(y, 2) OVER w AS ypp,
             lag(t, 2) OVER w AS tmm, lag(y, 2) OVER w AS ymm
           FROM kn WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         hd AS (
           SELECT *, t - tm AS hm, tp - t AS hn,
             (y - ym) / (t - tm) AS dm, (yp - y) / (tp - t) AS dn,
             tpp - tp AS h1n, (ypp - yp) / (tpp - tp) AS d1n,
             tm - tmm AS h1m, (ym - ymm) / (tm - tmm) AS d1m
           FROM n1),
         sl AS (
           SELECT user_id, t, y,
             CASE
               WHEN tm IS NULL AND tp IS NULL THEN CAST(0 AS DOUBLE)
               WHEN tm IS NULL AND tpp IS NULL THEN dn
               WHEN tm IS NULL THEN
                 CASE WHEN sign(((2 * hn + h1n) * dn - hn * d1n) / (hn + h1n))
                           <> sign(dn) THEN CAST(0 AS DOUBLE)
                      WHEN sign(dn) <> sign(d1n)
                           AND abs(((2 * hn + h1n) * dn - hn * d1n) / (hn + h1n))
                               > 3 * abs(dn) THEN 3 * dn
                      ELSE ((2 * hn + h1n) * dn - hn * d1n) / (hn + h1n) END
               WHEN tp IS NULL AND tmm IS NULL THEN dm
               WHEN tp IS NULL THEN
                 CASE WHEN sign(((2 * hm + h1m) * dm - hm * d1m) / (hm + h1m))
                           <> sign(dm) THEN CAST(0 AS DOUBLE)
                      WHEN sign(dm) <> sign(d1m)
                           AND abs(((2 * hm + h1m) * dm - hm * d1m) / (hm + h1m))
                               > 3 * abs(dm) THEN 3 * dm
                      ELSE ((2 * hm + h1m) * dm - hm * d1m) / (hm + h1m) END
               WHEN (dm > 0 AND dn > 0) OR (dm < 0 AND dn < 0)
                 THEN ((2 * hn + hm) + (hn + 2 * hm))
                      / ((2 * hn + hm) / dm + (hn + 2 * hm) / dn)
               ELSE CAST(0 AS DOUBLE) END AS d
           FROM hd),
         kn2 AS (
           SELECT user_id, t AS t0, y AS y0, d AS d0,
             lead(t) OVER w AS t1, lead(y) OVER w AS y1, lead(d) OVER w AS d1
           FROM sl WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         probes AS (
           SELECT u.user_id, CAST(epoch_us(g.ts) AS DOUBLE) AS tq
           FROM (SELECT DISTINCT user_id FROM kn) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
                             INTERVAL 1 DAY)) g),
         m AS (
           SELECT p.user_id, p.tq, k.t0, k.y0, k.d0, k.t1, k.y1, k.d1
           FROM probes p ASOF LEFT JOIN kn2 k
           ON p.user_id = k.user_id AND p.tq >= k.t0)
         SELECT user_id, tq AS t_probe,
           CASE WHEN t0 IS NULL THEN NULL
                WHEN tq = t0 THEN y0
                WHEN t1 IS NULL THEN NULL
                ELSE y0 * ((1 + 2 * ((tq - t0) / (t1 - t0)))
                           * ((1 - (tq - t0) / (t1 - t0))
                              * (1 - (tq - t0) / (t1 - t0))))
                   + ((t1 - t0) * d0) * (((tq - t0) / (t1 - t0))
                           * ((1 - (tq - t0) / (t1 - t0))
                              * (1 - (tq - t0) / (t1 - t0))))
                   + y1 * ((((tq - t0) / (t1 - t0)) * ((tq - t0) / (t1 - t0)))
                           * (3 - 2 * ((tq - t0) / (t1 - t0))))
                   + ((t1 - t0) * d1) * ((((tq - t0) / (t1 - t0))
                              * ((tq - t0) / (t1 - t0)))
                           * (((tq - t0) / (t1 - t0)) - 1))
           END AS v_pchip
         FROM m""",
    // Natural cubic spline: the oracle REPLAYS the engine's exact numeric
    // path — tridiagonal setup, Thomas forward sweep and back substitution
    // as recursive CTEs (IEEE op order mirrored), then the same evaluate()
    // expression per probe. NULL outside the knot range (no extrapolation).
    "q89_spline_cubic" ->
      """WITH RECURSIVE kn AS (
           SELECT user_id,
                  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS t,
                  CAST(value AS DOUBLE) AS y,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts) AS i,
                  count(*) OVER (PARTITION BY user_id) AS n
           FROM events WHERE event_type = 'purchase'),
         pre AS (
           SELECT user_id, i, n, t, y,
             CASE WHEN i > 1 AND i < n THEN t - lag(t) OVER w
                  ELSE CAST(0 AS DOUBLE) END AS a,
             CASE WHEN i > 1 AND i < n
                  THEN 2 * ((t - lag(t) OVER w) + (lead(t) OVER w - t))
                  ELSE CAST(1 AS DOUBLE) END AS b0,
             CASE WHEN i > 1 AND i < n THEN lead(t) OVER w - t
                  ELSE CAST(0 AS DOUBLE) END AS c,
             CASE WHEN i > 1 AND i < n
                  THEN 6 * ((lead(y) OVER w - y) / (lead(t) OVER w - t)
                            - (y - lag(y) OVER w) / (t - lag(t) OVER w))
                  ELSE CAST(0 AS DOUBLE) END AS d0
           FROM kn
           WINDOW w AS (PARTITION BY user_id ORDER BY i)),
         fwd AS (
           SELECT user_id, i, n, b0 AS b, d0 AS d, c FROM pre WHERE i = 1
           UNION ALL
           SELECT p.user_id, p.i, p.n,
                  p.b0 - (p.a / f.b) * f.c,
                  p.d0 - (p.a / f.b) * f.d,
                  p.c
           FROM fwd f JOIN pre p ON p.user_id = f.user_id AND p.i = f.i + 1),
         bk AS (
           SELECT user_id, i, d / b AS m FROM fwd WHERE i = n
           UNION ALL
           SELECT f.user_id, f.i, (f.d - f.c * bk.m) / f.b
           FROM bk JOIN fwd f ON f.user_id = bk.user_id AND f.i = bk.i - 1),
         probes AS (
           SELECT u.user_id, CAST(epoch_us(g.ts) AS DOUBLE) AS tp
           FROM (SELECT DISTINCT user_id FROM kn) u
           CROSS JOIN (SELECT generate_series AS ts FROM
             generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
                             INTERVAL 1 DAY)) g),
         loc AS (
           SELECT p.user_id, p.tp,
             (SELECT max(k.i) FROM kn k
              WHERE k.user_id = p.user_id AND k.t <= p.tp) AS ji,
             (SELECT max(k.n) FROM kn k WHERE k.user_id = p.user_id) AS n,
             (SELECT max(k.t) FROM kn k WHERE k.user_id = p.user_id) AS tmax
           FROM probes p)
         SELECT l.user_id, l.tp AS t_probe,
           CASE WHEN l.ji IS NULL OR l.tp > l.tmax THEN NULL
                ELSE ((k1.t - l.tp) / (k1.t - k0.t)) * k0.y
                     + ((l.tp - k0.t) / (k1.t - k0.t)) * k1.y
                     + ((((k1.t - l.tp) / (k1.t - k0.t))
                          * ((k1.t - l.tp) / (k1.t - k0.t))
                          * ((k1.t - l.tp) / (k1.t - k0.t))
                          - (k1.t - l.tp) / (k1.t - k0.t)) * m0.m
                        + (((l.tp - k0.t) / (k1.t - k0.t))
                          * ((l.tp - k0.t) / (k1.t - k0.t))
                          * ((l.tp - k0.t) / (k1.t - k0.t))
                          - (l.tp - k0.t) / (k1.t - k0.t)) * m1.m)
                       * (k1.t - k0.t) * (k1.t - k0.t) / 6.0
           END AS v_cubic
         FROM loc l
         LEFT JOIN kn k0 ON k0.user_id = l.user_id AND k0.i = least(l.ji, l.n - 1)
         LEFT JOIN kn k1 ON k1.user_id = l.user_id AND k1.i = least(l.ji, l.n - 1) + 1
         LEFT JOIN bk m0 ON m0.user_id = l.user_id AND m0.i = least(l.ji, l.n - 1)
         LEFT JOIN bk m1 ON m1.user_id = l.user_id AND m1.i = least(l.ji, l.n - 1) + 1""",
    // Weighted type-7 quantile: plotting positions h_i = (c_i - w_i) /
    // (W - w_i) over the (value, weight)-sorted rows, linear lerp at q.
    // Cumulative c and the bracketing/lerp mirror the Aggregator's exact
    // float op order; W = max(c) (the same left-fold total, NOT a re-sum).
    "q85_weighted_quantile" ->
      """WITH s0 AS (
           SELECT l_returnflag AS g, l_extendedprice AS v, l_quantity AS w
           FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_quantity > 0),
         s AS (
           SELECT g, v, w,
             row_number() OVER (PARTITION BY g ORDER BY v, w) AS rn,
             sum(w) OVER (PARTITION BY g ORDER BY v, w
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM s0),
         s2 AS (
           SELECT g, v, w, rn, c,
             max(c) OVER (PARTITION BY g) AS totw,
             max(rn) OVER (PARTITION BY g) AS n
           FROM s),
         h AS (
           SELECT g, v, rn, n,
             CASE WHEN totw = w THEN CAST(0 AS DOUBLE)
                  ELSE (c - w) / (totw - w) END AS h
           FROM s2),
         j AS (
           SELECT g, max(CASE WHEN h <= CAST(0.5 AS DOUBLE) THEN rn END) AS j,
                  max(n) AS n
           FROM h GROUP BY g)
         SELECT j.g AS l_returnflag,
           CASE WHEN j.j >= j.n THEN hl.v
                WHEN h1.h = h0.h THEN h0.v
                ELSE h0.v + (CAST(0.5 AS DOUBLE) - h0.h) / (h1.h - h0.h)
                            * (h1.v - h0.v)
           END AS wq50
         FROM j
         LEFT JOIN h h0 ON h0.g = j.g AND h0.rn = j.j
         LEFT JOIN h h1 ON h1.g = j.g AND h1.rn = j.j + 1
         LEFT JOIN h hl ON hl.g = j.g AND hl.rn = j.n""",
    "q86_drop_duplicates" ->
      """SELECT c_mktsegment, c_nationkey, min(c_custkey) AS c_custkey
         FROM customer GROUP BY 1, 2""",
    "q87_update" ->
      """SELECT c_custkey AS custkey, coalesce(bal_new, c_acctbal) AS bal
         FROM customer LEFT JOIN (
           SELECT o_custkey, max(o_totalprice) AS bal_new
           FROM orders GROUP BY 1) o ON c_custkey = o.o_custkey""",
    "q88_rolling_2d" ->
      """WITH grid AS (
           SELECT user_id % 12 AS i, day(ts) AS j,
             CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
           FROM events GROUP BY 1, 2),
         contrib AS (
           SELECT i + di AS ci, j + dj AS cj, v
           FROM grid,
           LATERAL (SELECT unnest([-1, 0, 1]) AS di),
           LATERAL (SELECT unnest([-1, 0, 1]) AS dj))
         SELECT c.ci AS i, c.cj AS j, count(*) AS n_window,
           CAST(sum(CAST(v AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS win_mean
         FROM contrib c JOIN (SELECT DISTINCT i, j FROM grid) g
           ON c.ci = g.i AND c.cj = g.j
         GROUP BY 1, 2""",
    "q91_cumprod" ->
      """SELECT l_orderkey, l_linenumber,
         round(exp(CAST(sum(CAST(ln(1.0 - l_discount) AS DECIMAL(30,12)))
           OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey,
                   l_suppkey, l_quantity, l_extendedprice, l_discount
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 8)
           AS cumprod_keep
         FROM lineitem""",
    "q82_mfopen_combine" ->
      """SELECT r_regionkey, r_name FROM region""",
    "q83_interp_nearest" ->
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
           CASE WHEN t0 IS NULL THEN y1
                WHEN t1 IS NULL THEN y0
                WHEN epoch_us(b.ts) - epoch_us(t0)
                     <= epoch_us(t1) - epoch_us(b.ts) THEN y0
                ELSE y1 END AS v_nearest
         FROM back b JOIN fwd f ON b.user_id = f.user_id AND b.ts = f.ts""",
    "q84_polyfit2" ->
      """SELECT l_returnflag,
         round((t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - s3 * t2)
            + s2 * (t1 * s3 - s2 * t2)) / det, 4) + 0.0 AS c0,
         round((s0 * (t1 * s4 - t2 * s3) - t0 * (s1 * s4 - s3 * s2)
            + s2 * (s1 * t2 - t1 * s2)) / det, 4) + 0.0 AS c1,
         round((s0 * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s3 * t0)
            + t0 * (s1 * s3 - s2 * s2)) / det, 6) + 0.0 AS c2
         FROM (SELECT *,
             s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
               + s2 * (s1 * s3 - s2 * s2) AS det
           FROM (SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS s0,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s2,
             CAST(sum(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS s3,
             CAST(sum(CAST(l_quantity * l_quantity * l_quantity * l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS s4,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS t0,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS t1,
             CAST(sum(CAST(l_quantity * l_quantity * l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS t2
             FROM lineitem GROUP BY 1))""",
    "q129_ufunc_battery2" ->
      """SELECT l_orderkey, l_linenumber,
         round(asin(l_discount), 8) AS asin_d,
         round(acos(l_discount), 8) AS acos_d,
         round(atan2(l_discount, l_quantity), 8) AS atan2_dq,
         round((exp(l_discount) + exp(-l_discount)) / 2, 8) AS cosh_d,
         round((exp(l_discount * 2) - 1) / (exp(l_discount * 2) + 1), 8) AS tanh_d,
         round(ln(l_quantity + sqrt(l_quantity * l_quantity + 1)), 8) AS asinh_q,
         round(ln(l_quantity + 1 +
           sqrt((l_quantity + 1) * (l_quantity + 1) - 1)), 8) AS acosh_q1,
         round(ln((l_discount + 1) / (1.0 - l_discount)) / 2, 8) AS atanh_d,
         round(degrees(l_discount), 8) AS deg_d,
         round(radians(l_quantity), 8) AS rad_q,
         round(log2(l_quantity), 8) AS log2_q,
         round(log10(l_quantity), 8) AS log10_q,
         round(pow(2.0, l_discount), 8) AS exp2_d,
         1.0 / (l_discount + 1) AS recip_d,
         l_discount * l_discount AS square_d,
         fmod(l_quantity, 7.0) AS mod_q7,
         trunc(l_quantity / 7 * 3) AS trunc_q
         FROM lineitem""",
    "q134_cumprod_signed" ->
      """SELECT l_orderkey, l_linenumber,
           round(product((l_quantity - 25.0) / 10.0) OVER w, 8) + 0.0
             AS cumprod_f
         FROM lineitem
         WINDOW w AS (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
             l_extendedprice, l_discount
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",
    "q130_einsum3" ->
      """WITH a AS (SELECT l_orderkey % 50 AS i, l_linenumber AS k,
             count(*) AS va FROM lineitem GROUP BY 1, 2),
         b AS (SELECT CAST(p_partkey % 7 + 1 AS INT) AS k, p_size % 10 AS j,
             count(*) AS vb FROM part GROUP BY 1, 2),
         c AS (SELECT c_custkey % 10 AS j, count(*) AS vc
             FROM customer GROUP BY 1)
         SELECT i, CAST(sum(va * vb * vc) AS DOUBLE) AS dot3
         FROM a JOIN b USING (k) JOIN c USING (j)
         GROUP BY i""",
    // native ASOF JOIN replay, same (user, ts) dedupe and 7-day fence
    "q307_last_touch" ->
      """WITH tch AS (
           SELECT user_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id, ts
               ORDER BY event_id DESC) AS rn
           FROM events
           WHERE event_type IN ('click', 'view', 'signup')),
         t1 AS (SELECT user_id, ts, event_type FROM tch WHERE rn = 1),
         conv AS (SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
         j AS (
           SELECT c.value,
             CASE WHEN t.ts IS NOT NULL AND c.ts - t.ts <= INTERVAL 7 DAY
                  THEN t.event_type ELSE '(none)' END AS attributed
           FROM conv c ASOF LEFT JOIN t1 t
             ON c.user_id = t.user_id AND c.ts >= t.ts)
         SELECT attributed, count(*) AS n_conv,
           CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS rev
         FROM j GROUP BY 1""",

    "q308_event_paths" ->
      """WITH o AS (
           SELECT event_type,
             lead(event_type, 1) OVER w AS l1,
             lead(event_type, 2) OVER w AS l2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT event_type || '>' || l1 || '>' || l2 AS path,
           count(*) AS n
         FROM o WHERE l2 IS NOT NULL
         GROUP BY 1 ORDER BY n DESC, path LIMIT 10""",

    // MERGE replay: same derived changelog, row_number() pick = the
    // max-struct winner (seq unique per key), anti-join + union
    "q310_changelog_merge" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_c
           FROM orders),
         chg AS (SELECT
             CASE WHEN l_linenumber = 7 THEN l_orderkey + 600000000
                  ELSE l_orderkey END AS o_orderkey,
             l_linenumber AS seq,
             CASE WHEN l_linenumber = 7 THEN 'I'
                  WHEN l_quantity < 10 THEN 'D' ELSE 'U' END AS op,
             l_suppkey AS o_custkey,
             'U' AS o_orderstatus,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS totalprice_c
           FROM lineitem WHERE l_linenumber >= 4),
         win AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
             ORDER BY seq DESC, op DESC, o_custkey DESC,
               o_orderstatus DESC, totalprice_c DESC) AS rn FROM chg),
         w1 AS (SELECT * FROM win WHERE rn = 1)
         SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.totalprice_c
         FROM snap s LEFT JOIN w1 ON s.o_orderkey = w1.o_orderkey
         WHERE w1.o_orderkey IS NULL
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, totalprice_c
         FROM w1 WHERE op <> 'D'""",

    // roundtrip integrity oracle reads the ORIGINAL parquet — equality
    // proves the JSONL write+read preserved every field bit-exactly
    "q311_jsonl_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS len_sum,
           CAST(sum(list_reduce(list_transform(
               string_split(substr(md5(text), 1, 7), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b)) AS BIGINT) AS text_key_sum
         FROM documents GROUP BY 1""",

    // histogram replay: same truncating-div bins, same prefix, same
    // ceil-rank targets and ppm interpolation
    "q312_histogram_quantile" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
             // 500000 AS bin FROM lineitem),
         b AS (SELECT bin, count(*) AS cnt FROM v GROUP BY 1),
         c AS (SELECT *, CAST(sum(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum FROM b),
         p AS (SELECT *, cum - cnt AS prev,
             (SELECT CAST(sum(cnt) AS BIGINT) FROM b) AS n FROM c),
         q AS (SELECT unnest([25, 50, 75, 90, 99]) AS q_pct),
         t AS (SELECT q.q_pct, p.*, (q.q_pct * p.n + 99) // 100 AS target
           FROM q CROSS JOIN p),
         pick AS (SELECT *, row_number() OVER (PARTITION BY q_pct
             ORDER BY bin) AS rk FROM t WHERE cum >= target)
         SELECT q_pct, target AS target_rank, bin, bin * 500000 AS lo,
           bin * 500000 * 1000000
             + (500000 * (target - prev) * 1000000) // cnt AS est_ppm
         FROM pick WHERE rk = 1""",

    // KMV replay: same md5-prefix keys, same bottom-64 windows, same
    // truncating-div estimates
    "q313_kmv_set_ops" ->
      """WITH tk AS (SELECT DISTINCT source AS s,
             list_reduce(list_transform(
                 string_split(substr(md5(tok), 1, 7), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) AS h
           FROM (SELECT source,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             FROM documents)
           WHERE tok <> ''),
         sig AS (SELECT s, h FROM (SELECT *, row_number() OVER (
               PARTITION BY s ORDER BY h) AS rk FROM tk) WHERE rk <= 64),
         pr AS (SELECT a.s AS s1, b.s AS s2
           FROM (SELECT DISTINCT s FROM sig) a,
                (SELECT DISTINCT s FROM sig) b
           WHERE a.s < b.s),
         u AS (SELECT s1, s2, h, count(DISTINCT s) = 2 AS in_both FROM (
             SELECT pr.s1, pr.s2, g.s, g.h FROM pr JOIN sig g ON g.s = pr.s1
             UNION ALL
             SELECT pr.s1, pr.s2, g.s, g.h FROM pr JOIN sig g ON g.s = pr.s2)
           GROUP BY 1, 2, 3),
         rk AS (SELECT *, row_number() OVER (PARTITION BY s1, s2
             ORDER BY h) AS rk FROM u),
         agg AS (SELECT s1, s2, CAST(count(*) AS BIGINT) AS m,
             CAST(max(h) AS BIGINT) AS hk,
             CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both
           FROM rk WHERE rk <= 64 GROUP BY 1, 2)
         SELECT s1, s2, m, hk, n_both,
           CASE WHEN m < 64 THEN m
                ELSE (CAST(63 AS BIGINT) * 268435456) // hk END AS union_est,
           n_both * 1000000 // m AS jaccard_ppm,
           n_both * (CASE WHEN m < 64 THEN m
                     ELSE (CAST(63 AS BIGINT) * 268435456) // hk END) // m AS inter_est
         FROM agg""",

    // RFM replay: epoch-second recency via the same truncating div,
    // quantile_cont (= H&F-7 = Spark percentile) quartiles, identical
    // score comparisons
    "q323_rfm_segments" ->
      """WITH per AS (SELECT user_id,
             CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
             count(*) AS f,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(round(value * 100) AS BIGINT) END), 0)
               AS BIGINT) AS m
           FROM events GROUP BY 1),
         a AS (SELECT max(last_us) AS anchor FROM per),
         rfm AS (SELECT user_id, (a.anchor - per.last_us) // 1000000 AS r,
             f, m FROM per CROSS JOIN a),
         q AS (SELECT
             quantile_cont(r, 0.25) AS r1, quantile_cont(r, 0.5) AS r2,
             quantile_cont(r, 0.75) AS r3,
             quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2,
             quantile_cont(f, 0.75) AS f3,
             quantile_cont(m, 0.25) AS m1, quantile_cont(m, 0.5) AS m2,
             quantile_cont(m, 0.75) AS m3
           FROM rfm),
         sc AS (SELECT
             5 - (1 + CAST(r > q.r1 AS INT) + CAST(r > q.r2 AS INT)
                  + CAST(r > q.r3 AS INT)) AS rs,
             1 + CAST(f > q.f1 AS INT) + CAST(f > q.f2 AS INT)
               + CAST(f > q.f3 AS INT) AS fs,
             1 + CAST(m > q.m1 AS INT) + CAST(m > q.m2 AS INT)
               + CAST(m > q.m3 AS INT) AS ms,
             m
           FROM rfm CROSS JOIN q)
         SELECT rs || '' || fs || '' || ms AS segment,
           count(*) AS n_users, CAST(sum(m) AS BIGINT) AS monetary_c
         FROM sc GROUP BY 1""",

    // SCD2 replay: same changelog, lead() over the identical
    // (seq, op, payload...) total order
    "q315_scd2_history" ->
      """WITH chg AS (SELECT
             CASE WHEN l_linenumber = 7 THEN l_orderkey + 600000000
                  ELSE l_orderkey END AS o_orderkey,
             l_linenumber AS seq,
             CASE WHEN l_linenumber = 7 THEN 'I'
                  WHEN l_quantity < 10 THEN 'D' ELSE 'U' END AS op,
             l_suppkey AS o_custkey,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS totalprice_c
           FROM lineitem WHERE l_linenumber >= 4),
         v AS (SELECT *, lead(seq, 1) OVER (PARTITION BY o_orderkey
             ORDER BY seq, op, o_custkey, totalprice_c) AS valid_to
           FROM chg)
         SELECT o_orderkey, o_custkey, totalprice_c,
           seq AS valid_from, valid_to, valid_to IS NULL AS is_current
         FROM v WHERE op <> 'D'""",

    // URL canonicalization replay: the same parse + filter + sort
    // pipeline in DuckDB string/list functions
    "q316_url_dedup" ->
      """WITH u AS (SELECT 'HTTP://Shop' || (o_custkey % 5) ||
             '.Example.COM' ||
             CASE WHEN o_orderkey % 2 = 0 THEN ':80' ELSE '' END ||
             '/item/' || (o_orderkey % 1000) ||
             CASE WHEN o_orderkey % 3 = 0 THEN '/' ELSE '' END ||
             '?utm_source=x&ref=' || (o_custkey % 7) || '&b=2&a=1' ||
             CASE WHEN o_orderkey % 5 = 0 THEN '#sec' ELSE '' END AS url
           FROM orders),
         c AS (SELECT
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1))
               AS hostport,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
               AS rawpath,
             regexp_extract(url, '\?([^#]*)', 1) AS rawq
           FROM u),
         k AS (SELECT scheme || '://' ||
             (CASE WHEN scheme = 'http'
                   THEN regexp_replace(hostport, ':80$', '')
                   WHEN scheme = 'https'
                   THEN regexp_replace(hostport, ':443$', '')
                   ELSE hostport END) ||
             (CASE WHEN rawpath IN ('', '/') THEN '/'
                   ELSE regexp_replace(rawpath, '/+$', '') END) ||
             (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon
           FROM (SELECT *, array_to_string(list_sort(list_filter(
                 string_split(rawq, '&'),
                 p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS q
             FROM c)),
         g AS (SELECT canon, count(*) AS n_raw FROM k GROUP BY 1)
         SELECT regexp_extract(canon, '://([^/]+)', 1) AS host,
           count(*) AS n_canonical,
           CAST(sum(n_raw) AS BIGINT) AS n_urls
         FROM g GROUP BY 1""",

    // linear attribution replay: direct range join (fine at oracle
    // scale), per-conversion touch counts, ppm truncating-div credit,
    // untouched conversions to the (none) bucket at full value
    "q314_linear_attribution" ->
      """WITH conv AS (SELECT event_id AS conv_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS value_c
           FROM events WHERE event_type = 'purchase'),
         tch AS (SELECT user_id, ts, event_type FROM events
           WHERE event_type IN ('click', 'view', 'signup')),
         m AS (SELECT c.conv_id, c.value_c, t.event_type
           FROM conv c JOIN tch t ON c.user_id = t.user_id
             AND t.ts >= c.ts - INTERVAL 7 DAY AND t.ts <= c.ts),
         n AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS nt
           FROM m GROUP BY 1),
         cr AS (SELECT m.event_type AS attributed,
             m.value_c * 1000000 // n.nt AS credit
           FROM m JOIN n USING (conv_id))
         SELECT attributed, count(*) AS n_touch,
           CAST(sum(CAST(credit AS HUGEINT)) AS BIGINT) AS credit_ppm
         FROM cr GROUP BY 1
         UNION ALL
         SELECT '(none)' AS attributed, count(*) AS n_touch,
           CAST(sum(CAST(value_c AS HUGEINT)) * 1000000 AS BIGINT)
             AS credit_ppm
         FROM conv WHERE conv_id NOT IN (SELECT conv_id FROM m)
         HAVING count(*) > 0""",

    // funnel replay: the same chained conditional-min prefix tables
    "q270_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t_view FROM events
             WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t_click
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t_view GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
           GROUP BY 1)
         SELECT s1.user_id, t_view, t_click, t_purchase,
           1 + CAST(t_click IS NOT NULL AS INT)
             + CAST(t_purchase IS NOT NULL AS INT) AS stages_reached
         FROM s1 LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)""",
    // sessionization replay: same lag flag + running sum + per-session
    // stats; tie-order inside a user is irrelevant (equal timestamps
    // produce the same flags and session ids either way)
    "q271_sessions" ->
      """WITH o AS (SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                 (PARTITION BY user_id ORDER BY ts)) >= 1800000000
               THEN 1 ELSE 0 END AS nw
           FROM events),
         s AS (SELECT user_id, ts,
             CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
           FROM o)
         SELECT user_id, session_seq, min(ts) AS t_start,
           max(ts) AS t_end, count(*) AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
             AS duration_sec
         FROM s GROUP BY 1, 2""",
    // cohort replay: first-signup day cohorts, distinct active weeks,
    // exact-ppm share
    "q272_cohort_retention" ->
      """WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
           FROM events WHERE event_type = 'signup' GROUP BY 1),
         sz AS (SELECT cohort_day, count(*) AS n_cohort FROM f GROUP BY 1),
         a AS (SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7
               AS week_offset
           FROM events e JOIN f USING (user_id)
           WHERE datediff('day', f.cohort_day, CAST(e.ts AS DATE)) >= 0),
         c AS (SELECT cohort_day, week_offset, count(*) AS n_active
           FROM a GROUP BY 1, 2)
         SELECT c.cohort_day, c.week_offset, n_cohort, n_active,
           (n_active * 1000000) // n_cohort AS retained_ppm
         FROM c JOIN sz USING (cohort_day)""",
    // transition replay: same lead order, same integer shares
    "q274_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n FROM p
           WHERE to_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
           FROM c GROUP BY 1)
         SELECT c.from_type, c.to_type, c.n,
           (c.n * 1000000) // t.tot AS p_ppm
         FROM c JOIN t USING (from_type)""",
    // argsort replay: two stable row_numbers
    "q277_argsort" ->
      """WITH s AS (SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) - 1 AS pos
           FROM events WHERE event_type = 'purchase')
         SELECT user_id,
           row_number() OVER (PARTITION BY user_id ORDER BY value, pos) - 1
             AS k,
           pos AS idx
         FROM s""",
    // searchsorted replay: strictly-smaller counts per literal probe
    "q278_searchsorted" ->
      """SELECT user_id, t,
           CAST(sum(CASE WHEN value < t THEN 1 ELSE 0 END) AS BIGINT)
             AS insert_idx
         FROM events, (SELECT unnest([0.0, 100.0, 250.0, 400.0, 500.0])
                       AS t)
         WHERE event_type = 'purchase'
         GROUP BY 1, 2""",
    // interval-join replay: q271's session CTEs + a BETWEEN containment
    // join (the oracle can afford the naive form)
    "q282_interval_join" ->
      """WITH o AS (SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                 (PARTITION BY user_id ORDER BY ts)) >= 1800000000
               THEN 1 ELSE 0 END AS nw
           FROM events),
         s AS (SELECT user_id, event_id, ts,
             CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
           FROM o),
         sess AS (SELECT user_id, session_seq, min(ts) AS t_start,
             max(ts) AS t_end
           FROM s GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, sess.session_seq
         FROM events e JOIN sess ON e.user_id = sess.user_id
           AND e.ts >= sess.t_start AND e.ts <= sess.t_end""",
    // Holt replay: the integer recursion stepped by a recursive CTE —
    // // and Spark's div share truncation, including on negative trends
    "q276_holt_smooth" ->
      """WITH RECURSIVE s AS (SELECT user_id,
             CAST(round(value * 1000000, 0) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events
           WHERE event_type = 'purchase' AND value IS NOT NULL),
         r AS (
           SELECT user_id, rn, y AS l, CAST(0 AS BIGINT) AS b
           FROM s WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.rn,
             (s.y + (r.l + r.b)) // 2 AS l,
             (((s.y + (r.l + r.b)) // 2) - r.l + 4 * r.b) // 5 AS b
           FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         SELECT user_id, rn, l AS level_e, b AS trend_e,
           l + b AS fitted_e
         FROM r"""
  )
}
