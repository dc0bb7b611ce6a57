package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.XDataset
import graft.model.XDataset.{exactAvg, exactSum}
import graft.io.Tables
import graft.align.{Align, AsOf}
import graft.agg.Groupers

/** Alignment / implicit-join operator queries (SURVEY.md §2.3): align modes,
  * reindex, broadcast binary ops, merge, combine_first, as-of joins. */
object QueriesAlign extends QueryFamily {

  private def custPerNation(s: SparkSession, dir: String): XDataset =
    XDataset(
      Tables.customer(s, dir)
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust")),
      dims = Seq("nationkey"))

  private def suppPerNation(s: SparkSession, dir: String): XDataset =
    XDataset(
      Tables.supplier(s, dir)
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp")),
      dims = Seq("nationkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // align(join="inner") + arithmetic (ref `structure/alignment.py:763`)
    "q10_align_inner" -> ((s, dir) => {
      Align.binaryOp(custPerNation(s, dir), suppPerNation(s, dir), "inner") { j =>
        Seq(col("n_cust"), col("n_supp"), (col("n_cust") - col("n_supp")).as("diff"))
      }
    }),

    // align(join="left"/"right") — the remaining two alignment modes (ref
    // `alignment.py` join options): left keeps the customer label set,
    // right the supplier one; the unmatched side stays NULL (no fill)
    "q250_align_left_right" -> ((s, dir) => {
      val cust = custPerNation(s, dir)
      val supp = suppPerNation(s, dir)
      def aligned(how: String): DataFrame =
        Align.binaryOp(cust, supp, how) { _ => Seq(col("n_cust"), col("n_supp")) }
          .withColumn("mode", lit(how))
      aligned("left").unionByName(aligned("right"))
    }),

    // align(join="outer") with fill_value (ref `alignment.py` fill_value)
    "q11_align_outer" -> ((s, dir) => {
      Align.binaryOp(custPerNation(s, dir), suppPerNation(s, dir), "outer") { j =>
        Seq(coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      }
    }),

    // reindex onto a generated label grid, missing -> fill (ref `dataset.py:3546`)
    "q12_reindex_time" -> ((s, dir) => {
      val buckets = Groupers.timeBuckets(s, "1995-01-01 00:00:00",
        "2001-08-01 00:00:00", "1 day", "day")
      val daily = Tables.orders(s, dir)
        .groupBy(date_trunc("DAY", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("rev"))
      Align.reindex(buckets, XDataset(daily, Seq("day")),
        fill = Map("n" -> 0L, "rev" -> 0.0))
    }),

    // broadcasting binary op: 1-D var over 2-D grid via shared-dim join
    // (ref `variable.py:2447` _binary_op -> broadcast_compat_data)
    "q13_broadcast_binop" -> ((s, dir) => {
      val line = QueriesCore.li(s, dir)
        .assign("line_rev", col("l_extendedprice") * (lit(1) - col("l_discount")))
      val orderRev = XDataset(
        line.df.groupBy("l_orderkey")
          .agg(exactSum(col("line_rev"), scale = 6).as("order_rev")),
        dims = Seq("l_orderkey"))
      Align.binaryOp(line.selectVars("line_rev"), orderRev, "inner") { _ =>
        Seq(col("l_linenumber"), (col("line_rev") / col("order_rev")).as("rev_share"))
      }
    }),

    // merge: combine variable sets over one dim namespace (ref `merge.py:855`)
    "q14_merge_outer" -> ((s, dir) => {
      val bal = XDataset(
        Tables.customer(s, dir)
          .select(col("c_custkey").as("custkey"), col("c_acctbal")),
        dims = Seq("custkey"))
      val nOrd = XDataset(
        Tables.orders(s, dir)
          .groupBy(col("o_custkey").as("custkey"))
          .agg(count(lit(1)).as("n_orders")),
        dims = Seq("custkey"))
      Align.merge(bal, nOrd, "outer")
        .select("custkey", "c_acctbal", "n_orders")
    }),

    // combine_first: self wins, other fills holes (ref `dataset.py:6845`)
    "q15_combine_first" -> ((s, dir) => {
      def perDay(status: String, out: String) = XDataset(
        Tables.orders(s, dir).filter(col("o_orderstatus") === status)
          .groupBy(date_trunc("DAY", col("o_orderdate")).as("day"))
          .agg(exactSum(col("o_totalprice")).as(out)),
        dims = Seq("day"))
      Align.combineFirst(perDay("F", "rev_f"), perDay("O", "rev_o"),
        varPairs = Seq(("rev_f", "rev_o", "rev")))
    }),

    // as-of join backward (sel/reindex method="ffill"; ref `indexes.py:634`)
    "q16_asof_backward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val probes = ev.filter(col("event_type") === "error")
        .select("user_id", "ts", "event_id")
      val obs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("last_purchase"))
      AsOf.backward(probes, obs, by = Seq("user_id"), key = "ts",
        rightVals = Seq("last_purchase"))
        .select("event_id", "user_id", "last_purchase")
    }),

    // as-of join forward (method="bfill")
    "q16b_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val probes = ev.filter(col("event_type") === "error")
        .select("user_id", "ts", "event_id")
      val obs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("next_purchase"))
      AsOf.forward(probes, obs, by = Seq("user_id"), key = "ts",
        rightVals = Seq("next_purchase"))
        .select("event_id", "user_id", "next_purchase")
    }),

    // reindex_like (ref `dataset.py:3704`): conform the 'O'-status monthly
    // revenue onto the label set of the ALL-status monthly series — months
    // with no open orders materialize as fill=0 rows, months only in the
    // target are impossible by construction (subset), so the output is
    // exactly the other object's index
    "q256_reindex_like" -> ((s, dir) => {
      val openRev = XDataset(
        Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
          .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
          .agg(exactSum(col("o_totalprice")).as("rev_o")),
        dims = Seq("month"))
      val allMonths = XDataset(
        Tables.orders(s, dir)
          .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
          .agg(count(lit(1)).as("n")),
        dims = Seq("month"))
      Align.reindexLike(openRev, allMonths, "month",
        fill = Map("rev_o" -> 0.0))
    }),

    // interp_like (ref `dataset.py:4158`): evaluate the per-user purchase
    // series at the coordinate labels of ANOTHER object — the error
    // events' timestamp index. Linear interp, NULL outside each user's
    // observed range (no extrapolation), exactly interp_like's contract.
    "q257_interp_like" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val series = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val like = ev.filter(col("event_type") === "error" &&
        to_date(col("ts")) === lit("2024-01-10"))
      Align.interpLike(series, like, by = Seq("user_id"),
        t = "ts", v = "value")
        .select(col("user_id"), col("ts"),
          round(col("v_interp"), 6).as("v_interp"))
    }),

    // broadcast_like (ref `dataarray.py:1561`): the nation-level supplier
    // count expands against the other object's (nationkey x quarter) dim
    // set — rows multiply over the extra dim's label grid, values ride
    // along unchanged
    "q258_broadcast_like" -> ((s, dir) => {
      val supp = suppPerNation(s, dir)
      val grid = XDataset(
        Tables.orders(s, dir)
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nationkey"),
            quarter(col("o_orderdate")).as("qtr"))
          .agg(count(lit(1)).as("n_ord")),
        dims = Seq("nationkey", "qtr"))
      Align.broadcastLike(supp, grid)
        .select("nationkey", "qtr", "n_supp")
    }),

    // NDPointIndex coordinate KNN (ref `xarray/indexes/nd_point_index.py`):
    // tolerance-bounded nearest in 2-d coordinate space via grid-bucketed
    // join (exact; see align.NDPointIndex). Probes are corpus points
    // jittered by (+0.5, +0.3) so every probe has nearby neighbors.
    "q120_ndpoint_knn" -> ((s, dir) => {
      import graft.align.NDPointIndex
      val corpus = Tables.part(s, dir).select(
        col("p_partkey").as("cid"),
        (col("p_retailprice") / 100).as("x"),
        col("p_size").cast("double").as("y"))
      val probes = corpus.filter(col("cid") % 37 === 0)
        .select(col("cid").as("pid"),
          (col("x") + 0.5).as("x"), (col("y") + 0.3).as("y"))
      NDPointIndex.selNearest(corpus, probes, Seq("x", "y"),
          corpusId = "cid", probeId = "pid", tolerance = 5.0)
        .select(col("__pid").as("pid"), col("__cid").as("cid"),
          round(sqrt(col("__d2")), 6).as("dist"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q10_align_inner" ->
      """SELECT c.nationkey, n_cust, n_supp, n_cust - n_supp AS diff
         FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
               FROM customer GROUP BY 1) c
         JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
               FROM supplier GROUP BY 1) s USING (nationkey)""",
    "q11_align_outer" ->
      """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
         coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
         FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
               FROM customer GROUP BY 1) c
         FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
               FROM supplier GROUP BY 1) s ON c.nationkey = s.nationkey""",
    // left/right replay: NULLs preserved on the unmatched side
    "q250_align_left_right" ->
      """WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
             FROM customer GROUP BY 1),
           s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
             FROM supplier GROUP BY 1)
         SELECT c.nationkey, n_cust, n_supp, 'left' AS mode
         FROM c LEFT JOIN s ON c.nationkey = s.nationkey
         UNION ALL
         SELECT s.nationkey, n_cust, n_supp, 'right' AS mode
         FROM c RIGHT JOIN s ON c.nationkey = s.nationkey""",
    "q12_reindex_time" ->
      """SELECT d.day, coalesce(n, 0) AS n, coalesce(rev, 0.0) AS rev
         FROM (SELECT generate_series AS day FROM
               generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01',
                               INTERVAL 1 DAY)) d
         LEFT JOIN (SELECT date_trunc('day', o_orderdate) AS day, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
               FROM orders GROUP BY 1) o ON d.day = o.day""",
    "q13_broadcast_binop" ->
      """SELECT l_orderkey, l_linenumber,
         (l_extendedprice * (1 - l_discount)) / order_rev AS rev_share
         FROM lineitem JOIN (
           SELECT l_orderkey,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS order_rev
           FROM lineitem GROUP BY 1) o USING (l_orderkey)""",
    "q14_merge_outer" ->
      """SELECT coalesce(c.custkey, o.custkey) AS custkey, c_acctbal, n_orders
         FROM (SELECT c_custkey AS custkey, c_acctbal FROM customer) c
         FULL JOIN (SELECT o_custkey AS custkey, count(*) AS n_orders
               FROM orders GROUP BY 1) o ON c.custkey = o.custkey""",
    "q15_combine_first" ->
      """SELECT coalesce(f.day, o.day) AS day, coalesce(rev_f, rev_o) AS rev
         FROM (SELECT date_trunc('day', o_orderdate) AS day,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev_f
               FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) f
         FULL JOIN (SELECT date_trunc('day', o_orderdate) AS day,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev_o
               FROM orders WHERE o_orderstatus = 'O' GROUP BY 1) o
         ON f.day = o.day""",
    "q16_asof_backward" ->
      """SELECT l.event_id, l.user_id, r.value AS last_purchase
         FROM (SELECT * FROM events WHERE event_type = 'error') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
         ON l.user_id = r.user_id AND l.ts >= r.ts""",
    "q16b_asof_forward" ->
      """SELECT l.event_id, l.user_id, r.value AS next_purchase
         FROM (SELECT * FROM events WHERE event_type = 'error') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
         ON l.user_id = r.user_id AND l.ts <= r.ts""",
    // reindex_like replay: the other object's month labels LEFT-join the
    // conformed variable; fill replaces the (here impossible) misses
    "q256_reindex_like" ->
      """SELECT m.month, coalesce(rev_o, 0.0) AS rev_o
         FROM (SELECT DISTINCT date_trunc('month', o_orderdate) AS month
               FROM orders) m
         LEFT JOIN (SELECT date_trunc('month', o_orderdate) AS month,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
                   AS rev_o
               FROM orders WHERE o_orderstatus = 'O' GROUP BY 1) o
         USING (month)""",
    // interp_like replay: q45's bracketing as-of lerp with the probe grid
    // swapped for the error events' distinct timestamp labels
    "q257_interp_like" ->
      """WITH series AS (
           SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         probes AS (
           SELECT u.user_id, g.ts FROM
             (SELECT DISTINCT user_id FROM series) u
           CROSS JOIN (SELECT DISTINCT ts FROM events
                       WHERE event_type = 'error'
                         AND CAST(ts AS DATE) = DATE '2024-01-10') g),
         back AS (
           SELECT p.user_id, p.ts, s.value AS y0, s.ts AS t0
           FROM probes p ASOF LEFT JOIN series s
           ON p.user_id = s.user_id AND p.ts >= s.ts),
         fwd AS (
           SELECT p.user_id, p.ts, s.value AS y1, s.ts AS t1
           FROM probes p ASOF LEFT JOIN series s
           ON p.user_id = s.user_id AND p.ts <= s.ts)
         SELECT b.user_id, b.ts,
           round(CASE WHEN t0 IS NULL OR t1 IS NULL THEN NULL
                WHEN CAST(epoch_us(t1) AS DOUBLE) = CAST(epoch_us(t0) AS DOUBLE) THEN y0
                ELSE y0 + (y1 - y0) *
                  (CAST(epoch_us(b.ts) AS DOUBLE) - CAST(epoch_us(t0) AS DOUBLE)) /
                  (CAST(epoch_us(t1) AS DOUBLE) - CAST(epoch_us(t0) AS DOUBLE)) END,
             6) AS v_interp
         FROM back b JOIN fwd f ON b.user_id = f.user_id AND b.ts = f.ts""",
    // broadcast_like replay: values cross the extra dim's label set
    "q258_broadcast_like" ->
      """SELECT s.nationkey, q.qtr, s.n_supp
         FROM (SELECT s_nationkey AS nationkey, count(*) AS n_supp
               FROM supplier GROUP BY 1) s
         CROSS JOIN (SELECT DISTINCT quarter(o_orderdate) AS qtr
               FROM orders) q""",
    // brute-force nearest within tolerance: the grid-bucketed join must
    // reproduce the KD-tree/scan answer exactly (ties break on corpus id)
    "q120_ndpoint_knn" ->
      """WITH corpus AS (SELECT p_partkey AS cid, p_retailprice/100 AS x,
             CAST(p_size AS DOUBLE) AS y FROM part),
         probes AS (SELECT cid AS pid, x + 0.5 AS px, y + 0.3 AS py
             FROM corpus WHERE cid % 37 = 0),
         cand AS (SELECT pid, cid,
             (px-x)*(px-x) + (py-y)*(py-y) AS d2
           FROM probes, corpus
           WHERE (px-x)*(px-x) + (py-y)*(py-y) <= 25.0),
         rk AS (SELECT *, row_number() OVER
             (PARTITION BY pid ORDER BY d2, cid) AS rn FROM cand)
         SELECT pid, cid, round(sqrt(d2), 6) AS dist FROM rk WHERE rn = 1"""
  )
}
