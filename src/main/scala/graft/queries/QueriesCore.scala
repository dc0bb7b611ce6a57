package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.XDataset
import graft.model.XDataset.{exactAvg, exactSum}
import graft.io.Tables

/** Selection / projection / masking operator queries (SURVEY.md §2.2) +
  * the flagship partial-reduction aggregate (§2.4). */
object QueriesCore extends QueryFamily {

  def li(s: SparkSession, dir: String): XDataset =
    XDataset(Tables.lineitem(s, dir), dims = Seq("l_orderkey", "l_linenumber"))
  def ord(s: SparkSession, dir: String): XDataset =
    XDataset(Tables.orders(s, dir), dims = Seq("o_orderkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.4 dim-subset reduction + grouped agg (ref `_aggregations.py`)
    "q01_agg_partial" -> ((s, dir) => {
      li(s, dir).df
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exactSum(col("l_quantity")).as("sum_qty"),
          exactSum(col("l_extendedprice")).as("sum_base_price"),
          exactAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("n"))
    }),

    // §2.2 label slice — inclusive both ends (ref `dataset.py:3018`)
    "q02_sel_slice" -> ((s, dir) => {
      li(s, dir)
        .selSlice("l_shipdate", java.sql.Timestamp.valueOf("1996-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("1996-12-31 00:00:00"))
        .selectVars("l_quantity")
        .df.select("l_orderkey", "l_linenumber", "l_quantity")
    }),

    // §2.2 isel/head — positional selection (ref `dataset.py:2801/3123`)
    "q03_isel_head" -> ((s, dir) => {
      ord(s, dir).headDim("o_orderkey", 100)
        .df.select("o_orderkey", "o_custkey", "o_totalprice")
    }),

    // §2.2 where-mask: keep shape, NULL out masked cells (ref `common.py:1131`)
    "q04_where_mask" -> ((s, dir) => {
      li(s, dir).whereMask(col("l_returnflag") === "A")
        .df.select("l_orderkey", "l_linenumber", "l_quantity")
    }),

    // §2.2 isin membership (ref `common.py:1361`)
    "q05_isin" -> ((s, dir) => {
      XDataset(Tables.customer(s, dir), dims = Seq("c_custkey"))
        .isin("c_mktsegment", Seq("BUILDING", "MACHINERY"))
        .df.select("c_custkey", "c_name", "c_mktsegment")
    }),

    // §2.2 thin — strided positional selection (ref `dataset.py:3304`)
    "q06_thin" -> ((s, dir) => {
      ord(s, dir).thinDim("o_orderkey", 10)
        .df.select("o_orderkey", "o_totalprice")
    }),

    // §2.2 dropna + fillna over synthesized nulls (ref `dataset.py:6355/6489`)
    "q07_fillna" -> ((s, dir) => {
      val ev = XDataset(Tables.events(s, dir), dims = Seq("event_id"))
        .assign("value_masked",
          when(col("event_type") =!= "error", col("value")))
      ev.fillna(0.0, vars = Seq("value_masked"))
        .df.select("event_id", "value_masked")
    }),

    // §2.6 sortby + top-k per group (window row_number, ref `dataset.py:8124`)
    "q08_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      ord(s, dir).df
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
    }),

    // §2.2 query — string-expression filter (ref `dataset.py:9777`)
    "q09_query_expr" -> ((s, dir) => {
      li(s, dir).query("l_quantity > 45.0 AND l_discount <= 0.02")
        .df.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_agg_partial" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_discount AS DECIMAL(30,4))) AS DOUBLE) / count(l_discount) AS avg_disc,
         count(*) AS n
         FROM lineitem GROUP BY 1, 2""",
    "q02_sel_slice" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'""",
    "q03_isel_head" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_orderkey LIMIT 100""",
    "q04_where_mask" ->
      """SELECT l_orderkey, l_linenumber,
         CASE WHEN l_returnflag = 'A' THEN l_quantity END AS l_quantity
         FROM lineitem""",
    "q05_isin" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')""",
    "q06_thin" ->
      """SELECT o_orderkey, o_totalprice FROM (
           SELECT o_orderkey, o_totalprice,
                  row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
           FROM orders) WHERE pos % 10 = 0""",
    "q07_fillna" ->
      """SELECT event_id,
         coalesce(CASE WHEN event_type <> 'error' THEN value END, 0.0) AS value_masked
         FROM events""",
    "q08_topk" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) WHERE rk <= 5""",
    "q09_query_expr" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
         WHERE l_quantity > 45.0 AND l_discount <= 0.02"""
  )
}
