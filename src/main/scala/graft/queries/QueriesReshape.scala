package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.XDataset.{exactAvg, exactSum}
import graft.io.Tables
import graft.reshape.Reshape

/** Reshape / combine operator queries (SURVEY.md §2.7-2.8). */
object QueriesReshape extends QueryFamily {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MultiIndex partial-level sel + reorder_levels (ref `indexes.py:1291`
    // PandasMultiIndex.sel; `dataset.py:5270` reorder_levels): stack two
    // dims into a struct index, select on ONE level, reorder the levels,
    // aggregate by the reordered index fields
    "q116_multiindex_sel" -> ((s, dir) => {
      val stacked = Reshape.stack(
        Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal"),
        Seq("c_mktsegment", "c_nationkey"), "mi")
      val selected = Reshape.selLevel(stacked, "mi", "c_mktsegment", "BUILDING")
      val reordered = Reshape.reorderLevels(selected, "mi",
        Seq("c_nationkey", "c_mktsegment"))
      reordered.groupBy(
          col("mi").getField("c_nationkey").as("nationkey"),
          col("mi").getField("c_mktsegment").as("mktsegment"))
        .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"))
    }),

    // DataTree map_over_datasets over a 2-level hierarchy (ref
    // `core/datatree.py:1789`, `datatree_mapping.py:45`): per-node
    // reduction, hierarchy preserved, collapsed to one frame with the
    // node path as a column
    "q117_datatree_map" -> ((s, dir) => {
      import graft.model.{DataTree, XDataset}
      import org.apache.spark.sql.types.DecimalType
      val cust = Tables.customer(s, dir)
      def node(df: DataFrame) =
        XDataset(df.select("c_custkey", "c_acctbal"), Seq("c_custkey"))
      val tree = DataTree(
        "/" -> node(cust),
        "/seg/BUILDING" -> node(cust.filter(col("c_mktsegment") === "BUILDING")),
        "/seg/MACHINERY" -> node(cust.filter(col("c_mktsegment") === "MACHINERY")))
      val mapped = tree.mapOverDatasets { ds =>
        XDataset(ds.df.agg(
          count(lit(1)).as("n"),
          (sum(col("c_acctbal").cast(DecimalType(30, 4))).cast("double") /
            count(col("c_acctbal"))).as("avg_bal")), Nil)
      }
      mapped.collapse().select("path", "n", "avg_bal")
    }),

    // concat along a NEW dim (ref `structure/concat.py:45`)
    "q31_concat_newdim" -> ((s, dir) => {
      def monthly(status: String) = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === status)
        .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
        .agg(exactSum(col("o_totalprice")).as("rev"))
      Reshape.concatNewDim("status",
        Seq(("F", monthly("F")), ("O", monthly("O"))))
        .select("status", "month", "rev")
    }),

    // unstack to wide columns = pivot (ref `dataset.py:5597`)
    "q32_unstack_pivot" -> ((s, dir) => {
      Reshape.unstackPivot(
        Tables.lineitem(s, dir),
        keepDims = Seq("l_returnflag"),
        unstackDim = "l_linestatus",
        labels = Seq("F", "O"),
        valueAgg = exactSum(col("l_quantity")))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
    }),

    // to_stacked_array / melt (ref `dataset.py:5383`)
    "q33_melt" -> ((s, dir) => {
      Reshape.melt(Tables.lineitem(s, dir),
        idCols = Seq("l_orderkey", "l_linenumber"),
        valueCols = Seq("l_quantity", "l_discount"),
        varName = "variable", valueName = "value")
    }),

    // stack dims -> MultiIndex struct -> group -> unstack (ref `dataset.py:5333`)
    "q34_stack_roundtrip" -> ((s, dir) => {
      val stacked = Reshape.stack(
        Tables.lineitem(s, dir).select("l_returnflag", "l_linestatus", "l_quantity"),
        dims = Seq("l_returnflag", "l_linestatus"), stacked = "flat")
      val agged = stacked.groupBy("flat").agg(count(lit(1)).as("n"))
      Reshape.unstack(agged, "flat").select("l_returnflag", "l_linestatus", "n")
    }),

    // expand_dims with coords = cross join vs broadcast label table
    // (ref `dataset.py:4535`)
    "q35_expand_dims" -> ((s, dir) => {
      val base = Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(exactAvg(col("l_extendedprice")).as("avg_price"))
      val scenarios = s.createDataFrame(
        Seq(Tuple1(0.9), Tuple1(1.0), Tuple1(1.1))).toDF("scenario")
      base.crossJoin(scenarios)
        .select(col("l_returnflag"), col("scenario"),
          (col("avg_price") * col("scenario")).as("scaled_price"))
    })
  )

  val oracles: Map[String, String] = Map(

    "q116_multiindex_sel" ->
      """SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
         count(*) AS n, min(c_custkey) AS min_key
         FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1, 2""",

    "q117_datatree_map" ->
      """SELECT '/' AS path, count(*) AS n,
           CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE)
             / count(c_acctbal) AS avg_bal
         FROM customer
         UNION ALL
         SELECT '/seg/BUILDING', count(*),
           CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE)
             / count(c_acctbal)
         FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION ALL
         SELECT '/seg/MACHINERY', count(*),
           CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE)
             / count(c_acctbal)
         FROM customer WHERE c_mktsegment = 'MACHINERY'""",
    "q31_concat_newdim" ->
      """SELECT 'F' AS status, date_trunc('month', o_orderdate) AS month,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
         FROM orders WHERE o_orderstatus = 'F' GROUP BY 2
         UNION ALL
         SELECT 'O' AS status, date_trunc('month', o_orderdate) AS month,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
         FROM orders WHERE o_orderstatus = 'O' GROUP BY 2""",
    "q32_unstack_pivot" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END
           AS DECIMAL(30,4))) AS DOUBLE) AS qty_f,
         CAST(sum(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END
           AS DECIMAL(30,4))) AS DOUBLE) AS qty_o
         FROM lineitem GROUP BY 1""",
    "q33_melt" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
                l_quantity AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount' AS variable,
                l_discount AS value FROM lineitem""",
    "q34_stack_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem GROUP BY 1, 2""",
    "q35_expand_dims" ->
      """SELECT l_returnflag, scenario, avg_price * scenario AS scaled_price
         FROM (SELECT l_returnflag,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
                   / count(l_extendedprice) AS avg_price
               FROM lineitem GROUP BY 1)
         CROSS JOIN (SELECT unnest([0.9, 1.0, 1.1]) AS scenario)"""
  )
}
