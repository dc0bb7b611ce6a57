package graft

import org.apache.spark.sql.DataFrame
import graft.util.QueryCache

/** Plan-quality assertions — the scale contract, checked on real plans:
  * filters reach the parquet scan, projections prune the read schema,
  * small dimension sides broadcast, and positional machinery avoids
  * single-partition windows. */
class PlanSpec extends SparkSpec {

  /** Builds `name` and reads its plan inside a query scope, as the registry
    * runner does, so no persisted frame outlives the test. */
  private def scopedPlan(name: String)(f: DataFrame => String): String =
    QueryCache.scoped(f(SparkEntry.queries(name)(spark, sf)))

  private def plan(name: String): String =
    scopedPlan(name)(_.queryExecution.executedPlan.toString)

  test("label-slice filter is pushed down to the parquet scan") {
    val p = plan("q02_sel_slice")
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("l_shipdate"), "shipdate predicate should reach the scan")
  }

  test("column pruning: scan reads only referenced columns") {
    val p = plan("q01_agg_partial")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_returnflag"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_shipdate"),
      s"over-wide scan: $readSchema")
  }

  test("group-mean anomaly join broadcasts the small aggregate side") {
    val p = plan("q20_groupby_anomaly")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(800))
  }

  test("whole-stage codegen covers the scalar-function battery") {
    val p = scopedPlan("q36_str_battery")(_.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    // Spark 4 formatted plans mark codegen stages as `[codegen id : N]`
    assert(p.contains("codegen id"), p.take(500))
  }

  test("distributed rank plan has no unpartitioned Window") {
    val p = plan("q25_rank_avg")
    assert(!PlanShapes.unpartitionedWindow(p),
      s"rank must not use a global window:\n$p")
  }

  test("PlanShapes tells an unpartitioned Window from a partitioned one") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number, sum}
    def shape(w: org.apache.spark.sql.expressions.WindowSpec, f: org.apache.spark.sql.Column) =
      PlanShapes.unpartitionedWindow(spark.range(10).withColumn("w", f.over(w))
        .queryExecution.executedPlan.toString)
    assert(shape(Window.orderBy("id"), row_number()))
    assert(!shape(Window.partitionBy(col("id") % 2).orderBy("id"), row_number()))
    assert(!shape(Window.partitionBy(col("id") % 2), sum("id")))
  }

  test("pchip/akima plans: windows are partitioned by the series key") {
    for (q <- Seq("q93_interp_pchip", "q96_interp_akima")) {
      val p = plan(q)
      val winLines = p.linesIterator.filter(_.contains("Window ")).toSeq
      assert(winLines.nonEmpty, s"$q should use window slopes")
      assert(winLines.forall(_.contains("user_id")),
        s"$q has an unpartitioned window:\n${winLines.mkString("\n")}")
    }
  }

  test("vocab top-k aggregates with a partial (map-side combine) stage") {
    val p = plan("q94_vocab_topk")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final agg, got:\n${p.take(800)}")
  }

  test("IVF assignment broadcasts the centroid side") {
    val p = plan("q54c_ivf_ann")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin")
      || p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("grid KNN is an equi-join on cell keys; pointwise sel broadcasts") {
    val knn = plan("q120_ndpoint_knn")
    assert(!knn.contains("CartesianProduct") &&
      !knn.contains("BroadcastNestedLoopJoin"),
      s"grid KNN must join on cell keys:\n${knn.take(800)}")
    val pts = plan("q123_sel_points")
    assert(pts.contains("BroadcastHashJoin") || pts.contains("BroadcastExchange"),
      s"pointwise sel should broadcast the points side:\n${pts.take(800)}")
  }

  test("calendar decode stays in the scan stage (no extra exchange)") {
    // q119 shape: scan -> distinct (one exchange) -> projection of the
    // calendar CASE chains. Exactly one shuffle is expected (the distinct);
    // the decode itself must not introduce more.
    val p = plan("q119_cftime_calendars")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("BroadcastExchange") && !l.contains("reuse"))
    assert(exchanges <= 2, s"calendar decode added shuffles:\n${p.take(1200)}")
  }

  test("open_dataarray prunes the scan to dims + the one variable") {
    val p = plan("q223_open_dataarray")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") &&
      readSchema.contains("o_totalprice"), readSchema)
    assert(!readSchema.contains("o_custkey") &&
      !readSchema.contains("o_orderdate"),
      s"open_dataarray must not read the other variables: $readSchema")
  }

  test("unify_chunks co-partitions: the join adds no third exchange") {
    // both sides repartition(32, custkey); the join must consume those
    // layouts directly — exactly two hashpartitioning exchanges on
    // custkey in the whole plan, none between repartition and join
    val p = plan("q228_unify_chunks")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(custkey")).toSeq
    assert(exchanges.size == 2,
      s"expected exactly 2 custkey exchanges (one per side):\n" +
        exchanges.mkString("\n"))
  }

  test("loc labels land in one scan-stage predicate (pushed filters)") {
    val p = plan("q225_loc")
    val scanLine = p.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(scanLine.contains("l_returnflag") &&
      scanLine.contains("l_linestatus"),
      s"loc labels did not reach the scan:\n$scanLine")
  }

  test("Z-order store read pushes both range predicates to the scan") {
    // q197 writes the clustered store then reads with a 2-d range filter:
    // both predicates must reach the parquet scan (row-group pruning is
    // what the Morton layout buys — per-file min/max stats are tight in
    // BOTH keys, so most files skip entirely at 100 TB)
    val p = plan("q197_zorder")
    val scanLine = p.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(scanLine.contains("user_id") && scanLine.contains("ts"),
      s"range predicates did not reach the scan:\n$scanLine")
    assert(scanLine.contains("GreaterThanOrEqual") ||
      scanLine.contains("LessThanOrEqual"),
      s"no range filters pushed:\n$scanLine")
  }

  test("BM25 plan: global top-k is TakeOrdered, stats broadcast") {
    val p = plan("q243_bm25")
    // the corpus-wide top-k must be TakeOrderedAndProject (per-partition
    // heaps + one k-row merge), never a global Sort of every scored doc
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    // the 1-row (N, avgdl) corpus-stats aggregate rides a broadcast
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("segment dedup: keeper window is partitioned by the segment key") {
    val p = plan("q245_segment_dedup")
    val winLines = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty, "segment dedup should elect keepers via a window")
    assert(winLines.forall(_.contains("__k")),
      s"keeper window not partitioned by the segment key:\n" +
        winLines.mkString("\n"))
  }

  test("IVF+PQ plan: codebook/tables broadcast; candidate join on the cell key") {
    val p = plan("q246_ivf_pq")
    assert(p.contains("BroadcastExchange"), p.take(800))
    // the candidate scoring join must be an equi-join on cell_id (hash or
    // broadcast-HASH), not a nested-loop over the coded corpus
    val hashJoins = p.linesIterator.filter(l =>
      l.contains("HashJoin") && l.contains("cell_id")).toSeq
    assert(hashJoins.nonEmpty,
      s"no cell-key equi-join found:\n${p.take(1200)}")
  }

  test("word entropy: wordcount topology with partial aggs, no window") {
    val p = plan("q259_word_entropy")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final agg:\n${p.take(800)}")
    assert(!p.contains("Window "), "entropy must not use a window")
  }

  test("query likelihood: top-k is TakeOrdered; term/stats sides broadcast") {
    val p = plan("q263_query_likelihood")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("cluster balance: rank window partitioned by cluster, cap broadcast") {
    val p = plan("q262_cluster_balance")
    val winLines = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("cluster")),
      s"rank window must be per-cluster:\n${winLines.mkString("\n")}")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("top-ngram mass: modal window is per-doc; grams never shuffle twice") {
    val p = plan("q266_top_ngram_mass")
    val winLines = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("doc_id")),
      s"modal-gram window must be per-doc:\n${winLines.mkString("\n")}")
  }

  test("funnel: stage filters reach the scans; no window anywhere") {
    val p = plan("q270_funnel")
    assert(!p.contains("Window "), "funnel must be agg-chained, not windowed")
    assert(p.contains("PushedFilters"), p.take(500))
  }

  test("sessions/markov/cluster-balance: every window is entity-partitioned") {
    for ((q, key) <- Seq("q271_sessions" -> "user_id",
        "q274_transitions" -> "user_id",
        "q262_cluster_balance" -> "cluster")) {
      val winLines = plan(q).linesIterator
        .filter(_.contains("Window ")).toSeq
      assert(winLines.nonEmpty && winLines.forall(_.contains(key)),
        s"$q window not partitioned by $key:\n${winLines.mkString("\n")}")
    }
  }

  test("interval join decomposes to an equi-join — never a nested loop") {
    val p = plan("q282_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"range join must bucket-decompose:\n${p.take(1000)}")
  }

  test("pagerank: no cartesian join; per-iteration mass join is equi-keyed") {
    val p = plan("q273_pagerank")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1000))
  }
}
