package graft

import org.apache.spark.sql.execution.{FormattedMode, InputAdapter, ReusedSubqueryExec,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plan of one representative query
  * per scale-critical operator family, with the property each plan is
  * expected to exhibit. Regenerate after plan-shape changes:
  * `sbt "runMain graft.PlanDump /root/testdata/sf0.001 PLANS.md"`; dump
  * any registered query's plans with `sbt "runMain graft.PlanDump <sfDir>
  * <out.md> <query ...>"`. */
object PlanDump {

  private val picks: Seq[(String, String)] = Seq(
    "q01_agg_partial" ->
      ("Partial aggregation: two HashAggregate stages (partial+final) around " +
        "one exchange; scan reads only the referenced columns (ReadSchema)."),
    "q02_sel_slice" ->
      ("Label slice: the between-predicate appears in PushedFilters on the " +
        "parquet scan — selection happens at the source."),
    "q16_asof_backward" ->
      ("As-of join: union + partitioned window (one shuffle on user_id), " +
        "zero row multiplication."),
    "q120_ndpoint_knn" ->
      ("Coordinate KNN: equi-join on grid-cell keys (no cartesian, no " +
        "nested-loop); per-probe argmin as a hash aggregate."),
    "q123_sel_points" ->
      ("Vectorized pointwise sel: BroadcastHashJoin — the point tuples ship " +
        "to the data, the big side never shuffles."),
    "q51_minhash_lsh" ->
      ("MinHash LSH: signatures once (persist), band explode, shuffle on " +
        "(band, bucket) only — candidate pairs form inside buckets, and " +
        "only inside buckets at most maxBucket deep (the hub cap: a " +
        "depth-count aggregate semi-joins out degenerate bucket values " +
        "BEFORE the self-join, so pair emission is bounded by " +
        "sum(min(depth, cap)^2) whatever the data does)."),
    "q27_rolling_mean" ->
      ("Rolling: window partitioned by the series key — no global sort, " +
        "bounded per-group state."),
    "q128_qcut" ->
      ("Quantile bins: one boundary aggregate broadcast back (1-row " +
        "BroadcastNestedLoopJoin is the cheap side), then hash agg by bin."),
    "q130_einsum3" ->
      ("N-ary einsum: join chain contracting each shared dim; both small " +
        "factors broadcast, one exchange on the output key."),
    "q136_substring_dedup" ->
      ("Substring dedup: one explode to window hashes (text never " +
        "shuffles), partial+final distinct-doc count on the window key, " +
        "one shuffle back on doc id — no pairwise term anywhere."),
    "q138_decontaminate" ->
      ("Decontamination: the benchmark gram set broadcasts " +
        "(BroadcastHashJoin); the corpus streams map-side, only the " +
        "per-doc hit counts shuffle."),
    "q135_zarr_roundtrip" ->
      ("Zarr read: the driver lists the chunk files; executors read and " +
        "decode them into rows (one RDD scan shared with the HDF5 and " +
        "NetCDF readers); the preceding write shuffled rows once by chunk " +
        "id (sorted, one chunk box per task in memory)."),
    "q146_seq_packing" ->
      ("Sequence packing: distributed prefix sum — dense-id fast path " +
        "buckets by a PURE PROJECTION (no range-sampling job), windows " +
        "stay partition-LOCAL (partitioned by __b, never global), O(P) " +
        "offsets broadcast back; seq ids are pure projections."),
    "q148_semdedup" ->
      ("SemDeDup: centroid assignment is a projection (no join); the " +
        "within-cluster self-join broadcasts its build side when " +
        "N x dim fits (parallelism = probe partitions, not k) and " +
        "falls back to the cluster-key shuffle join past that."),
    "q150_exact_sample" ->
      ("Exact-n sample: hash-prefix prefilter keeps ~4n rows per stratum " +
        "BEFORE the ranking window, so the per-stratum sort input is " +
        "O(n), not the stratum population."),
    "q154_lm_perplexity" ->
      ("Perplexity filter: ONE aggregation pass over the heavy bigram " +
        "stream — the unigram table derives from the small bigram count " +
        "table (c1 = sum of c12), and the V count() doubles as the " +
        "cache-materialization barrier so the two broadcast builds read " +
        "warm cache instead of racing cold recomputes of the fit pass " +
        "(10x replica: barrier 14.5 s vs racing 15.3-19.9 s). Scoring " +
        "joins the bigram stream against both broadcast count tables " +
        "(hints pin the build side); the per-doc agg reuses the doc-key " +
        "partitioning — no driver state, no quadratic term."),
    "q187_bucketed_join" ->
      ("Bucketed co-located join: both sides read pre-bucketed catalog " +
        "tables on the join key. At this toy scale the optimizer prefers " +
        "a broadcast; with broadcast off, the SortMergeJoin runs with NO " +
        "Exchange on either side (BucketingSpec pins that plan)."),
    "q175_salted_agg" ->
      ("Skew-safe salted aggregation: two hash-agg stages — the salted " +
        "partial spreads a hot key across partitions, the final combine " +
        "is algebraic; one exchange per stage, no row blow-up."),
    "q203_dsir_weights" ->
      ("DSIR importance weights: the gram stream is persisted once; the " +
        "bucket-model fit is one partial+final hash agg over B=4096 " +
        "constant keys, and scoring BROADCASTS the λ table back onto the " +
        "stream — no shuffle wider than B rows, nothing driver-side."),
    "q204_sq8_ann" ->
      ("SQ8 quantized ANN: the per-dim codebook is a 1-row broadcast; " +
        "corpus rows quantize+dequantize in a scan-stage projection and " +
        "score against the broadcast probe side — the corpus never " +
        "shuffles; ranking is a per-probe window."),
    "q219_quality_classifier" ->
      ("In-engine GD training: per epoch the B+1-row weight table " +
        "BROADCASTS onto the feature stream (margin join), and the " +
        "gradient is a partial+final hash agg over B constant bucket " +
        "keys — the corpus-sized stream is scanned, never shuffled wider " +
        "than B rows, and no corpus data reaches the driver. Since r17 " +
        "each epoch's weight table is query-scope CACHED (InMemoryRelation " +
        "in the plan): uncached, every broadcast of epoch t re-executed " +
        "epochs 1..t-1's margin/gradient passes."),
    "q239_pca_covariance" ->
      ("One-pass PCA covariance: the CovMoments aggregator runs the " +
        "d(d+1)/2 products in a fixed in-JVM buffer in ONE pass — no " +
        "pre-aggregate Generate, the shuffle carries one buffer per " +
        "partition (the round-12 d^2-row explode is gone; PcaSpec pins " +
        "bit-identical output and the no-Generate shape). Since r17 the " +
        "input is ensure()-widened (REPARTITION_BY_NUM before the " +
        "partial aggregate): the triangle loop is the heavy per-row work " +
        "and a few-split scan would serialize it."),
    "q297_countmin_sketch" ->
      ("Count-min sketch: tokens explode to d (row, cell) coords that " +
        "feed the partial hash agg in the SAME stage — the shuffle and " +
        "the sketch are d*w-bounded regardless of corpus size; the " +
        "top-k probe side is TakeOrdered + a broadcast-scale join."),
    "q299_source_overlap" ->
      ("Source overlap matrix: distinct (source, gram-hash) partial+" +
        "final agg, then a gram-key equi-join whose per-gram fan-out is " +
        "bounded by |sources| — pair rows scale with grams x S^2, never " +
        "documents^2."),
    "q307_last_touch" ->
      ("Last-touch attribution: the AsOf union + window — ONE shuffle " +
        "on user_id, last-observation propagation in a partitioned " +
        "window, zero row multiplication; the 7-day fence is a " +
        "post-projection, not a range join."),
    "q310_changelog_merge" ->
      ("CDC apply / MERGE INTO: the changelog collapses to its per-key " +
        "winner in one partial+final max-struct hash agg (map-side " +
        "combine — full change multiplicity never reaches the join), " +
        "then ONE left-anti join + union; AQE broadcasts the collapsed " +
        "side when small."),
    "q313_kmv_set_ops" ->
      ("KMV set ops: the corpus-touching work is one distinct agg on " +
        "(stratum, hash) + a stratum-partitioned bottom-k window; the " +
        "pair stage (grid join, union ranks, estimates) runs over " +
        "#strata x k sketch rows only."),
    "q314_linear_attribution" ->
      ("Linear attribution: the range match is the IntervalJoin " +
        "time-bucket EQUI-join (1-day buckets; no nested loop), fan-out " +
        "bounded by touches-per-window; credit is a ppm integral-div " +
        "projection plus one per-conversion count agg."),
    "q318_mutual_nn" ->
      ("Mutual NN: 8-centroid broadcast assignment, per-cell A x B " +
        "equi-join (pair fan-out bounded per cell), two partitioned " +
        "row_number windows (a-side, b-side), two-way rank-1 filter."),
    "q358_lsh_index_eval" ->
      ("LSH index eval: signatures in ONE hash aggregate over distinct " +
        "(doc, shingle-hash); candidates an EQUI-join on (band, key); " +
        "truth the co-shingle equi-join — no nested loop anywhere in " +
        "candidate generation (the final ratio row crosses three 1-row " +
        "counts)."),
    "q360_token_gini" ->
      ("Lorenz/Gini: the data-sized work is ONE per-value hash " +
        "aggregate; the prefix rides broadcast bucket offsets + a " +
        "bucket-PARTITIONED window (value-bounded frame, no global " +
        "window, no sort of the data).")
  )

  /** `plan` as an operator tree: one node name per line, indented by
    * depth, an operator of a whole-stage codegen stage `n` marked `*(n)`
    * as Spark's own tree string marks it. An adaptive plan shows its final
    * plan and a query stage the plan inside; a reused exchange or subquery
    * and a cached relation's scan are leaves, as in Spark's tree string. */
  private def operators(plan: SparkPlan, depth: Int = 0,
                        stage: String = ""): Seq[String] = plan match {
    case w: WholeStageCodegenExec => operators(w.child, depth, s"*(${w.codegenStageId}) ")
    case i: InputAdapter => operators(i.child, depth)
    case _ =>
      val inside = plan match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec | _: ReusedSubqueryExec | _: InMemoryTableScanExec => Nil
        case _ => plan.children
      }
      ("  " * depth + stage + plan.nodeName.trim) +:
        (inside ++ plan.subqueries).flatMap(operators(_, depth + 1, stage))
  }

  /** `runMain graft.PlanDump [sfDir] [out|-] [query ...]` — dumps the
    * picks, or only the named queries: any registered name, a pick keeping
    * its note (for surgical PLANS.md section refreshes; the file carries
    * hand-annotated sections a full regenerate would clobber). Each section
    * holds the formatted plan's operator tree and scan evidence (pushdown,
    * pruning), then the AQE-final executed plan's operator tree, read
    * after the query ran.
    * out `-` prints to stdout instead of writing a file. A query that fails
    * fails the main, and a file is then not written. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val names = SparkEntry.select(
      if (args.length > 2) args.drop(2).toSeq else picks.map(_._1))
    val notes = picks.toMap
    val spark = GraftSession(sfDir)
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the scale-critical operators\n\n")
    sb.append("Generated by `graft.PlanDump` at sf0.001 (plan SHAPE is scale-")
    sb.append("independent; AQE may re-plan exchanges at runtime). Each section ")
    sb.append("states the property the plan must exhibit; `ScaleAuditSpec` and ")
    sb.append("`PlanSpec` enforce these on every build.\n")
    val outcomes = SparkEntry.run(spark, sfDir, names) { (_, df) =>
      val plan = df.queryExecution.explainString(FormattedMode)
      // run the frame's own adaptive plan so it reaches its final form;
      // count() and foreach plan a new query on top and leave it unfinal
      df.queryExecution.toRdd.foreach(_ => ())
      // keep the operator tree + the scan evidence (pushdown, pruning)
      val tree = plan.split("\n\n").headOption.getOrElse(plan)
      val scanEvidence = plan.linesIterator.filter(l =>
        l.contains("PushedFilters") || l.contains("ReadSchema"))
        .map(_.trim).toSeq.distinct
      val evidence =
        if (scanEvidence.isEmpty) "" else scanEvidence.mkString("\n", "\n", "\n")
      s"```\n$tree\n$evidence```\n\nAQE-final executed plan:\n\n```\n" +
        operators(df.queryExecution.executedPlan).mkString("\n") + "\n```\n"
    }.toList
    outcomes.foreach { o =>
      sb.append(s"\n## ${o.name}\n\n")
      notes.get(o.name).foreach(n => sb.append(s"$n\n\n"))
      sb.append(o.result.fold(e => s"FAILED: ${e.getMessage}\n", identity))
    }
    val failed = outcomes.filter(_.result.isLeft)
    // a file is only written whole: a failed query leaves it as it was
    if (out == "-") println(sb.toString)
    else if (failed.isEmpty) {
      Files.writeString(Paths.get(out), sb.toString); println(s"wrote $out")
    }
    spark.stop()
    failed.headOption.foreach { f =>
      throw new IllegalStateException(
        s"queries failed: ${failed.map(_.name).mkString(", ")}" +
          (if (out == "-") "" else s"; $out not written"),
        f.result.left.toOption.orNull)
    }
  }
}
