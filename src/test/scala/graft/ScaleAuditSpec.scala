package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec,
  BroadcastNestedLoopJoinExec, HashJoin}

/** Whole-registry scale audit: every registered query's physical plan is
  * scanned for the two patterns that break at 100 TB — a Window with no
  * PARTITION BY (all rows to one task) and a cartesian/nested-loop join —
  * and must either be clean or be on the explicit whitelist below, where
  * each entry documents why the pattern is bounded (e.g. the input is a
  * generated grid or an already-aggregated small frame). The same loop
  * takes each query's join census at scale and compares it with the
  * census checked in under `src/test/resources/join_census.tsv`.
  */
class ScaleAuditSpec extends SparkSpec {

  // Unpartitioned windows allowed ONLY over provably-small inputs:
  private val allowGlobalWindow: Map[String, String] = Map(
    "q39_date_range_infer" -> "window over a generated 37-row time grid",
    "q380_heaps_law" -> ("cumulative checkpoints over the nSlices-row " +
      "(20) id-range frame; the OLS runs on <= 20 points"),
    "q381_temperature_mix" -> ("largest-remainder rank over the SOURCE " +
      "frame (one row per corpus source — the q369 Neyman contract)"),
    "q373_mann_kendall" -> ("slope-median order statistic over the " +
      "per-distinct-slope aggregate of the calendar-bounded pair grid " +
      "(and the value-tie frame) — bounded by |days|^2, never data"),
    "q374_pettitt" -> ("midrank + time-prefix windows over the " +
      "calendar-bounded daily aggregate (the q326 CUSUM contract)"),
    "q376_acf_ljung_box" -> ("cumulative Ljung-Box over the 14-row " +
      "lag frame"),
    "q377_cliffs_delta" -> ("value-level midrank prefix over the " +
      "distinct-quantity aggregate (the q290 Mann-Whitney contract)"),
    "q146_seq_packing" -> ("globalRunningSum's exclusive bucket-offset " +
      "prefix: an unpartitioned window over the per-bucket sums " +
      "AGGREGATE — <= defaultParallelism rows by construction, never " +
      "data (the round-15 in-plan replacement of the offsets collect)"),
    "q345_concurrency" -> ("same globalRunningSum bucket-offset prefix " +
      "as q146, over the parallelism-bounded bucket-sums aggregate"),
    "q360_token_gini" -> ("Positions.bucketOffsets prefix over the " +
      "per-bucket totals of the per-VALUE frame: one row per 64-wide " +
      "token-count bucket — bounded by the weight range / bucketWidth, " +
      "never rows"),
    "q361_roc_auc" -> ("Positions.bucketOffsets prefix over the " +
      "score-bucket totals: floor(p·64) of a probability is <= 65 " +
      "buckets by construction, never rows"),
    "q03_isel_head" -> ("head() takes a global prefix by definition; " +
      "TakeOrderedAndProject, not a window, does the work at scale"),
    "q31_concat_newdim" -> "per-month ordinal over an aggregated 158-row frame",
    "q65_tail" -> "tail() global suffix, same TakeOrdered contract as head",
    "q67_pad" -> "pad attaches ordinals to a single padded series (bounded)",
    "q68_roll" -> "roll shifts positions of one 100-row dimension axis",
    "q74_argmax_pos" -> "positions within a 25-row aggregated slice",
    "q82_mfopen_combine" -> "ordinal over 5 aggregated combine keys",
    "q44_integrate" -> "trapezoid pairs over one bounded series per group key",
    "q12_reindex_time" -> "generated daily grid (~2.4k rows) ordinal",
    "q300_seasonal_decompose" -> ("centered moving sum over the " +
      "AGGREGATED daily-revenue series — one row per calendar day, " +
      "bounded by the calendar, not the data"),
    "q304_vocab_encode" -> ("dense ids over the top-K vocabulary frame " +
      "AFTER the TakeOrdered limit(K) cut — K-bounded by construction"),
    "q71_upsample_ffill" -> "generated upsample grid (~181 rows)",
    "q212_upsample_bfill" -> "generated upsample grid (~181 rows)",
    "q216_upsample_nearest" ->
      "generated upsample grid (~181 rows), both as-of directions",
    "q251_upsample_interpolate" ->
      "generated upsample grid (~181 rows), both as-of directions",
    "q15_combine_first" -> "generated daily grid union (bounded)",
    "q45_interp_linear" -> "generated probe grid per series (bounded)",
    "q83_interp_nearest" -> "generated probe grid per series (bounded)",
    "q243_bm25" ->
      ("rank ordinal over the k-row TakeOrdered result (global top-k is " +
        "TakeOrderedAndProject; the window sees only the k survivors)"),
    "q244_hybrid_rrf" ->
      ("ordinals over TakeOrdered results and the fusion of two " +
        "already-limited (<= 20-row) rank lists"),
    "q253_hybrid_convex" ->
      ("ordinals over TakeOrdered results and the fusion of two " +
        "already-limited (<= 20-row) score lists"),
    "q263_query_likelihood" ->
      "rank ordinal over the k-row TakeOrdered result (q243 contract)",
    "q264_ndcg" ->
      ("ideal-ranking ordinal over a k-row TakeOrdered result; both DCG " +
        "sums aggregate <= k rows"),
    "q267_weighted_sample" ->
      "draw ordinal over the n-row TakeOrdered winners (q243 contract)",
    "q290_mannwhitney_u" ->
      ("rank prefix over the AGGREGATED distinct-value frame (50 rows " +
        "for this metric); a within-bucket prefix plus " +
        "Positions.bucketOffsets is the swap-in for genuinely " +
        "high-cardinality metrics"),
    "q291_ks_test" ->
      ("cumulative counts over the AGGREGATED distinct-value frame " +
        "(q290's contract; 50 rows for this metric)"),
    "q293_spearman" ->
      ("Rank.avgRankMap bucket-total prefix: one row per range bucket " +
        "(~50 and ~110 here) — bounded by range/width, not rows; the " +
        "per-value prefix is bucket-PARTITIONED"),
    "q309_kruskal_wallis" ->
      ("rank prefix over the AGGREGATED distinct-value frame " +
        "(q290's contract; 50 rows for this metric)"),
    "q312_histogram_quantile" ->
      ("cumulative counts over the AGGREGATED bin frame — bounded by " +
        "value range / bin width, not by rows"),
    "q319_zipf_fit" ->
      ("rank ordinal over the 500-row TakeOrdered vocabulary cut " +
        "(the q304 contract)"),
    "q321_vocab_coverage" ->
      ("ordinal + cumulative mass over the 2000-row TakeOrdered " +
        "vocabulary cut (the q304 contract)"),
    "q326_cusum_changepoint" ->
      ("prefix sum over the AGGREGATED daily-revenue series — one row " +
        "per calendar day, bounded by the calendar (q300's contract)"),
    "q337_compaction_plan" ->
      ("running-bytes cut over the SEGMENT-METADATA aggregate (one row " +
        "per daily segment, calendar-bounded) — the Delta OPTIMIZE " +
        "planning shape: metadata-sized plan, parallel rewrite"),
    "q341_decision_stump" ->
      ("threshold prefix over the AGGREGATED distinct-value frame per " +
        "feature (value-bounded, the q290 contract)"),
    "q343_isotonic_fit" ->
      ("prefix sums over the probability-DECILE aggregate (<= 11 rows " +
        "by construction)"),
    "q350_pareto_frontier" ->
      ("dominance prefix max over the distinct-quantity AGGREGATE " +
        "(value-bounded, the q290 contract)"),
    "q329_seasonal_anomaly" ->
      ("q300's centered moving sum over the AGGREGATED daily-revenue " +
        "series (calendar-bounded)"),
    "q331_bh_fdr" ->
      ("BH step-up rank over the HYPOTHESIS frame — one row per group " +
        "(25 brands); bounded by group cardinality, not data"),
    "q366_conformal" ->
      ("cumulative count over the per-distinct-RESIDUAL aggregate of " +
        "the calibration window (calendar-bounded; the q312 histogram " +
        "contract)"),
    "q369_neyman_allocation" ->
      ("largest-remainder rank over the STRATUM frame (one row per " +
        "market segment) — bounded by stratum cardinality, not data"))

  // Cartesian/nested-loop joins allowed ONLY for broadcast-able sides:
  private val allowCartesian: Map[String, String] = Map(
    "q388_bca_bootstrap" -> ("broadcast of the 1-row power-sum " +
      "aggregate onto the B-row replicate frame (the q333/q353 " +
      "contract; B = 48 constant)"),
    "q382_image_phash_dedup" -> ("broadcast of the literal 4-row band " +
      "index onto the hash frame (the candidate stage itself is the " +
      "capped (band, value) EQUI-join)"),
    "q380_heaps_law" -> ("broadcast of the 1-row id-bounds aggregate " +
      "onto the token scan"),
    "q381_temperature_mix" -> ("broadcasts of the 1-row weight-total " +
      "and shortfall aggregates onto the source frame"),
    "q373_mann_kendall" -> ("day-pair grid over the CALENDAR-bounded " +
      "daily aggregate (|days|^2 pairs, independent of data volume) + " +
      "1-row statistic broadcasts"),
    "q374_pettitt" -> ("broadcasts of the 1-row n/max/argmax " +
      "aggregates onto the calendar-bounded daily frame"),
    "q375_benford" -> ("broadcasts of the 1-row total/excluded " +
      "aggregates onto the 9-digit grid"),
    "q376_acf_ljung_box" -> ("14-lag grid cross + 1-row total/denominator " +
      "broadcasts onto the calendar-bounded daily frame"),
    "q35_expand_dims" -> "broadcast of a literal new-dim axis (3 rows)",
    "q54_cosine_topk" -> "explicit broadcast of the 5-probe side",
    "q54c_ivf_ann" -> "explicit broadcast of the 8-centroid side",
    "q157_ivf_nprobe" -> "explicit broadcast of the 8-centroid side",
    "q78_cross" -> "3x3 literal axis product",
    "q89_spline_cubic" -> "probe grid cross user list, both driver-bounded",
    "q93_interp_pchip" -> "probe grid cross user list, both driver-bounded",
    "q96_interp_akima" -> "probe grid cross user list, both driver-bounded",
    "q107_interp_makima" -> "probe grid cross user list, both driver-bounded",
    "q82_mfopen_combine" -> "5-row combine keys",
    "q39_date_range_infer" -> "generated grid only",
    "q45_interp_linear" -> "probe grid cross user list, both driver-bounded",
    "q257_interp_like" -> ("the other object's one-day label set cross " +
      "the user list — both keys-only distincts (interp_like contract)"),
    "q258_broadcast_like" -> ("broadcast_like label expansion: the extra " +
      "dim's distinct labels (4 quarters) cross the carried variable"),
    "q159_interp_extrapolate" -> "probe grid cross user list, both driver-bounded",
    "q83_interp_nearest" -> "probe grid cross user list, both driver-bounded",
    "q106_pad_stat" -> "broadcast of the 1-row series-stats aggregate",
    "q289_chi2_independence" -> ("broadcasts of the 1-row N total and the " +
      "1-row (#levels_x, #levels_y) dims aggregate onto the bounded " +
      "contingency-cell frame"),
    "q291_ks_test" -> ("broadcast of the 1-row (n1, n2) totals onto the " +
      "aggregated distinct-value frame"),
    "q294_hits" -> ("per-iteration broadcast of the 1-row max onto the " +
      "node-score frame (max-normalization; 4 such broadcasts at " +
      "iters = 2)"),
    "q108_interp_zero" -> "probe grid cross user list, both driver-bounded",
    "q109_interp_slinear" -> "probe grid cross user list, both driver-bounded",
    "q110_interp_quadratic" -> "probe grid cross user list, both driver-bounded",
    "q111_interp_quintic" -> "probe grid cross user list, both driver-bounded",
    "q113_interp_barycentric" -> "probe grid cross user list, both driver-bounded",
    "q114_interp_krogh" -> "probe grid cross user list, both driver-bounded",
    "q124_interp_calendar" -> "generated 120-date grid cross 4 event types",
    "q128_qcut" -> "broadcast of the 1-row quantile-boundary aggregate",
    "q140_interp_2d" -> ("generated 9x9 probe grid + probe-x cross grid-y " +
      "lines (both driver-bounded axes; the orthogonal-interp contract)"),
    "q166_season_resample" -> ("broadcast of two 1-row scalar aggregates " +
      "(drop_incomplete bounds + kept-label bounds) and the generated " +
      "season-label grid (~45 rows)"),
    "q192_backend_dispatch" -> ("crossJoin of two 1-row aggregates " +
      "(netcdf fixture summary x custom-engine row count)"),
    "q203_dsir_weights" -> ("broadcast of the 1-row (nt, nr) totals " +
      "aggregate onto the B-bucket λ table (B = 4096 constant)"),
    "q204_sq8_ann" -> ("explicit broadcast of the 5-probe side (the q54 " +
      "ANN contract); the 1-row per-dim min/max codebook, a global " +
      "aggregate, broadcasts by its one-row size estimate"),
    "q214_l2_topk" -> "explicit broadcast of the 5-probe side (q54 contract)",
    "q218_mrl_truncated_ann" ->
      "explicit broadcast of the 5-probe side (q54 contract)",
    "q215_ivf_sq8" -> ("explicit broadcast of the 8-centroid table; the " +
      "1-row residual codebook, a global aggregate, broadcasts by its " +
      "one-row size estimate; candidate scoring is a cell-key equi-join"),
    "q242_pq_adc" -> ("explicit broadcast of the 5-probe ADC tables (the " +
      "q54 ANN contract); the 1-row codebook, a global aggregate, " +
      "broadcasts by its one-row size estimate; the corpus carries only " +
      "its integer codes"),
    "q246_ivf_pq" -> ("explicit broadcasts of the 8-centroid table and " +
      "the 5-probe ADC tables; the 1-row residual codebook, a global " +
      "aggregate, broadcasts by its one-row size estimate; candidate " +
      "scoring is a cell-key equi-join over integer codes"),
    "q248_mmr_rerank" -> ("explicit broadcasts of the 3-probe side (the " +
      "q54 candidate stage) and of the 24-row candidate list re-joined " +
      "to its embeddings; the greedy itself is a probe-partitioned scan"),
    "q254_hard_negatives" ->
      "explicit broadcast of the 5-probe side (q54 contract)",
    "q255_ccnet_buckets" ->
      "explicit broadcast of the 1-row tertile-threshold aggregate",
    "q262_cluster_balance" -> ("broadcast of the 1-row min-cluster-size " +
      "aggregate, by its one-row size estimate (a global aggregate)"),
    "q275_also_bought" ->
      "broadcast of the 1-row basket-count aggregate onto the pair scores",
    "q280_cohens_kappa" -> ("broadcast of the 1-row expected-agreement " +
      "aggregate onto the 1-row totals aggregate"),
    "q269_ann_recall" -> ("explicit broadcasts of the 5-probe side (the " +
      "q54 truth contract) and the 8-centroid table (q54c); the approx " +
      "candidate stage is a cell-key equi-join"),
    "q263_query_likelihood" -> ("broadcasts of the literal 3-term table, " +
      "the 1-row |C| aggregate, and the term-cf table (3 rows) onto the " +
      "matched-doc grid"),
    "q264_ndcg" -> ("broadcast of the 1-row IDCG aggregate onto the " +
      "1-row DCG aggregate"),
    "q243_bm25" -> "broadcast of the 1-row corpus-stats (N, avgdl) aggregate",
    "q244_hybrid_rrf" -> ("broadcasts of the 1-row corpus-stats aggregate " +
      "and the 1-probe dense side (q243/q54 contracts)"),
    "q253_hybrid_convex" -> ("broadcasts of the 1-row corpus-stats and " +
      "min/max aggregates and the 1-probe dense side (q243/q54 contracts)"),
    "q312_histogram_quantile" -> ("broadcast of the 1-row histogram " +
      "total onto the bounded bin frame"),
    "q313_kmv_set_ops" -> ("stratum-pair grid: #strata x #strata rows " +
      "of NAMES over the two distinct-strata frames — sketch-sized by " +
      "construction, data volume never enters the cross"),
    "q318_mutual_nn" ->
      "explicit broadcast of the 8-centroid side (q54c contract)",
    "q320_group_holdout" ->
      "broadcast of the 1-row straddle-count aggregate",
    "q321_vocab_coverage" -> ("broadcast of the 1-row corpus-total " +
      "onto the 2000-row vocabulary cut"),
    "q322_krippendorff" ->
      "broadcast of the 1-row marginals aggregate",
    "q323_rfm_segments" -> ("broadcasts of the 1-row anchor and 1-row " +
      "quartile-bounds aggregates onto the per-user frame"),
    "q304_vocab_encode" -> ("cross of the 1-row corpus-total and 1-row " +
      "kept-mass aggregates to form the OOV row — both sides single-row " +
      "by construction"),
    "q326_cusum_changepoint" -> ("broadcasts of three 1-row aggregates " +
      "(grand total, max statistic, tie-break bucket) onto the " +
      "calendar-bounded daily frame"),
    "q328_collocations" -> ("broadcast of the 1-row (n_uni, n_bi) " +
      "totals aggregate onto the min-count-floored bigram frame"),
    "q329_seasonal_anomaly" -> ("broadcasts of the 1-row median and " +
      "1-row MAD aggregates onto the calendar-bounded daily frame"),
    "q330_mrr" -> ("explicit broadcast of the 50-probe side for the " +
      "brute-force truth stage (q54 contract); the LSH candidate stage " +
      "is a signature equi-join"),
    "q351_map_at_k" -> ("explicit broadcast of the 50-probe side for " +
      "the brute-force truth stage (q330 contract); the LSH candidate " +
      "stage is a signature equi-join"),
    "q331_bh_fdr" -> ("broadcasts of three 1-row aggregates (grand " +
      "totals, m, k_max) onto the group-cardinality hypothesis frame"),
    "q332_kaplan_meier" -> ("broadcast of the 1-row max-order-date " +
      "aggregate onto the per-customer frame; the estimator itself is " +
      "a fold over the duration-bounded aggregate"),
    "q333_poisson_bootstrap" -> ("broadcast of the 1-row full-data " +
      "mean onto the 1-row CI aggregate (B-row replicate frame " +
      "collapses in one collect_list aggregate, B = 48 constant)"),
    "q353_ab_bootstrap" -> ("broadcast of the 1-row full-data diff " +
      "onto the 1-row CI aggregate (the q333 contract)"),
    "q341_decision_stump" -> ("broadcast of the 1-row per-feature " +
      "totals aggregate onto the value-bounded threshold frame"),
    "q342_calibration_ece" -> ("broadcast of the 1-row ECE aggregate " +
      "onto the decile-bounded reliability frame"),
    "q343_isotonic_fit" -> ("PAVA minimax range joins over the " +
      "probability-DECILE aggregate: B^2 segments, B^3 join rows with " +
      "B <= 11 by construction — bin-bounded, never data"),
    "q346_data_checks" -> ("per-check broadcast of the 1-row total " +
      "aggregate onto the 1-row violation aggregate (suite = union of " +
      "1-row summaries)"),
    "q360_token_gini" -> ("broadcasts of the 1-row grand-total and " +
      "1-row decile-threshold aggregates onto the 1-row Lorenz " +
      "aggregate — the per-VALUE frame they reduce is bounded by " +
      "distinct token counts, never rows"),
    "q358_lsh_index_eval" -> ("broadcasts of the three 1-row counts " +
      "(truth, candidates, hits) into the final ratio row — candidate " +
      "generation itself is the banded signature EQUI-join, truth the " +
      "co-shingle equi-join"),
    "q357_fleiss_kappa" -> ("broadcast of the 1-row category-marginal " +
      "aggregate onto the 1-row per-item aggregate (the q322 " +
      "Krippendorff contract)"),
    "q362_mutual_information" -> ("broadcast of the 1-row grand total " +
      "onto the contingency CELL grid (|X|*|Y| rows, never data)"),
    "q363_jsd_sources" -> ("broadcast of the 1-row side totals onto " +
      "the union-vocabulary count frame (wordcount-bounded)"),
    "q365_log_rank" -> ("2-group grid cross over the duration-bounded " +
      "event-time frame (the PSI empty-bin reinstatement pattern)"),
    "q366_conformal" -> ("broadcasts of the 1-row (n, k) and 1-row " +
      "q-hat aggregates onto the test-window aggregate"),
    "q367_did_bootstrap" -> ("broadcast of the 1-row full-data DID " +
      "onto the 1-row CI aggregate (the q333/q353 contract)"),
    "q369_neyman_allocation" -> ("broadcasts of the 1-row weight total " +
      "and 1-row shortfall aggregates onto the stratum frame (one row " +
      "per market segment)"),
    "q370_james_stein" -> ("broadcasts of the 1-row hyperparameter and " +
      "1-row spread aggregates onto the group frame (one row per " +
      "market segment)"))

  /** Per registered query: its executed plan at the shipped configuration
    * (or `PLAN-ERROR <message>`) and its [[joinCensus]]. Built once, for
    * both tests below. */
  private lazy val registry: Seq[(String, String, String)] = {
    val skip = Set("q63_stream_resample", "q99_stream_dedup",
      "q127_stream_join", "q139_stream_sessions") // memory-table results
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !skip.contains(name)) yield {
      try {
        // scoped as the registry runner scopes it: a query that persists
        // (q224's load) must not leave a cache behind for later plans
        val (df, plan) = graft.util.QueryCache.scoped {
          val df = fn(spark, sf)
          (df, df.queryExecution.executedPlan.toString)
        }
        // after the scope, so a frame the query persisted is planned
        // again instead of read as a relation cached at the default size
        (name, plan, joinCensus(df))
      } catch {
        case e: Throwable =>
          (name, s"PLAN-ERROR ${e.getMessage}", "PLAN-ERROR")
      }
    }
  }

  test("no unpartitioned Window or cartesian join outside the whitelist") {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, plan, _) <- registry) {
      val globalWin = PlanShapes.unpartitionedWindow(plan)
      val cartesian = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (globalWin && !allowGlobalWindow.contains(name))
        bad += s"$name: unpartitioned window"
      if (cartesian && !allowCartesian.contains(name))
        bad += s"$name: cartesian/nested-loop join"
    }
    assert(bad.isEmpty, "scale audit failures:\n" + bad.mkString("\n"))
  }

  // ---- join census at scale ----

  /** `df`'s joins at scale: its logical plan planned again under a 1 KiB
    * broadcast threshold, and each join of the initial physical plan
    * (subqueries included) named with its build side and counted, e.g.
    * `BroadcastHashJoin/BuildRight*2 SortMergeJoin*1`; `-` for none. At
    * scale every data table exceeds any broadcast threshold, so a side
    * broadcasts only when it is hinted or when its size estimate is tiny
    * by construction (a global aggregate, a limit, a local relation). At
    * the default 10 MB every side of the sf0.001 fixture broadcasts,
    * hinted or not, so a hint that chooses a join shows only here. A join
    * that runs while the query is built (a stream's micro-batches, an
    * eager write) is not in the returned frame, so not in its census. */
  private def joinCensus(df: DataFrame): String = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val plan = restoring(key) {
      spark.conf.set(key, "1024")
      val qe = new QueryExecution(df.queryExecution.sparkSession,
        df.queryExecution.logical)
      qe.executedPlan
    }
    def joins(p: SparkPlan): Seq[String] = {
      val here = p match {
        case j: HashJoin => Seq(s"${j.nodeName}/${j.buildSide}")
        case j: BroadcastNestedLoopJoinExec => Seq(s"${j.nodeName}/${j.buildSide}")
        case j: BaseJoinExec => Seq(j.nodeName)
        case _ => Nil
      }
      val inside = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      here ++ (inside ++ p.subqueries).flatMap(joins)
    }
    val counted = joins(plan).groupBy(identity).toSeq.sortBy(_._1)
    if (counted.isEmpty) "-"
    else counted.map { case (j, n) => s"$j*${n.size}" }.mkString(" ")
  }

  test("every query's join census at scale matches the checked-in census") {
    val want = scala.io.Source.fromResource("join_census.tsv").getLines()
      .map(_.split("\t", 2)).map(a => a(0) -> a(1)).toMap
    val got = registry.map { case (name, _, census) => name -> census }.toMap
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/join_census.tsv"),
      got.toSeq.sorted.map { case (n, c) => s"$n\t$c\n" }.mkString)
    val diff = (want.keySet ++ got.keySet).toSeq.sorted.flatMap { n =>
      val (was, now) = (want.get(n), got.get(n))
      if (was == now) None
      else Some(s"$n\n  census: ${was.getOrElse("(none)")}\n" +
        s"  now:    ${now.getOrElse("(none)")}")
    }
    assert(diff.isEmpty, s"join census changed for ${diff.size} queries " +
      "(observed census in target/join_census.tsv):\n" + diff.mkString("\n"))
  }

  // ---- partitions-∝-data law (round-17: engine behavior, not docs) ----

  /** Runs `body`, then puts `key` back to its value before: the shared
    * session carries the shipped configuration, and later suites run on it. */
  private def restoring[T](key: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("Parallelize.ensure widens a scan by input bytes, floored at parallelism") {
    import graft.util.Parallelize
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // default target (16 MiB): the tiny fixture's byte term is ~0, the
    // parallelism floor wins — identical to the historical behavior
    val floor = spark.sparkContext.defaultParallelism
    assert(Parallelize.ensure(docs).rdd.getNumPartitions === floor)
    // a small target makes the byte term dominate: width == bytes/target
    val bytes = Parallelize.inputBytes(docs)
    assert(bytes > 0)
    val n = Parallelize.ensure(docs, bytes / 10).rdd.getNumPartitions
    assert(n >= 10 && n <= 11, s"expected ~10 data-keyed partitions, got $n")
    // and the cap clamps it
    assert(Parallelize.widthFor(floor, bytes, bytes / 10, 6) ===
      math.max(floor, 6))
  }

  test("tuneShuffle keys the heavy-agg shuffle width to directory bytes") {
    import graft.util.Parallelize
    val bytes = Parallelize.dirBytes(sf)
    assert(bytes > 0)
    restoring(Parallelize.InitialPartitionNumKey) {
      // default 8 MiB target on the tiny fixture: floor wins (no local drift)
      val floor = spark.sparkContext.defaultParallelism
      assert(Parallelize.tuneShuffle(spark, sf) === floor)
      // a 1/24-of-dir target must yield a ~24-wide initial shuffle, and a
      // heavy aggregate's exchange must actually START at that width
      val w = Parallelize.tuneShuffle(spark, sf, bytes / 24)
      assert(w >= 24 && w <= 25, s"width $w")
      assert(spark.conf.get(Parallelize.InitialPartitionNumKey) === w.toString)
      val agg = spark.read.parquet(s"$sf/lineitem.parquet")
        .groupBy("l_orderkey").count()
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains(s"hashpartitioning") && plan.contains(s", $w)"),
        s"heavy-agg exchange did not start at the data-keyed width $w:\n$plan")
    }
  }

  test("withFixedShuffle pins iterative-verb width and restores confs") {
    import graft.util.Parallelize
    restoring(Parallelize.InitialPartitionNumKey) {
      spark.conf.set(Parallelize.InitialPartitionNumKey, "99")
      val inside = Parallelize.withFixedShuffle(spark, 3) {
        (spark.conf.get("spark.sql.shuffle.partitions"),
          spark.conf.get(Parallelize.InitialPartitionNumKey))
      }
      assert(inside === (("3", "3")))
      assert(spark.conf.get(Parallelize.InitialPartitionNumKey) === "99")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    }
  }
}
