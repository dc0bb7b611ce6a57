package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.XDataset

/** Degenerate shapes: every core operator must return EMPTY (not throw) on
  * an empty dataset — the reference's behavior on zero-length dims. */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private val empty = XDataset(
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("k", LongType), StructField("t", DoubleType),
        StructField("v", DoubleType)))),
    dims = Seq("k", "t"))

  test("selection / masking / reductions on empty input") {
    assert(empty.sel("k", Seq(1L)).df.count() === 0L)
    assert(empty.selSlice("t", 0.0, 10.0).df.count() === 0L)
    assert(empty.whereMask(col("v") > 0).df.count() === 0L)
    assert(empty.dropna().df.count() === 0L)
    assert(empty.fillna(0.0).df.count() === 0L)
    val agg = empty.reduce(Seq("t"), Seq(sum(col("v")).as("s")))
    assert(agg.count() === 0L) // no groups -> no rows
  }

  test("windows / interp / dedup on empty input") {
    val w = graft.window.Windows.rolling(Seq(col("k")), Seq(col("t")), 3)
    assert(empty.df.withColumn("m", avg(col("v")).over(w)).count() === 0L)
    val probes = Seq((1L, 5.0)).toDF("k", "t")
    val interp = graft.numerics.Numerics.interpLinear(
      empty.df, probes, by = Seq("k"), t = "t", v = "v")
    // probes with no observations -> NULL interp, not an error
    assert(interp.count() === 1L)
    assert(interp.filter(col("v_interp").isNotNull).count() === 0L)
    val docs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    assert(graft.llm.Dedup.exact(docs, "doc_id", "text").count() === 0L)
  }

  test("single-row input: rolling/pad/rank degenerate gracefully") {
    val one = Seq((1L, 0L, 2.5)).toDF("k", "pos", "v")
    val padded = graft.window.Pad.pad(one, "pos", "v", n = 1,
      before = 1, after = 1, constant = 0.0)
    assert(padded.count() === 3L)
    val ranked = graft.agg.Rank.avgRank(one.select("v"), "v", "r")
    assert(ranked.head().getDouble(1) === 1.0)
  }

  test("packing prefix sum: empty, single-row, and sparse-id inputs") {
    import graft.model.Positions
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType), StructField("n", LongType))))
    // empty: probe stats are null -> falls to the range path -> empty out
    assert(Positions.runningSum(emptyDocs, col("id"), col("n"), "s")
      .count() === 0L)
    // single row (dense by definition): fast path, sum = own value
    val oneRow = Seq((7L, 5L)).toDF("id", "n")
    assert(Positions.runningSum(oneRow, col("id"), col("n"), "s")
      .select("s").head().getLong(0) === 5L)
    // sparse ids (holes) must NOT take the dense path silently wrong:
    // running sums still correct via the fallback
    val sparse = Seq((1L, 1L), (5L, 2L), (100L, 3L)).toDF("id", "n")
    val got = Positions.runningSum(sparse, col("id"), col("n"), "s")
      .orderBy("id").select("s").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 3L, 6L))
  }

  test("semDedup with iters=0 (no Lloyd stats) falls back safely") {
    import graft.llm.Dedup
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(2.0, 0.0)), (3L, Array(0.0, 1.0)))
      .toDF("id", "vec")
    // iters=0 -> stats stay (0, 0) -> shuffle-join path; planted exact
    // duplicate direction (2,0) ~ (1,0) must still be pruned
    val pruned = Dedup.semDedup(vecs, "id", "vec", k = 1, iters = 0,
      threshold = 0.99)
    assert(pruned.select("id").collect().map(_.getLong(0)).toSet
      .contains(2L))
  }

  test("retrieval verbs degenerate to empty, not errors") {
    import graft.llm.{Retrieval, Similarity, Dedup}
    val docs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    // empty corpus -> empty ranking (stats aggregate yields no rows to join)
    assert(Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("nothing"), k = 5).count() === 0L)
    // terms absent from a NON-empty corpus -> every doc drops out
    val d2 = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    assert(Retrieval.bm25TopK(d2, "doc_id", "text",
      Seq("zzz"), k = 5).count() === 0L)
    // fusion with one empty side keeps the other's contributions
    val a = Seq((1L, 1)).toDF("id", "rk")
    val none = a.filter(col("rk") < 0)
    assert(Retrieval.rrfFuse(a, none, "id", "rk", k = 5).count() === 1L)
    assert(Retrieval.rrfFuse(none, none, "id", "rk", k = 5).count() === 0L)
    // MMR / segment dedup / hard negatives on empty inputs
    val cands = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("probe_id", LongType),
        StructField("vec_id", LongType), StructField("rel", DoubleType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(Retrieval.mmrRerank(cands, "probe_id", "vec_id", "rel",
      "embedding", lambda = 0.5, k = 3).count() === 0L)
    assert(Dedup.segmentDedup(docs, "doc_id", "text", 4).count() === 0L)
    val vecs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(Similarity.hardNegatives(vecs,
      vecs.select(col("vec_id").as("probe_id"), col("embedding")),
      "vec_id", "probe_id", "embedding", k = 3, dupCeil = 0.9)
      .count() === 0L)
  }

  test("round-12 fourth-pass verbs return empty (or contract) on empty input") {
    import graft.llm.{Cluster, LinkAnalysis, Packing, Retrieval, Sampling,
      TextAnalysis}
    val docs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("src", StringType))))
    assert(TextAnalysis.wordEntropy(docs, "doc_id", "text").count() === 0L)
    assert(TextAnalysis.vocabOverlap(docs, "src", "text").count() === 0L)
    assert(TextAnalysis.ngramDiversity(docs, "src", "text", 2).count() === 0L)
    assert(TextAnalysis.topNgramMass(docs, "doc_id", "text", 2).count() === 0L)
    assert(Packing.lengthBuckets(docs, "doc_id", lit(0L), 8).count() === 0L)
    assert(Retrieval.queryLikelihoodTopK(docs, "doc_id", "text",
      Seq("spark"), k = 5).count() === 0L)
    assert(Sampling.weightedSample(docs, "doc_id", lit(1.0), 5)
      .count() === 0L)
    val assigned = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType),
        StructField("cluster", IntegerType), StructField("d2", DoubleType))))
    assert(Cluster.balancedDownsample(assigned, "id").count() === 0L)
    val events = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("u", LongType),
        StructField("ts", TimestampType), StructField("et", StringType),
        StructField("eid", LongType))))
    assert(graft.window.Funnel.ordered(events, "u", "ts", "et",
      Seq("view", "click")).count() === 0L)
    assert(graft.window.Sessions.stats(events, "u", "ts", 60).count() === 0L)
    assert(graft.window.Cohort.weeklyRetention(events, "u", "ts", "et",
      "signup").count() === 0L)
    assert(graft.window.Markov.transitions(events, "u", "ts", "et",
      col("eid")).count() === 0L)
    assert(graft.numerics.Holt.smooth(events, "u", "ts", "eid", lit(0L))
      .count() === 0L)
    val nodes = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType))))
    val edges = nodes.select(col("id").as("s"), col("id").as("d"))
    // pagerank REQUIRES a non-empty universe (documented contract)
    intercept[IllegalArgumentException] {
      LinkAnalysis.pagerank(nodes, edges, "id", "s", "d", 1)
    }
    assert(LinkAnalysis.alsoTook(
      nodes.select(col("id").as("b"), col("id").as("i")), "b", "i", 3)
      .count() === 0L)
  }

  test("round-13 third-pass verbs return empty (not throw) on empty input") {
    import graft.llm.{CorpusStats, Sketch, Url}
    val toks = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("src", StringType),
        StructField("tok", StringType))))
    assert(Sketch.kmvPairs(toks, "src", "tok", 8).count() === 0L)
    val vals = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("v", LongType))))
    assert(Sketch.histogramQuantile(vals, "v", 100L, Seq(50))
      .count() === 0L)
    val docs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("text", StringType))))
    // zipf on empty: one aggregate row with np = 0; slope/intercept null
    val zf = CorpusStats.zipfFit(docs, "text", 10).collect()
    assert(zf.length === 1 && zf.head.getLong(0) === 0L &&
      zf.head.isNullAt(1))
    val snap = Seq((1L, 10L)).toDF("k", "v")
    val chg = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("k", LongType),
        StructField("seq", IntegerType), StructField("op", StringType),
        StructField("v", LongType))))
    assert(graft.align.ChangelogMerge.scd2History(chg, "k", "seq", "op")
      .count() === 0L)
    val conv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("u", LongType),
        StructField("t", TimestampType), StructField("cid", LongType),
        StructField("vc", LongType))))
    val tch = conv.select(col("u"), col("t"), lit("x").as("tt"))
    assert(graft.align.Attribution.linearTouch(conv, tch, "u", "t",
      "cid", "vc", "tt", 1000000L, 1000000L).count() === 0L)
    assert(Seq.empty[String].toDF("url")
      .select(Url.canonicalize(col("url"))).count() === 0L)
  }

  test("round-13 late additions on empty input") {
    val empt = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("g", StringType),
        StructField("v", LongType), StructField("s", BooleanType))))
    // survival: no subjects -> no duration rows
    assert(graft.numerics.Survival.kaplanMeier(
      empt.select(col("v").as("dur"), lit(1).as("ev")), "dur", "ev")
      .count() === 0L)
    // stats batteries: no groups -> no rows
    assert(graft.numerics.Stats.twoPropZBattery(empt, "g", col("s"))
      .count() === 0L)
    assert(graft.numerics.Stats.wilsonInterval(empt, "g", col("s"))
      .count() === 0L)
    assert(graft.numerics.Stats.benjaminiHochberg(
      empt.select(col("g").as("id"),
        col("v").cast("decimal(18,8)").as("p")),
      "id", "p", 1, 20).count() === 0L)
    // bootstrap: empty input -> empty CI frame (no replicate rows)
    assert(graft.numerics.Bootstrap.meanCI(empt, col("g"), col("v"))
      .count() === 0L)
    // calibration / isotonic: empty scored frame -> empty reports
    val scored0 = empt.select(col("v").as("y"),
      col("v").cast("double").as("prob"))
    assert(graft.llm.Calibration.eceReport(scored0).count() === 0L)
    assert(graft.llm.Calibration.isotonicFit(
      empt.select(col("v").as("bucket"), col("v").as("n"),
        col("v").as("k"))).count() === 0L)
    // profiling: zero rows still produces one row per spec (n_rows 0)
    val prof = graft.io.Profile.profile(empt, Seq(("v", col("v"), true)))
      .collect()
    assert(prof.length === 1 && prof.head.getLong(1) === 0L)
    // compaction / markov / concurrency / trees / snapshot
    assert(graft.io.Compaction.plan(
      empt.select(col("g").as("k"), col("v").as("b")), "k", col("b"),
      1000L).count() === 0L)
    val ev0 = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("u", LongType),
        StructField("t", TimestampType), StructField("et", StringType),
        StructField("eid", LongType))))
    assert(graft.window.Markov.removalAttribution(ev0, "u", "t", "et",
      col("eid")).count() === 0L)
    assert(graft.window.Concurrency.dailyPeak(
      ev0.select(col("t").as("t_start"), col("t").as("t_end")),
      "t_start", "t_end").count() === 0L)
    assert(graft.llm.Trees.trainStump(empt, col("s"),
      Seq(("v", col("v")))).count() === 0L)
    assert(graft.io.Snapshot.diff(empt, empt, "g", Seq("v"))
      .count() === 0L)
    val fp = graft.io.Snapshot.fingerprint(empt, Seq("g", "v")).head()
    assert(fp.getLong(0) === 0L && fp.isNullAt(1))
    // holt-winters: series shorter than m -> no rows
    assert(graft.numerics.Holt.holtWinters(
      empt.select(col("v").as("e"), col("v").as("t"),
        col("v").as("y")), "e", "t", col("y"), m = 7).count() === 0L)
    // rake / containment / link prediction on empty docs
    val docs0 = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    assert(graft.llm.CorpusStats.rakeKeywords(docs0, "doc_id", "text",
      Seq("the"), 3, 10).count() === 0L)
    assert(graft.llm.Dedup.containmentDedup(docs0, "doc_id", "text", 3,
      10L, 500000L).count() === 0L)
    assert(graft.llm.LinkAnalysis.linkPrediction(
      empt.select(col("v").as("b"), col("v").as("i")), "b", "i", 60L,
      10).count() === 0L)
  }

  test("round-14 stats verbs: empty / one-group / all-censored / " +
    "single-arm contracts") {
    import graft.llm.{Agreement, Cluster, CorpusStats, Dedup, Drift,
      LinkAnalysis, Sampling}
    import graft.numerics.{Bootstrap, Conformal, Stats, Survival}
    val e3 = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("g", StringType),
        StructField("v", LongType), StructField("s", BooleanType))))
    val docs0 = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    def oneNullRow(df: org.apache.spark.sql.DataFrame,
                   nullCols: Seq[String]): Unit = {
      val rows = df.collect()
      assert(rows.length === 1, df.columns.mkString(","))
      nullCols.foreach(c =>
        assert(rows(0).isNullAt(rows(0).fieldIndex(c)), s"$c not null"))
    }
    // q356 k-core: empty edge set -> empty core (converges round 1)
    assert(LinkAnalysis.kcore(
      e3.select(col("v").as("x"), col("v").as("y")), "x", "y", 2)
      .count() === 0L)
    // q357 Fleiss: empty -> 1 row, kappa NULL; single item -> the
    // chance-agreement denominator vanishes -> kappa NULL, moments real
    oneNullRow(Agreement.fleissKappa(
      e3.select(col("v").as("i"), col("g").as("r1"), col("g").as("r2")),
      col("i"), Seq(col("r1"), col("r2"))), Seq("kappa_ppm"))
    val f1 = Agreement.fleissKappa(Seq((1L, "a", "a")).toDF("i", "r1", "r2"),
      col("i"), Seq(col("r1"), col("r2"))).collect()(0)
    assert(f1.getAs[Long]("s2") === 4L &&
      f1.isNullAt(f1.fieldIndex("kappa_ppm")))
    // q358 LSH index eval: empty corpus -> 1 summary row, 0 counts,
    // NULL ratios (0/0 recall is undefined, not 100%)
    oneNullRow(Dedup.lshIndexEval(docs0, "doc_id", "text"),
      Seq("recall_ppm", "precision_ppm"))
    // q360 token gini: empty -> its one summary row, all NULL
    oneNullRow(CorpusStats.weightConcentration(e3, col("v")),
      Seq("gini_ppm", "top_decile_share_ppm"))
    // q361 ROC AUC: empty -> NULL AUC; one CLASS (no negatives) ->
    // Mann-Whitney denominator pos*neg = 0 -> NULL, not 0 or 1
    oneNullRow(Agreement.rocAuc(e3, col("s"), col("v"), c => c),
      Seq("auc_ppm"))
    val r1 = Agreement.rocAuc(Seq((true, 1L), (true, 2L)).toDF("s", "v"),
      col("s"), col("v"), c => c).collect()(0)
    assert(r1.isNullAt(r1.fieldIndex("auc_ppm")))
    // q362 MI: empty -> NULL; a single row carries no information -> 0
    oneNullRow(Stats.mutualInformation(e3, col("g"), col("g")),
      Seq("mi_bits"))
    assert(Stats.mutualInformation(Seq(("a", "b")).toDF("u", "w"),
      col("u"), col("w")).collect()(0).getAs[Double]("mi_bits") === 0.0)
    // q363 JSD: empty -> NULL; one side EMPTY -> that distribution is
    // undefined -> NULL jsd (was an ANSI divide-by-zero before r15)
    oneNullRow(Drift.jsDivergence(e3, col("s"), col("g")),
      Seq("jsd_bits"))
    oneNullRow(Drift.jsDivergence(Seq((true, "x")).toDF("a", "w"),
      col("a"), col("w")), Seq("jsd_bits"))
    // q364 silhouette: < 2 seedable rows -> "nearest OTHER centroid"
    // undefined -> empty per-cluster frame (was an AnalysisException)
    assert(Cluster.simplifiedSilhouette(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id", LongType),
          StructField("vec", ArrayType(DoubleType))))),
      "id", "vec", 2, 2).count() === 0L)
    // q365 log-rank: empty AND all-censored -> no events -> NULL chi2;
    // single-arm -> variance 0 -> NULL chi2, observed counts real
    oneNullRow(Survival.logRank(
      e3.select(col("v").as("dur"), col("v").as("ev"), col("s")),
      "dur", "ev", col("s")), Seq("chi2"))
    oneNullRow(Survival.logRank(
      Seq((5L, 0, true), (6L, 0, false)).toDF("dur", "ev", "grp"),
      "dur", "ev", col("grp")), Seq("chi2"))
    oneNullRow(Survival.logRank(
      Seq((5L, 1, true), (6L, 1, true)).toDF("dur", "ev", "grp"),
      "dur", "ev", col("grp")), Seq("chi2"))
    // q366 conformal: empty -> 1 row, NULL q-hat; no calibration rows ->
    // NULL q-hat with the test side still counted
    oneNullRow(Conformal.splitInterval(
      e3.select(col("s").as("cal"), col("v").as("a"), col("v").as("p")),
      col("cal"), col("a"), col("p")), Seq("q_hat", "coverage_ppm"))
    val c1 = Conformal.splitInterval(
      Seq((false, 5L, 4L)).toDF("cal", "a", "p"),
      col("cal"), col("a"), col("p")).collect()(0)
    assert(c1.isNullAt(c1.fieldIndex("q_hat")) &&
      c1.getAs[Long]("n_test") === 1L)
    // q367 DiD, q368 power/MDE, q369 Neyman, q370 James-Stein: empty ->
    // empty frames (no groups/strata -> no rows)
    assert(Bootstrap.didCI(
      e3.select(col("v").as("id"), col("s").as("t"), col("s").as("p"),
        col("v").as("y")),
      col("id"), col("t"), col("p"), col("y")).count() === 0L)
    assert(Stats.powerMde(e3, "g", col("s")).count() === 0L)
    assert(Sampling.neymanAllocation(e3, "g", col("v"), 100L)
      .count() === 0L)
    assert(Stats.jamesSteinMeans(e3, "g", col("v")).count() === 0L)
    // single-arm / single-group degenerates: one full-budget stratum,
    // one unshrunk group (zero spread -> shrink target is itself)
    val ney1 = Sampling.neymanAllocation(
      Seq(("a", 1L), ("a", 3L)).toDF("g", "v"), "g", col("v"), 100L)
      .collect()(0)
    assert(ney1.getAs[Long]("alloc") === 100L)
    val js1 = Stats.jamesSteinMeans(
      Seq(("a", 1L), ("a", 3L)).toDF("g", "v"), "g", col("v"))
      .collect()(0)
    assert(js1.getAs[Double]("js_mean2") === 2.0)
  }

  test("zorder: empty input writes an empty store; constant key is safe") {
    import graft.io.ZOrder
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
    val empty = scratchDir("zorder_empty")
    ZOrder.write(emptyEv, empty, Seq("a", "b"), 2)
    assert(spark.read.parquet(empty).count() === 0L)
    // zero span (constant key) must not divide by zero
    val const = Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("a", "b")
    val constDir = scratchDir("zorder_const")
    ZOrder.write(const, constDir, Seq("a", "b"), 2)
    assert(spark.read.parquet(constDir).count() === 3L)
  }
}
