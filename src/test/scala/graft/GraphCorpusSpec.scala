package graft

import org.apache.spark.sql.functions._
import graft.llm.{Agreement, Cluster, CorpusStats, Dedup, LinkAnalysis}

/** Round-14 verbs: k-core peeling, Fleiss' kappa, weight concentration
  * (Gini/Lorenz), and the portable LSH index eval — hand-computed
  * pins so the oracle queries cannot pass by symmetric mistakes. */
class GraphCorpusSpec extends SparkSpec {
  import spark.implicits._

  test("kcore: K4 + pendant peels to the K4 (unique fixpoint)") {
    // K4 on {1,2,3,4} plus pendant edge 4-5
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("x", "y")
    val core = LinkAnalysis.kcore(edges, "x", "y", k = 3)
      .orderBy("node").collect()
    assert(core.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // k=2: triangle {1,2,3} with a 2-path tail 3-4-5 keeps only the
    // triangle after two peel rounds (5 drops, then 4)
    val e2 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("x", "y")
    val c2 = LinkAnalysis.kcore(e2, "x", "y", k = 2)
      .orderBy("node").collect()
    assert(c2.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("kcore: everything below k yields an empty core, not a throw") {
    val path = Seq((1L, 2L), (2L, 3L)).toDF("x", "y")
    assert(LinkAnalysis.kcore(path, "x", "y", k = 2).isEmpty)
  }

  test("kcore: a graph needing exactly maxRounds peels converges") {
    // triangle {1,2,3} + tail 3-4-5 needs exactly 2 real peel rounds
    // at k=2 (drop 5, then 4); the fixpoint must be accepted with
    // maxRounds = 2 via the post-loop degree check, not require a
    // third round just to observe the empty drop
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("x", "y")
    val core = LinkAnalysis.kcore(e, "x", "y", k = 2, maxRounds = 2)
      .orderBy("node").collect()
    assert(core.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // one round short must still throw loudly
    assertThrows[IllegalArgumentException] {
      LinkAnalysis.kcore(e, "x", "y", k = 2, maxRounds = 1).collect()
    }
  }

  test("labelPropagation: hand-stepped sync rounds on path and triangle") {
    // path 1-2-3-4-5, two sync rounds (hand-stepped): l1 = {1:2, 2:1,
    // 3:2, 4:3, 5:4}; l2 = {1:1, 2:2, 3:1, 4:2, 5:3}
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("x", "y")
    val l2 = LinkAnalysis.labelPropagation(path, "x", "y", rounds = 2)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(l2 === Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 2L), (5L, 3L)))
    // triangle: min-tie-break collapses everyone onto label 1 by
    // round 2 (the converged single community)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("x", "y")
    val t2 = LinkAnalysis.labelPropagation(tri, "x", "y", rounds = 2)
      .collect().map(_.getLong(1)).toSet
    assert(t2 === Set(1L))
  }

  test("fleissKappa: perfect agreement pins 1e6 ppm") {
    val df = Seq((1L, "a", "a", "a"), (2L, "b", "b", "b"),
      (3L, "a", "a", "a"), (4L, "c", "c", "c"))
      .toDF("i", "r1", "r2", "r3")
    val r = Agreement.fleissKappa(df, col("i"),
      Seq(col("r1"), col("r2"), col("r3"))).collect()(0)
    assert(r.getAs[Long]("kappa_ppm") === 1000000L)
  }

  test("fleissKappa: hand-computed mixed case") {
    // N=2, m=3: item1 (a,a,b), item2 (b,b,b)
    // S2 = (4+1) + 9 = 14; nc: a=2, b=4 -> sum_nc2 = 4 + 16 = 20
    // A = (14-6)*6 - 20*2 = 8; B = (36-20)*2 = 32 -> 250000 ppm
    val df = Seq((1L, "a", "a", "b"), (2L, "b", "b", "b"))
      .toDF("i", "r1", "r2", "r3")
    val r = Agreement.fleissKappa(df, col("i"),
      Seq(col("r1"), col("r2"), col("r3"))).collect()(0)
    assert(r.getAs[Long]("s2") === 14L)
    assert(r.getAs[Long]("sum_nc2") === 20L)
    assert(r.getAs[Long]("kappa_ppm") === 250000L)
  }

  test("weightConcentration: hand-computed Gini + top decile") {
    // ten 1s + one 10: n=11, S=20, ranks ascending sum w=55+110=165
    // gini = (330 - 12*20)/(11*20) = 90/220 -> 409090 ppm (trunc)
    // top decile k = 11 div 10 = 1 -> the 10 -> 500000 ppm
    val df = (Seq.fill(10)(1L) :+ 10L).toDF("v")
    val r = CorpusStats.weightConcentration(df, col("v")).collect()(0)
    assert(r.getAs[Long]("n") === 11L)
    assert(r.getAs[Long]("total_weight") === 20L)
    assert(r.getAs[Long]("gini_ppm") === 409090L)
    assert(r.getAs[Long]("top_decile_share_ppm") === 500000L)
    // equal weights -> Gini 0
    val eq = Seq.fill(20)(7L).toDF("v")
    val re = CorpusStats.weightConcentration(eq, col("v")).collect()(0)
    assert(re.getAs[Long]("gini_ppm") === 0L)
    assert(re.getAs[Long]("top_decile_share_ppm") === 100000L)
  }

  test("weightConcentration: n < 10 still emits its one row (NULL decile)") {
    // k = 3 div 10 = 0: no decile threshold exists, but the verb must
    // emit one row like the oracle — gini from ranks 1·1+2·2+3·3 = 14:
    // (2·14 - 4·6)·1e6 div (3·6) = 222222 ppm, top decile NULL
    val df = Seq(1L, 2L, 3L).toDF("v")
    val rows = CorpusStats.weightConcentration(df, col("v")).collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[Long]("n") === 3L)
    assert(rows(0).getAs[Long]("gini_ppm") === 222222L)
    assert(rows(0).isNullAt(rows(0).fieldIndex("top_decile_share_ppm")))
  }

  test("weightConcentration: threshold tie group splits exactly") {
    // 20 items: ten 1s, ten 5s; k=2 from the 5s tie group
    // top share = 10/60 -> 166666 ppm
    val df = (Seq.fill(10)(1L) ++ Seq.fill(10)(5L)).toDF("v")
    val r = CorpusStats.weightConcentration(df, col("v")).collect()(0)
    assert(r.getAs[Long]("top_decile_share_ppm") === 166666L)
  }

  test("mutualInformation: independence pins 0, identity pins H") {
    // independent uniform 2x2 -> MI 0
    val ind = Seq(("a","x"),("a","y"),("b","x"),("b","y")).toDF("u","v")
    val ri = graft.numerics.Stats.mutualInformation(ind, col("u"),
      col("v")).collect()(0)
    assert(ri.getAs[Double]("mi_bits") === 0.0)
    // y == x on a uniform binary -> MI = H = 1 bit
    val dep = Seq(("a","a"),("b","b"),("a","a"),("b","b")).toDF("u","v")
    val rd = graft.numerics.Stats.mutualInformation(dep, col("u"),
      col("v")).collect()(0)
    assert(rd.getAs[Double]("mi_bits") === 1.0)
  }

  test("jsDivergence: identical pins 0, disjoint pins 1 bit") {
    val same = Seq((true,"w1"),(true,"w2"),(false,"w1"),(false,"w2"))
      .toDF("a","w")
    val rs = graft.llm.Drift.jsDivergence(same, col("a"), col("w"))
      .collect()(0)
    assert(rs.getAs[Double]("jsd_bits") === 0.0)
    val disj = Seq((true,"w1"),(true,"w2"),(false,"w3"),(false,"w4"))
      .toDF("a","w")
    val rdj = graft.llm.Drift.jsDivergence(disj, col("a"), col("w"))
      .collect()(0)
    assert(rdj.getAs[Double]("jsd_bits") === 1.0)
    assert(rdj.getAs[Long]("vocab_union") === 4L)
  }

  test("simplifiedSilhouette: tight separated clusters score near 1") {
    // two obvious 2-d clusters around (0,0) and (10,10); k=2, ids pick
    // one seed in each cluster
    val vecs = Seq(
      (0L, Seq(0.0f, 0.1f)), (2L, Seq(0.1f, 0.0f)), (4L, Seq(0.0f, 0.0f)),
      (1L, Seq(10.0f, 10.1f)), (3L, Seq(10.1f, 10.0f)),
      (5L, Seq(10.0f, 10.0f))).toDF("vec_id", "embedding")
    val r = Cluster.simplifiedSilhouette(vecs, "vec_id", "embedding",
      k = 2, iters = 2).collect()
    assert(r.length === 2)
    r.foreach(row =>
      assert(row.getAs[Double]("mean_silhouette") > 0.9,
        row.toString))
  }

  test("rocAuc: hand-computed midrank cases") {
    // perfect separation: positives all above negatives -> 1e6
    val perfect = Seq((0L, 0.1), (0L, 0.2), (1L, 0.8), (1L, 0.9))
      .toDF("y", "prob")
    val rp = Agreement.rocAuc(perfect, col("y"), col("prob"),
      v => floor(v * 10)).collect()(0)
    assert(rp.getAs[Long]("auc_ppm") === 1000000L)
    // inverted -> 0
    val inv = Seq((1L, 0.1), (1L, 0.2), (0L, 0.8), (0L, 0.9))
      .toDF("y", "prob")
    assert(Agreement.rocAuc(inv, col("y"), col("prob"),
      v => floor(v * 10)).collect()(0).getAs[Long]("auc_ppm") === 0L)
    // tie across classes: scores [0.5(+), 0.5(-), 0.9(+)]:
    // midranks 1.5, 1.5, 3; R+ = 4.5; AUC = (4.5 - 3)/(2*1) = 0.75
    val tied = Seq((1L, 0.5), (0L, 0.5), (1L, 0.9)).toDF("y", "prob")
    assert(Agreement.rocAuc(tied, col("y"), col("prob"),
      v => floor(v * 10)).collect()(0).getAs[Long]("auc_ppm") === 750000L)
    // degenerate single-class input -> NULL, not a throw
    val one = Seq((1L, 0.5), (1L, 0.7)).toDF("y", "prob")
    assert(Agreement.rocAuc(one, col("y"), col("prob"),
      v => floor(v * 10)).collect()(0).isNullAt(2))
  }

  test("rocAuc drops rows with a NULL label or score (skipna)") {
    def auc(rows: Seq[(Option[Long], Option[Double])]) =
      Agreement.rocAuc(rows.toDF("y", "prob"), col("y"), col("prob"),
        v => floor(v * 10)).select("n_pos", "n_neg", "auc_ppm")
        .as[(Long, Long, Long)].head()
    // a NULL label took a rank without counting as either class (AUC 2.0)
    assert(auc(Seq((Some(0L), Some(0.1)), (Some(1L), Some(0.9)),
      (None, Some(0.5)))) === ((1L, 1L, 1000000L)))
    // a NULL score fell into a NULL bucket (and threw while building)
    assert(auc(Seq((Some(0L), Some(0.1)), (Some(1L), Some(0.9)),
      (Some(1L), None))) === ((1L, 1L, 1000000L)))
  }

  test("lshIndexEval: identical docs are all caught (recall 1e6)") {
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((0L, txt), (1L, txt)).toDF("doc_id", "text")
    val r = Dedup.lshIndexEval(docs, "doc_id", "text").collect()(0)
    // 4 docs after planting (2 originals + 2 truncated copies). The
    // 10-token originals have 8 shingles, the 5-token copies 3 (all
    // shared) -> original-vs-copy J = 3/8 < 1/2, so truth is exactly
    // the two identical pairs (0,1) and (-2,-1); identical signatures
    // MUST bucket, so recall is 1e6
    assert(r.getAs[Long]("n_truth") === 2L)
    assert(r.getAs[Long]("n_cand") >= 2L)
    assert(r.getAs[Long]("recall_ppm") === 1000000L)
  }
}
