package graft

import org.apache.spark.sql.functions._
import graft.llm.{Cluster, Dedup, Packing, Sampling, TextAnalysis}

/** Sampling / mixing / packing / clustering / representative-selection
  * laws on small hand-built fixtures. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("stratified sample keeps exactly the sub-threshold buckets and is stable") {
    val df = (0L until 2000L).toDF("id").withColumn("s",
      when(col("id") % 2 === 0, "a").otherwise("b"))
    val out = Sampling.stratifiedSample(df, "id", "s", Map("a" -> 5000), 10000)
    // b rows (default 10000) all survive
    assert(out.filter(col("s") === "b").count() === 1000)
    val aKept = out.filter(col("s") === "a").count()
    // hash-threshold at 50%: binomial around 500, generous tolerance
    assert(aKept > 350 && aKept < 650, s"a kept $aKept")
    // determinism: same call, same rows
    val again = Sampling.stratifiedSample(df, "id", "s", Map("a" -> 5000), 10000)
    assert(out.select("id").except(again.select("id")).count() === 0)
    assert(again.select("id").except(out.select("id")).count() === 0)
  }

  test("exactStratifiedSample returns exactly n (or all of a small stratum), matching full-rank semantics") {
    import org.apache.spark.sql.expressions.Window
    val df = (0L until 3000L).toDF("id").withColumn("s",
      when(col("id") % 3 === 0, "big")
        .when(col("id") % 3 === 1, "mid").otherwise("tiny"))
      .filter(col("s") =!= "tiny" || col("id") < 30) // tiny stratum: 10 rows
    val out = Sampling.exactStratifiedSample(df, "id", "s", n = 25).cache()
    assert(out.filter(col("s") === "big").count() === 25)
    assert(out.filter(col("s") === "mid").count() === 25)
    assert(out.filter(col("s") === "tiny").count() === 10) // fewer than n -> all
    // equals the direct full-stratum ranking (the stated semantics)
    val hkey = md5(concat(col("id").cast("string"), lit("#exact")))
    val w = Window.partitionBy(col("s")).orderBy(hkey, col("id"))
    val direct = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 25).select("s", "id", "rank")
    assert(out.select("s", "id", "rank").except(direct).count() === 0)
    assert(direct.except(out.select("s", "id", "rank")).count() === 0)
  }

  test("mixSources epoch arithmetic: full copies + fractional draw, zero drops") {
    val df = (0L until 1000L).toDF("id").withColumn("src",
      when(col("id") < 300, "up").when(col("id") < 600, "drop").otherwise("keep"))
    val out = Sampling.mixSources(df, "id", "src",
      Map("up" -> 25000, "drop" -> 0), defaultBp = 10000).cache()
    // dropped source vanishes entirely
    assert(out.filter(col("src") === "drop").count() === 0)
    // weight 1.0 -> exactly one copy, index 0
    assert(out.filter(col("src") === "keep").count() === 400)
    assert(out.filter(col("src") === "keep" && col("copy") =!= 0).count() === 0)
    // weight 2.5 -> every doc has copies 0 and 1; ~half get copy 2
    val up = out.filter(col("src") === "up")
    assert(up.filter(col("copy") === 0).count() === 300)
    assert(up.filter(col("copy") === 1).count() === 300)
    val extra = up.filter(col("copy") === 2).count()
    assert(extra > 100 && extra < 200, s"extra $extra")
    assert(up.filter(col("copy") > 2).count() === 0)
  }

  test("mixToTokenBudget: epochs derive from TOKEN totals, not doc counts") {
    // source 'a': 4 docs x 25 tokens = 100 tokens; share 100% of a
    // 250-token budget -> epochs = 2.5 exactly (ebp = 25000): every doc
    // gets copies 0 and 1, ~half draw copy 2. Source 'b' is absent from
    // the shares and must vanish despite holding most of the documents.
    val df = ((0L until 4L).map(i => (i, "a", "w " * 24 + "w")) ++
      (100L until 200L).map(i => (i, "b", "x y z"))).toDF("id", "src", "txt")
    val out = Sampling.mixToTokenBudget(df, "id", "src",
      graft.llm.TextAnalysis.tokenCount(col("txt")),
      Map("a" -> 10000), budgetTokens = 250L).cache()
    assert(out.filter(col("src") === "b").count() === 0)
    val a = out.filter(col("src") === "a")
    assert(a.filter(col("copy") === 0).count() === 4)
    assert(a.filter(col("copy") === 1).count() === 4)
    assert(a.filter(col("copy") > 2).count() === 0)
    // the fractional draw follows bucketBp on the #mixtok salt exactly
    val drawn = a.filter(col("copy") === 2).select("id").as[Long]
      .collect().toSet
    val expect = (0L until 4L).filter { i =>
      df.sparkSession.range(1).select(
        Sampling.bucketBp(lit(i), "#mixtok").as[Long]).head() < 5000
    }.toSet
    assert(drawn == expect, s"drawn $drawn expect $expect")
  }

  test("packSequences offsets are a prefix sum; chunk boundaries are honoured") {
    val docs = Seq((0L, 10L), (1L, 0L), (2L, 95L), (3L, 7L), (4L, 120L))
      .toDF("id", "n")
    val out = Packing.packSequences(docs, "id", col("n"), seqLen = 100)
      .orderBy("id").collect()
    val starts = out.map(_.getAs[Long]("start_off"))
    val ends = out.map(_.getAs[Long]("end_off"))
    assert(starts.toSeq === Seq(0L, 10L, 10L, 105L, 112L))
    assert(ends.toSeq === Seq(10L, 10L, 105L, 112L, 232L))
    // doc 2 straddles the 100-token boundary: sequences 0..1
    val d2 = out(2)
    assert(d2.getAs[Long]("seq_first") === 0L)
    assert(d2.getAs[Long]("seq_last") === 1L)
    assert(d2.getAs[Long]("pos_in_seq") === 10L)
    // zero-token doc collapses to its boundary
    assert(out(1).getAs[Long]("seq_first") === out(1).getAs[Long]("seq_last"))
    // doc 4 spans sequences 1..2 (112 -> 232)
    assert(out(4).getAs[Long]("seq_first") === 1L)
    assert(out(4).getAs[Long]("seq_last") === 2L)
  }

  test("packSequences matches the sequential fold on a larger random fixture") {
    val rng = new scala.util.Random(7)
    val rows = (0L until 500L).map(i => (i, rng.nextInt(50).toLong))
    val out = Packing.packSequences(rows.toDF("id", "n"), "id", col("n"), 64)
      .orderBy("id").select("start_off").as[Long].collect()
    val expect = rows.map(_._2).scanLeft(0L)(_ + _).init
    assert(out.toSeq === expect)
  }

  test("degenerate inputs: empty frames and k > n never throw") {
    import org.apache.spark.sql.types._
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType),
        StructField("s", StringType), StructField("n", LongType))))
    assert(Sampling.stratifiedSample(emptyDocs, "id", "s",
      Map("a" -> 5000)).count() === 0)
    assert(Sampling.exactStratifiedSample(emptyDocs, "id", "s", 5)
      .count() === 0)
    assert(Sampling.mixSources(emptyDocs, "id", "s",
      Map("a" -> 25000)).count() === 0)
    assert(Packing.packSequences(emptyDocs, "id", col("n"), 128)
      .count() === 0)
    assert(Packing.packSequencesPadded(emptyDocs, "id", col("n"), 128,
      lit(0)).count() === 0)
    // k-means with fewer vectors than k: surviving centroids only
    val tiny = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("id", "v")
    val km = Cluster.kmeans(tiny, "id", "v", k = 5, iters = 2)
    assert(km.count() === 2)
    assert(km.select("cluster").as[Int].collect().toSet.subsetOf(Set(0, 1)))
    // excision with no duplicates: empty result
    val uniq = Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789abcd"))
      .toDF("doc_id", "text")
    assert(graft.llm.Dedup.exciseDuplicateSpans(uniq, "doc_id", "text",
      gramLen = 20, stride = 5).count() === 0)
  }

  test("bloomPrefilter: planted overlaps always survive; disjoint text mostly drops") {
    val ref = (0L until 500L).map(i => (i, s"reference document number $i unique body"))
      .toDF("doc_id", "text")
    // candidates: 50 verbatim copies of ref docs + 450 fresh docs
    val cands = ((0L until 50L).map(i => (1000 + i, s"reference document number $i unique body")) ++
      (0L until 450L).map(i => (2000 + i, s"completely fresh candidate text $i")))
      .toDF("doc_id", "text")
    val kept = graft.llm.Dedup.bloomPrefilter(ref, cands, "text",
      expectedItems = 500, fpp = 0.01)
    val ids = kept.select("doc_id").as[Long].collect().toSet
    // NO false negatives: every planted duplicate survives
    assert((1000L until 1050L).forall(ids.contains))
    // false positives bounded: far fewer than the 450 fresh docs remain
    assert(ids.count(_ >= 2000L) < 45, s"fp count ${ids.count(_ >= 2000L)}")
  }

  test("connectedComponents on an empty pair set returns empty (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.llm.Dedup.connectedComponents(empty, "id_a", "id_b")
      .count() === 0)
  }

  test("runningSum uses a ROWS frame: tied order keys get per-row sums") {
    val df = Seq((1L, 10L), (5L, 10L), (5L, 20L), (9L, 5L)).toDF("k", "v")
    val sums = graft.model.Positions.runningSum(df, col("k"), col("v"), "s")
      .orderBy("s").select("s").as[Long].collect().toSeq
    // ties on k=5 must still accumulate row-by-row: 10, 20|30, 30|40, 45
    assert(sums === Seq(10L, 20L, 40L, 45L) || sums === Seq(10L, 30L, 40L, 45L))
    assert(sums.last === 45L && sums.distinct.size === 4)
  }

  test("exactStratifiedSample keeps NULL strata as their own stratum") {
    val df = (0L until 100L).toDF("id").withColumn("s",
      when(col("id") < 50, lit("a")).otherwise(lit(null).cast("string")))
    val out = Sampling.exactStratifiedSample(df, "id", "s", n = 10).cache()
    assert(out.filter(col("s").isNull).count() === 10)
    assert(out.filter(col("s") === "a").count() === 10)
  }

  test("packSequencesPadded: docs never straddle; oversized docs are capped") {
    // one shard; seqLen 100: [60, 50(->new seq), 40, 10, 250(cap->new), 5]
    val docs = Seq((0L, 60L), (1L, 50L), (2L, 40L), (3L, 10L), (4L, 250L),
      (5L, 5L)).toDF("id", "n")
    val out = Packing.packSequencesPadded(docs, "id", col("n"), 100, lit(0))
      .orderBy("id").select("seq", "pos", "eff")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((0L, 0L, 60L), (1L, 0L, 50L), (1L, 50L, 40L),
      (1L, 90L, 10L), (2L, 0L, 100L), (3L, 0L, 5L)))
    // every (seq, doc) span stays inside the sequence
    assert(out.forall { case (_, pos, eff) => pos + eff <= 100 })
  }

  test("packSequencesPadded shards pack independently and match a sequential fold") {
    val rng = new scala.util.Random(13)
    val rows = (0L until 400L).map(i => (i, rng.nextInt(80).toLong + 1))
    val out = Packing.packSequencesPadded(rows.toDF("id", "n"), "id",
      col("n"), 128, pmod(col("id"), lit(4)))
      .orderBy("id").select("id", "seq", "pos").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    for (sh <- 0 until 4) {
      var seq = 0L; var end = 0L
      rows.filter(_._1 % 4 == sh).foreach { case (i, n) =>
        if (end + n > 128) { seq += 1; end = 0 }
        assert(out(i) === ((seq, end)), s"doc $i")
        end += n
      }
    }
  }

  test("kmeans: converged fixture recovers the planted clusters") {
    // two tight blobs in 4-d; k=2 seeded by the two lowest ids, one per blob
    val blobA = (0 until 10).map(i =>
      (i.toLong * 2, Seq(1f, 1f, 0f, i / 100f)))
    val blobB = (0 until 10).map(i =>
      (i.toLong * 2 + 1, Seq(-1f, -1f, 0f, i / 100f)))
    val vecs = (blobA ++ blobB).toDF("id", "v")
    val out = Cluster.kmeans(vecs, "id", "v", k = 2, iters = 3)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    assert(blobA.forall { case (i, _) => out(i) === 0 })
    assert(blobB.forall { case (i, _) => out(i) === 1 })
  }

  test("kmeans assignment tie-breaks to the lowest centroid index") {
    val vecs = Seq((0L, Seq(1f, 0f)), (1L, Seq(-1f, 0f)), (2L, Seq(0f, 5f)))
      .toDF("id", "v")
    // equidistant point (0,5) from both centroids -> cluster 0
    val a = Cluster.assign(vecs, "v",
      Array(Array(1d, 0d), Array(-1d, 0d)))
      .filter(col("id") === 2).select("cluster").as[Int].head()
    assert(a === 0)
  }

  test("exciseDuplicateSpans cuts exactly the shared span, keeps the rest") {
    val shared = "0123456789" * 2           // 20-char window, stride 20
    val docs = Seq(
      (1L, "AAAA" + shared + "BBBB"),       // span at 4..24? windows at 0,20 only
      (2L, shared + "CCCCCCCCCCCCCCCCCCCC"),
      (3L, "totally unrelated text here!")
    ).toDF("doc_id", "text")
    // gram 20 stride 1: every shared 20-char window is flagged in docs 1+2
    val out = graft.llm.Dedup.exciseDuplicateSpans(docs, "doc_id", "text",
      gramLen = 20, stride = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    // doc 2's duplicate prefix excised; tail C's survive
    assert(out(2L)._3 === "CCCCCCCCCCCCCCCCCCCC")
    assert(out(2L)._1 === 1L && out(2L)._2 === 20L)
    // doc 1 keeps its unique frame around the cut span
    assert(out(1L)._3 === "AAAA" + "BBBB")
    assert(!out.contains(3L))               // untouched doc absent
  }

  test("bigram perplexity: formulaic docs score lower NLL than unique-token docs") {
    val common = Seq.fill(20)("the cat sat").mkString(" ")
    val docs = Seq(
      (1L, common), (2L, common), (3L, common),
      (4L, "zq xw vv uu tt ss rr qq pp oo nn mm")
    ).toDF("doc_id", "text")
    val out = graft.llm.NgramLM.bigramPerplexity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 === 59L)  // 60 tokens -> 59 bigrams
    assert(out(4L)._1 === 11L)
    assert(out(1L)._2 < out(4L)._2, s"common ${out(1L)._2} vs rare ${out(4L)._2}")
  }

  test("tfidf ranks a doc-exclusive term above corpus-wide terms") {
    val docs = Seq(
      (1L, "shared words here and xylophone xylophone xylophone"),
      (2L, "shared words here and more filler text"),
      (3L, "shared words here and other common stuff")
    ).toDF("doc_id", "text")
    val top = graft.llm.Tfidf.topTerms(docs, "doc_id", "text", k = 1)
      .filter(col("doc_id") === 1L).select("term").as[String].head()
    assert(top === "xylophone")
  }

  test("semDedup prunes every planted exact-double at cosine 1") {
    val rng = new scala.util.Random(11)
    val base = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rng.nextGaussian())))
    val df = base.toDF("id", "v")
    val all = df.unionByName(df.select((col("id") + 100L).as("id"),
      transform(col("v"), x => x * 2d).as("v")))
    val out = graft.llm.Dedup.semDedup(all, "id", "v",
      k = 2, iters = 1, threshold = 0.95).cache()
    val pruned = out.select("id").as[Long].collect().toSet
    assert((100L until 140L).forall(pruned.contains))
    val cos = out.filter(col("id") >= 100L)
      .select("max_cos").as[Double].collect()
    assert(cos.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("qualityFlags: each rule trips on its own pathological doc") {
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "the cat and the dog ran to the park of dreams and all was fine there today"),
      (2L, "a b"),                                        // too short
      (3L, Seq.fill(20)("spam spam").mkString(" ")),      // repetitive
      (4L, Seq.fill(20)("xxxxxxxxxxxxxxxxxxxx").mkString(" ")) // long tokens, no stopwords
    ).toDF("id", "text")
    val f = TextAnalysis.qualityFlags(col("text"), Seq("the", "a", "of", "and", "to"),
      minTokens = 10, maxTokens = 100, minMeanTokLen = 2.0,
      maxMeanTokLen = 8.0, minStopwordRatio = 0.05, maxDupNgramRatio = 0.5)
    val rows = docs.withColumn("f", f).select("id", "f.*")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(rows(1L) === ((true, true, true, true)))
    assert(rows(2L)._1 === false)              // length rule
    assert(rows(3L)._4 === false)              // repetition rule
    assert(rows(4L)._2 === false || rows(4L)._3 === false) // tok-len / stopword
  }

  test("familyRepresentatives keeps max-quality (tie -> min id) per family") {
    val fams = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L), (9L, 5L))
      .toDF("doc_id", "q")
    val out = Dedup.familyRepresentatives(docs, fams, "doc_id", col("q"))
      .orderBy("cluster_id").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("keep_id") === 2L)   // 30-tie -> min id
    assert(out(0).getAs[Long]("family_size") === 3L)
    assert(out(0).getAs[Long]("dropped_docs") === 2L)
    assert(out(1).getAs[Long]("keep_id") === 7L)   // 5-tie -> min id
  }

  test("DSIR weights rank target-like documents above off-domain ones") {
    import graft.llm.Dsir
    // target corpus: medical-ish vocabulary; raw corpus: mixed. The doc
    // written in target vocabulary must out-score the off-domain doc.
    val docs = Seq(
      (1L, true, "patient dose trial clinical patient dose"),
      (2L, true, "clinical trial dose patient outcome"),
      (10L, false, "football match score goal referee"),
      (11L, false, "patient dose clinical trial outcome dose"), // target-like
      (12L, false, "recipe butter flour sugar oven")
    ).toDF("doc_id", "is_t", "text")
    val w = Dsir.importanceWeights(docs, col("is_t"), "text", "doc_id",
      buckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.size === 5)
    assert(w.values.forall(v => !v.isNaN && !v.isInfinite))
    assert(w(11L) > w(10L), s"target-like ${w(11L)} !> off-domain ${w(10L)}")
    assert(w(11L) > w(12L), s"target-like ${w(11L)} !> off-domain ${w(12L)}")
    // deterministic: same call, same weights
    val again = Dsir.importanceWeights(docs, col("is_t"), "text", "doc_id",
      buckets = 1024).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again === w)
    // single-token doc produces no bigrams and still scores finitely
    val tiny = Seq((1L, true, "word"), (2L, false, "word")).toDF("doc_id", "is_t", "text")
    val tw = Dsir.importanceWeights(tiny, col("is_t"), "text", "doc_id", 64)
      .collect()
    assert(tw.length === 2 && tw.forall(r => !r.getDouble(1).isNaN))
  }

  test("SQ8 quantization: codes in [0,255], error <= half a step, top-1 matches brute force") {
    import graft.llm.Similarity
    // unit-normalized fixture: sq8TopK ranks by inner product (MIPS), so
    // on unit vectors its ranking must agree with the cosine brute force
    def unit(xs: Double*): Array[Float] = {
      val n = math.sqrt(xs.map(x => x * x).sum)
      xs.map(x => (x / n).toFloat).toArray
    }
    val vecs = Seq(
      (0L, unit(1.0, 0.0, 0.2)),
      (1L, unit(0.9, 0.1, 0.1)),
      (2L, unit(-1.0, 0.8, 0.0)),
      (3L, unit(-0.9, 0.9, -0.1)),
      (4L, unit(0.0, -1.0, 0.7))
    ).toDF("vec_id", "embedding")
    val stats = Similarity.sq8Stats(vecs, "embedding")
    val enc = vecs.crossJoin(broadcast(stats))
      .withColumn("codes",
        Similarity.sq8Encode(col("embedding"), col("mns"), col("mxs")))
      .withColumn("dq",
        Similarity.sq8Decode(col("codes"), col("mns"), col("mxs")))
    val rows = enc.select("embedding", "codes", "dq", "mns", "mxs").collect()
    rows.foreach { r =>
      val x = r.getSeq[Float](0); val c = r.getSeq[Long](1)
      val d = r.getSeq[Double](2)
      val mn = r.getSeq[Double](3); val mx = r.getSeq[Double](4)
      c.foreach(v => assert(v >= 0 && v <= 255, s"code $v out of range"))
      x.indices.foreach { i =>
        val step = (mx(i) - mn(i)) / 255.0
        assert(math.abs(d(i) - x(i)) <= step / 2 + 1e-12,
          s"dequant err ${math.abs(d(i) - x(i))} > half-step ${step / 2}")
      }
    }
    // well-separated clusters: quantized top-1 == exact top-1
    val probes = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val sq = Similarity.sq8TopK(vecs, probes, "vec_id", "probe_id",
      "embedding", k = 1)
      .select("probe_id", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bf = Similarity.bruteForceTopK(vecs, probes, "vec_id", "probe_id",
      "embedding", k = 1)
      .select("probe_id", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sq === bf, s"sq8 top-1 $sq != brute top-1 $bf")
  }

  test("BPE training: frequency-ordered merges, tie-break, exhaustion") {
    import graft.llm.Bpe
    // words: he x3, hem x2, she x1 ->
    //   r1 (h,e) cnt 6; r2 (he,m) cnt 2; r3 (s,he) cnt 1; then no pairs
    val docs = Seq((1L, "he he he hem"), (2L, "hem she"))
      .toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", rounds = 4)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq === Seq(
      (1, "h", "e", 6L), (2, "he", "m", 2L), (3, "s", "he", 1L)))
    // non-letter tokens are excluded from the dictionary
    val noisy = Seq((1L, "ab ab 123 a-b !")).toDF("doc_id", "text")
    val m2 = Bpe.train(noisy, "text", rounds = 2).collect()
    assert(m2.length === 1 &&
      m2.head.getString(1) == "a" && m2.head.getString(2) == "b")
    // encode = the merge chain applied: after merges (h,e) and (he,m),
    // he and hem are single symbols; she is still "s he" (2)
    val enc = Bpe.encodedCounts(docs, "text", rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(enc === Map("he" -> 1L, "hem" -> 1L, "she" -> 2L))
    // ADJACENT REPEATS of the merged pair (the Sennrich greedy contract):
    // banana + (a,n) must give b|an|an|a — 4 symbols, BOTH an's merged
    // (a separator-sharing representation merges only the first)
    val ban = Seq((1L, "banana banana")).toDF("doc_id", "text")
    val bm = Bpe.train(ban, "text", rounds = 2)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // r1: (a,n) cnt 4 beats (n,a) on the lexicographic tie-break;
    // r2: from b|an|an|a the pairs tie at 2, (an,a) < (an,an) < (b,an)
    assert(bm.toSeq === Seq((1, "a", "n", 4L), (2, "an", "a", 2L)))
    val benc = Bpe.encodedCounts(ban, "text", rounds = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(benc === Map("banana" -> 4L),
      s"banana after (a,n) must be b|an|an|a, got $benc")
  }

  test("batched BPE is bit-identical to one-merge-at-a-time training") {
    import graft.llm.Bpe
    // driver-side sequential reference: classic Sennrich loop, one merge
    // per pass, greedy leftmost replace, (cnt desc, l, r) pick order
    def seqBpe(freq: Map[String, Long],
               rounds: Int): Seq[(Int, String, String, Long)] = {
      var dict: Map[String, (Vector[String], Long)] =
        freq.map { case (w, f) => w -> (w.split("").toVector, f) }
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, Long)]
      var r = 1
      var done = false
      while (r <= rounds && !done) {
        val counts = scala.collection.mutable.Map
          .empty[(String, String), Long].withDefaultValue(0L)
        for ((_, (syms, f)) <- dict; i <- 0 until syms.length - 1)
          counts((syms(i), syms(i + 1))) += f
        if (counts.isEmpty) done = true
        else {
          val ((l, rr), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
          out += ((r, l, rr, cnt))
          dict = dict.map { case (w, (syms, f)) =>
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == rr) {
                b += (l + rr); i += 2
              } else { b += syms(i); i += 1 }
            }
            w -> (b.result(), f)
          }
          r += 1
        }
      }
      out.toSeq
    }
    // seeded random corpus over a 5-letter alphabet: rich enough to hit
    // the batch gates (shared symbols, created-symbol collisions, bound
    // stops) across 12 passes
    val rnd = new scala.util.Random(7)
    val words = Seq.fill(60)(
      (1 to 3 + rnd.nextInt(4)).map(_ => ('a' + rnd.nextInt(5)).toChar)
        .mkString)
    val docs = Seq((1L, words.take(30).mkString(" ")),
      (2L, words.drop(30).mkString(" "))).toDF("doc_id", "text")
    val freq = words.groupBy(identity).map { case (w, ws) =>
      w -> ws.size.toLong }
    val expect = seqBpe(freq, 12)
    val got = Bpe.train(docs, "text", rounds = 12)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got === expect)
    // fully disjoint pairs: the case where one pass accepts several
    // merges at once must still match the sequential table exactly
    val dis = Seq((1L, ("ab " * 8 + "cd " * 6 + "ef " * 4).trim))
      .toDF("doc_id", "text")
    val got2 = Bpe.train(dis, "text", rounds = 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got2.toSeq === Seq(
      (1, "a", "b", 8L), (2, "c", "d", 6L), (3, "e", "f", 4L)))
  }

  test("quality classifier: 2 GD epochs separate a disjoint-vocabulary corpus") {
    import graft.llm.Classifier
    val good = (0 until 20).map(i =>
      (i.toLong, "excellent superb wonderful great amazing " * 3, 1))
    val bad = (20 until 40).map(i =>
      (i.toLong, "terrible awful horrid nasty dire " * 3, 0))
    val docs = (good ++ bad).toDF("doc_id", "text", "yy")
    val out = Classifier.trainScore(docs, "text", "doc_id", col("yy"),
      buckets = 64, epochs = 2, lr = 0.5).collect()
    assert(out.length === 40)
    // epoch 1's gradient already signs every class-exclusive bucket
    // correctly, so a disjoint vocabulary must classify perfectly
    val acc = out.count(r => r.getInt(2) == r.getLong(3)).toDouble / 40
    assert(acc == 1.0, s"separable corpus accuracy $acc")
    // probabilities are well-ordered between the classes
    val pGood = out.filter(_.getLong(3) == 1L).map(_.getDouble(1))
    val pBad = out.filter(_.getLong(3) == 0L).map(_.getDouble(1))
    assert(pGood.min > pBad.max,
      s"class probabilities overlap: ${pGood.min} <= ${pBad.max}")
  }

  test("drift PSI: identical windows score exactly 0, a shifted one doesn't") {
    import graft.llm.Drift
    import java.sql.Timestamp
    val ref = Timestamp.valueOf("2024-01-01 00:00:00")
    val cur = Timestamp.valueOf("2024-02-01 00:00:00")
    // same per-bin histogram on both sides -> every term is (p-p)ln(1) = 0
    val same = (0 until 100).flatMap(i =>
      Seq(("a", i * 5.0 % 500.0, ref), ("a", i * 5.0 % 500.0, cur)))
      .toDF("g", "value", "ts")
    val psi0 = Drift.psi(same, "g", "value", "ts", "2024-01-16",
      bins = 10, lo = 0.0, hi = 500.0).head()
    assert(psi0.getDouble(3) === 0.0)
    assert(psi0.getLong(1) === 100L && psi0.getLong(2) === 100L)
    // mass moved from the bottom to the top bin -> strictly positive PSI
    val shifted = ((0 until 100).map(i => ("a", 10.0, ref)) ++
      (0 until 100).map(i => ("a", 490.0, cur))).toDF("g", "value", "ts")
    val psi1 = Drift.psi(shifted, "g", "value", "ts", "2024-01-16",
      bins = 10, lo = 0.0, hi = 500.0).head().getDouble(3)
    assert(psi1 > 1.0, s"shifted PSI $psi1") // far past the 0.25 alarm
  }

  test("word entropy: uniform tokens hit log2(k), repetition scores 0") {
    val df = Seq(
      (1L, "a b c d"),       // 4 distinct once each -> H = log2(4) = 2
      (2L, "x x x x x"),     // single type -> H = 0
      (3L, "a a b b")        // two types, uniform -> H = 1
    ).toDF("doc_id", "text")
    val out = TextAnalysis.wordEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) === ((4L, 4L, 2.0)))
    assert(out(2L) === ((5L, 1L, 0.0)))
    assert(out(3L) === ((4L, 2L, 1.0)))
  }

  test("length buckets: power-of-two caps, batch count, exact waste") {
    val docs = Seq(
      (1L, 5L), (2L, 8L), (3L, 7L),   // bucket 8: 3 docs, 20 tokens
      (4L, 9L),                       // bucket 16: 1 doc
      (5L, 1L)                        // bucket 1: exact fit, zero waste
    ).toDF("doc_id", "n")
    val out = Packing.lengthBuckets(docs, "doc_id", col("n"), batch = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(out(8L) === ((3L, 2L, 20L, 24L, 4L)))   // ceil(3/2)=2 batches
    assert(out(16L) === ((1L, 1L, 9L, 16L, 7L)))
    assert(out(1L) === ((1L, 1L, 1L, 1L, 0L)))
  }

  test("vocab overlap: ppm Jaccard over distinct per-source vocabularies") {
    val df = Seq(
      (1L, "sa", "a b c"), (2L, "sa", "a b"),     // Va = {a,b,c}
      (3L, "sb", "b c d"),                        // Vb = {b,c,d}
      (4L, "sc", "x y")                           // Vc disjoint
    ).toDF("doc_id", "src", "text")
    val out = TextAnalysis.vocabOverlap(df, "src", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // |{b,c}| / |{a,b,c,d}| = 2/4 -> 500000 ppm
    assert(out(("sa", "sb")) === ((3L, 3L, 2L, 500000L)))
    // disjoint pairs never materialize (inner join on shared words)
    assert(!out.contains(("sa", "sc")) && !out.contains(("sb", "sc")))
  }

  test("cohen's kappa: perfect 1e6, disjoint marginals exact, chance NULL") {
    import graft.llm.Agreement
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a")).toDF("t", "p")
    val kp = Agreement.cohensKappa(perfect, col("t"), col("p")).head()
    assert(kp.getLong(3) === 1000000L)
    // hand case: n=4, agree=2, marginals t:(a2,b2) p:(a2,b2) -> sum_rc=8
    // kappa = (8-8)/(16-8) = 0
    val mixed = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b"))
      .toDF("t", "p")
    assert(Agreement.cohensKappa(mixed, col("t"), col("p"))
      .head().getLong(3) === 0L)
    // degenerate: one category both sides -> pe = 1 -> NULL (undefined)
    val const = Seq(("a", "a"), ("a", "a")).toDF("t", "p")
    assert(Agreement.cohensKappa(const, col("t"), col("p"))
      .head().isNullAt(3))
    // systematically swapped labels: kappa = (0-8)/(16-8) = exactly -1e6
    // (the negative regime where truncating-division parity matters)
    val swapped = Seq(("a", "b"), ("a", "b"), ("b", "a"), ("b", "a"))
      .toDF("t", "p")
    assert(Agreement.cohensKappa(swapped, col("t"), col("p"))
      .head().getLong(3) === -1000000L)
  }

  test("class report: hand confusion counts; absent-side classes guarded") {
    import graft.llm.Agreement
    val df = Seq(("x", "x"), ("x", "y"), ("y", "y"), ("z", "y"))
      .toDF("t", "p")
    def opt(r: org.apache.spark.sql.Row, i: Int): Long =
      if (r.isNullAt(i)) -1L else r.getLong(i)
    val m = Agreement.classReport(df, col("t"), col("p"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          opt(r, 4), opt(r, 5), opt(r, 6))).toMap
    // x: tp=1 fp=0 fn=1 -> precision 1e6, recall 5e5, f1 = 2/(2+1)
    assert(m("x") === ((1L, 0L, 1L, 1000000L, 500000L, 666666L)))
    // y: tp=1 fp=2 fn=0 -> precision 333333, recall 1e6, f1 = 2/(2+2)
    assert(m("y") === ((1L, 2L, 0L, 333333L, 1000000L, 500000L)))
    // z: never predicted -> precision NULL, recall 0, f1 = 0/(0+1)
    assert(m("z") === ((0L, 0L, 1L, -1L, 0L, 0L)))
  }

  test("pagerank: hand-computed fixed-point iteration on a 3-node graph") {
    import graft.llm.LinkAnalysis
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L)).toDF("s", "d")
    val r1 = LinkAnalysis.pagerank(nodes, edges, "id", "s", "d", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r0 = 1e12 div 3 = 333333333333; base = 3e12 div 60 = 50000000000
    // node 1 <- node 2's full rank: 5e10 + (17*333333333333) div 20
    assert(r1(1L) === 50000000000L + (17L * 333333333333L) / 20L)
    // nodes 2,3 <- half of node 1's rank (deg 2, floor)
    val half = 333333333333L / 2
    assert(r1(2L) === 50000000000L + (17L * half) / 20L)
    assert(r1(3L) === r1(2L))
    // a node with no in-edges keeps exactly the teleport term
    val edges2 = Seq((1L, 2L)).toDF("s", "d")
    val r = LinkAnalysis.pagerank(nodes, edges2, "id", "s", "d", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r(1L) === 50000000000L && r(3L) === 50000000000L)
    // iters = 0 is the uniform start
    val r0 = LinkAnalysis.pagerank(nodes, edges, "id", "s", "d", iters = 0)
      .collect().map(_.getLong(1)).toSet
    assert(r0 === Set(333333333333L))
  }

  test("also-took: lift favors exclusive pairs over popular ones") {
    import graft.llm.LinkAnalysis
    // items 1,2 ALWAYS co-occur exclusively; item 9 is in every basket
    val baskets = Seq(
      (1L, 1L), (1L, 2L), (1L, 9L),
      (2L, 1L), (2L, 2L), (2L, 9L),
      (3L, 4L), (3L, 9L), (4L, 5L), (4L, 9L))
      .toDF("b", "i")
    val out = LinkAnalysis.alsoTook(baskets, "b", "i", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        (r.getLong(1), r.getLong(3))).toMap
    // for item 1: lift(2) = 2*4e9/(2*2) = 2e9; lift(9) = 2*4e9/(2*4) = 1e9
    assert(out((1L, 1)) === ((2L, 2000000000L)))
    assert(out((1L, 2)) === ((9L, 1000000000L)))
    // presence-based: duplicating a row changes nothing
    val dup = baskets.union(Seq((1L, 2L)).toDF("b", "i"))
    val out2 = LinkAnalysis.alsoTook(dup, "b", "i", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        (r.getLong(1), r.getLong(3))).toMap
    assert(out2 === out)
  }

  test("weighted sample: deterministic, exact-n, heavy rows dominate") {
    val df = (1L to 1000L).toDF("id")
      .withColumn("w", when(col("id") <= 100, 1000.0).otherwise(1.0))
    val out = Sampling.weightedSample(df, "id", col("w"), n = 50).collect()
    assert(out.length === 50)
    assert(out.map(_.getInt(3)).sorted.toSeq === (1 to 50))
    // 100 heavy rows carry ~99% of the total weight: essentially the
    // whole sample should be heavy (binomial tail makes <40 impossible)
    val heavy = out.count(_.getLong(0) <= 100L)
    assert(heavy >= 40, s"only $heavy/50 heavy rows sampled")
    // reproducible draw: a second invocation returns the identical set
    val again = Sampling.weightedSample(df, "id", col("w"), n = 50)
      .collect().map(_.getLong(0)).toSet
    assert(again === out.map(_.getLong(0)).toSet)
  }

  test("balanced downsample caps every cluster at the smallest's size") {
    val assigned = Seq(
      (1L, 0, 0.1), (2L, 0, 0.3), (3L, 0, 0.2),   // cluster 0: 3 rows
      (4L, 1, 0.5), (5L, 1, 0.4)                  // cluster 1: 2 rows (min)
    ).toDF("id", "cluster", "d2")
    val out = Cluster.balancedDownsample(assigned, "id")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2),
        r.getBoolean(3))).toMap
    // cap = 2: cluster 0 keeps its two centroid-closest (d2 asc) rows
    assert(out(1L) === ((0, 1, true)))
    assert(out(3L) === ((0, 2, true)))
    assert(out(2L) === ((0, 3, false)))
    assert(out(5L) === ((1, 1, true)) && out(4L) === ((1, 2, true)))
  }

  test("mutualNN: returned pairs are each other's top-1 within the cell; " +
    "one-sided crushes don't survive") {
    import graft.llm.Similarity
    def unit(xs: Double*): Array[Float] = {
      val n = math.sqrt(xs.map(x => x * x).sum)
      xs.map(x => (x / n).toFloat).toArray
    }
    // one cell; evens = {0, 2, 4}, odds = {1, 3, 5}
    // 0 <-> 1 mutual; 2's top-1 is 1 (taken: 1 prefers 0) -> 2 unmatched;
    // 4 <-> 5 mutual in the orthogonal direction
    val vecs = Seq(
      (0L, unit(1.0, 0.0, 0.0)),
      (1L, unit(0.99, 0.1, 0.0)),
      (2L, unit(0.9, 0.3, 0.0)),
      (3L, unit(0.5, 0.5, 0.0)),
      (4L, unit(0.0, 0.0, 1.0)),
      (5L, unit(0.0, 0.1, 0.99))
    ).toDF("vec_id", "embedding")
      .withColumn("cell_id", lit(0))
      .withColumn("side", (col("vec_id") % 2).cast("int"))
    val out = Similarity.mutualNN(vecs, "vec_id", "embedding",
        "cell_id", "side")
      .orderBy("a_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1L), (4L, 5L)))
    // brute mutual check: every returned pair is a two-way top-1
    val all = vecs.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for ((aId, bId) <- out) {
      val bestB = Seq(1L, 3L, 5L).maxBy(x => (cos(all(aId), all(x)), -x))
      val bestA = Seq(0L, 2L, 4L).maxBy(x => (cos(all(bId), all(x)), -x))
      assert(bestB == bId && bestA == aId)
    }
  }

  test("zipfFit recovers the slope of a planted power law") {
    import graft.llm.CorpusStats
    // vocabulary where token t_r appears ~C/r times: slope -> -1
    val docs = (1 to 50).flatMap(r =>
      Seq.fill(math.max(1, 1000 / r))(s"t${"%03d".format(r)}"))
    val df = Seq(docs.mkString(" ")).toDF("text")
    val row = CorpusStats.zipfFit(df, "text", topK = 50).head()
    assert(row.getLong(0) == 50L)
    val slope = row.getDouble(1)
    assert(slope < -0.9 && slope > -1.1, s"slope $slope not ~ -1")
  }

  test("triangles: hand graph counts, then brute-force on a hashed random graph") {
    import graft.llm.LinkAnalysis
    // two triangles sharing node 3, plus a pendant edge (5,6); input is
    // noisy: duplicates, both directions, a self-loop
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 3L), (5L, 6L), (2L, 1L), (1L, 2L), (4L, 4L)).toDF("s", "d")
    val out = LinkAnalysis.triangles(edges, "s", "d")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // deg: 1:2 2:2 3:4 4:2 5:3 (6 has deg 1 -> excluded)
    assert(!out.contains(6L))
    assert(out(1L) === ((2L, 1L, 1000000L)))
    assert(out(2L) === ((2L, 1L, 1000000L)))
    assert(out(3L) === ((4L, 2L, 333333L))) // 2*2e6 div 12
    assert(out(4L) === ((2L, 1L, 1000000L)))
    assert(out(5L) === ((3L, 1L, 333333L))) // 2e6 div 6
    // brute force: 40-node hash-deterministic graph, count triples
    val n = 40
    def has(a: Int, b: Int): Boolean =
      a != b && ((a * 31 + b) * (b * 31 + a)) % 7 == 0
    val re = (for (a <- 0 until n; b <- a + 1 until n if has(a, b))
      yield (a.toLong, b.toLong))
    val brute = (for (a <- 0 until n; b <- a + 1 until n;
                      c <- b + 1 until n
                      if has(a, b) && has(b, c) && has(a, c)) yield 1).size
    val got = LinkAnalysis.triangles(re.toDF("s", "d"), "s", "d")
      .agg(sum(col("triangles"))).head().getLong(0)
    assert(got === 3L * brute, s"3x$brute triangles expected, got $got")
  }

  test("winnow: coverage guarantee, shared fingerprints on planted plagiarism") {
    // doc 2 contains doc 1's exact text inside noise: the k+w-1 match
    // guarantee forces shared fingerprints; doc 3 is unrelated
    val core = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, core),
      (2L, "zzyy prefix junk " + core + " suffix junk qqff"),
      (3L, "completely different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.winnow(docs, "doc_id", "text", k = 8, w = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out.size === 3)
    // winnowing guarantee: >= 1 fingerprint per w-gram window
    val nGrams1 = core.length - 8 + 1
    assert(out(1L)._1 >= nGrams1.toLong / 5,
      s"too few fingerprints: ${out(1L)}")
    // the planted containment shares fingerprints both ways; doc 3 none
    assert(out(1L)._2 > 0 && out(2L)._2 > 0)
    assert(out(3L)._2 === 0L)
    // brute-force replica of the selection on doc 1: leftmost-min of
    // every 5-window of 28-bit md5-prefix hashes
    def h28(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 7), 16)
    }
    val keys = (0 until nGrams1).map(p =>
      h28(core.substring(p, p + 8)) * 16777216L + p)
    val brute = (0 to nGrams1 - 5).map(s => keys.slice(s, s + 5).min)
      .distinct.size
    assert(out(1L)._1 === brute.toLong)
  }

  test("collocations: planted bigram tops the lift ranking, counts exact") {
    import graft.llm.CorpusStats
    // "alpha beta" always adjacent (25x); filler tokens are frequent but
    // weakly paired
    val docs = (1 to 25).map(i =>
      (i.toLong, s"alpha beta c$i d${i % 3} c$i d${i % 3} c$i d${i % 3} " +
        s"c$i d${i % 3} c$i d${i % 3} c$i d${i % 3} c$i d${i % 3} " +
        s"c$i d${i % 3} c$i d${i % 3} c$i"))
      .toDF("doc_id", "text")
    val out = CorpusStats.collocations(docs, "text", minCount = 20L,
      topK = 5).collect()
    assert(out.nonEmpty)
    val top = out.head
    assert(top.getString(0) === "alpha" && top.getString(1) === "beta")
    assert(top.getLong(2) === 25L)
    // exact lift replica: n_uni = 25*21, n_bi = 25*20, c_alpha=c_beta=25
    val nUni = 25L * 21; val nBi = 25L * 20
    val lift = (BigInt(25) * nUni * nUni * 1000000) / (BigInt(nBi) * 25 * 25)
    assert(top.getLong(3) === lift.toLong)
  }

  test("cusum: the argmax of |n*S_t - t*S_n| lands on a planted level shift") {
    import graft.window.Changepoint
    val vals = (1 to 100).map(t => (t.toLong, if (t <= 60) 10L else 50L))
    val out = Changepoint.cusum(vals.toDF("t", "v"), "t", "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(out.size === 100)
    // brute-force replica of the statistic
    val total = vals.map(_._2).sum
    val pre = vals.scanLeft(0L)(_ + _._2).tail
    val d = pre.zipWithIndex.map { case (s, i) =>
      math.abs(100L * s - (i + 1) * total) }
    for (t <- 1 to 100) {
      val (v, cum, stat, flag) = out(t.toLong)
      assert(v === vals(t - 1)._2 && cum === pre(t - 1) &&
        stat === d(t - 1))
      assert(flag === (t == 60), s"flag at t=$t")
    }
    // ties break to the earliest bucket: a flat series maxes at D=0
    // everywhere -> only the first bucket is flagged
    val flat = (1 to 5).map(t => (t.toLong, 7L))
    val f = Changepoint.cusum(flat.toDF("t", "v"), "t", "v")
      .filter(col("is_changepoint")).collect()
    assert(f.length === 1 && f(0).getLong(0) === 1L)
  }

  test("RAKE scores phrases by summed deg/freq of member words") {
    val docs = Seq((1L, "red apple the red apple juice the zeta"))
      .toDF("doc_id", "text")
    val out = graft.llm.CorpusStats.rakeKeywords(docs, "doc_id", "text",
        stopwords = Seq("the"), maxLen = 3, topK = 20)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // words: red/apple freq 2 deg 5 -> 2500000; juice freq 1 deg 3 ->
    // 3000000; zeta freq 1 deg 1 -> 1000000
    assert(out("red apple") == ((1L, 2L, 5000000L)), out.toString)
    assert(out("red apple juice") == ((1L, 3L, 8000000L)))
    assert(out("zeta") == ((1L, 1L, 1000000L)))
    assert(out.size == 3)
    // maxLen drops long runs entirely (they are not truncated)
    val out2 = graft.llm.CorpusStats.rakeKeywords(docs, "doc_id", "text",
      stopwords = Seq("the"), maxLen = 2, topK = 20).collect()
    assert(out2.map(_.getString(0)).toSet == Set("red apple", "zeta"))
  }

  test("decision stump finds the pure split and beats the noisy feature") {
    // f1 separates perfectly at <= 2; f2 is constant (useless)
    val rows = Seq(
      (1L, 7L, true), (2L, 7L, true), (1L, 7L, true), (2L, 7L, true),
      (3L, 7L, false), (4L, 7L, false), (3L, 7L, false), (5L, 7L, false))
    val df = rows.toDF("f1", "f2", "y")
    val r = graft.llm.Trees.trainStump(df, col("y"), Seq(
      ("f1", col("f1")), ("f2", col("f2")))).head()
    assert(r.getString(0) == "f1" && r.getLong(1) == 2L)
    assert(r.getLong(2) == 4L && r.getLong(3) == 4L) // left: n=4, all pos
    assert(r.getLong(4) == 4L && r.getLong(5) == 0L) // right: n=4, none
    // perfect split score: (16+0)*1e9/4 + (0+16)*1e9/4 = 8e9
    assert(r.getLong(6) == 8000000000L)
    assert(r.getLong(7) == 1000000L && r.getLong(8) == 0L)
    // brute-force check: no other threshold of f1 scores higher
    def score(t: Long): Long = {
      val (l, rr) = rows.partition(_._1 <= t)
      def side(xs: Seq[(Long, Long, Boolean)]): Long =
        if (xs.isEmpty) 0L
        else {
          val k = xs.count(_._3).toLong; val n = xs.size.toLong
          (k * k + (n - k) * (n - k)) * 1000000000L / n
        }
      side(l) + side(rr)
    }
    assert(Seq(1L, 3L, 4L).forall(t => score(t) <= score(2L)))
  }

  test("link prediction scores non-edges by common neighbors, skips " +
    "existing edges and hub middles") {
    // baskets: {1,2}, {2,3}, {1,3}? NO — make 1-3 a non-edge:
    // b10: {1,2}; b20: {2,3}; b30: {2,4}; edges 1-2, 2-3, 2-4.
    // non-edges via middle 2: (1,3), (1,4), (3,4) each cn=1
    val baskets = Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L),
      (30L, 2L), (30L, 4L)).toDF("b", "i")
    val out = graft.llm.LinkAnalysis.linkPrediction(baskets, "b", "i",
        maxDeg = 10, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.keySet == Set((1L, 3L), (1L, 4L), (3L, 4L)))
    // deg: 1->1, 2->3, 3->1, 4->1; jaccard(1,3) = 1/(1+1-1) = 1.0
    assert(out((1L, 3L)) == ((1L, 1L, 1L, 1000000L)))
    assert(out((3L, 4L)) == ((1L, 1L, 1L, 1000000L)))
    // hub cap: with maxDeg = 2 node 2 (deg 3) cannot be a middle ->
    // no wedges close at all
    val capped = graft.llm.LinkAnalysis.linkPrediction(baskets, "b", "i",
      maxDeg = 2, topK = 10).collect()
    assert(capped.isEmpty)
  }

  test("dailyPeak concurrency: sweep-line with ends before starts") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // three sessions on one day: A 10:00-11:00, B 10:30-12:00,
    // C 11:00-11:30 (C starts exactly when A ends -> no triple overlap)
    val sess = Seq(
      (ts("2024-03-01 10:00:00"), ts("2024-03-01 11:00:00")),
      (ts("2024-03-01 10:30:00"), ts("2024-03-01 12:00:00")),
      (ts("2024-03-01 11:00:00"), ts("2024-03-01 11:30:00")),
      // next day: one lone session
      (ts("2024-03-02 09:00:00"), ts("2024-03-02 09:10:00")))
      .toDF("t_start", "t_end")
    val out = graft.window.Concurrency.dailyPeak(sess, "t_start", "t_end")
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(out("2024-03-01") == ((6L, 2L)), out.toString)
    assert(out("2024-03-02") == ((2L, 1L)))
  }

  test("skyline keeps exactly the non-dominated points with counts") {
    val pts = Seq((1L, 5L), (2L, 9L), (2L, 9L), (3L, 9L), (4L, 4L),
      (5L, 2L), (3L, 1L), (5L, 2L))
    val out = graft.agg.Skyline.frontier2d(pts.toDF("a", "b"),
        col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // (2,9) dominated by (3,9) (equal y, larger x); (1,5) dominated;
    // (4,4) beats everything right of it except (5,2)? (5,2): no x>5.
    // frontier: (3,9), (4,4), (5,2) with counts 1, 1, 2
    assert(out == Map((3L, 9L) -> 1L, (4L, 4L) -> 1L, (5L, 2L) -> 2L))
    // brute-force dominance check
    val dist = pts.distinct
    val brute = dist.filterNot { case (x, y) =>
      dist.exists { case (x2, y2) =>
        (x2 >= x && y2 >= y) && (x2 > x || y2 > y) }
    }.toSet
    assert(out.keySet == brute)
  }

  test("data checks count FK, predicate and uniqueness violations") {
    import graft.io.Checks
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq((1L, 10L), (2L, -5L), (9L, 7L), (9L, 0L))
      .toDF("fk", "v")
    val dup = Seq(1L, 1L, 2L, 3L, 3L, 3L).toDF("k")
    val out = Checks.suite(Seq(
        Checks.fkCheck("fk", child, "fk", parent, "pk"),
        Checks.predicateCheck("pos", child, col("v") > 0),
        Checks.uniqueCheck("uniq", dup, Seq("k"))))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(out("fk") == ((2L, 4L)))   // two rows with fk=9
    assert(out("pos") == ((2L, 4L)))  // -5 and 0
    assert(out("uniq") == ((3L, 6L))) // 1 extra of k=1, 2 extra of k=3
  }
}
