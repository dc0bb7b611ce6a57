package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level composition statistics for training-data curation. */
object CorpusStats {

  /** RAKE keyword extraction (Rose et al. 2010) — candidate phrases are
    * the maximal stopword-free token runs; each word scores
    * deg(w)/freq(w) (deg = Σ length of phrases containing w, freq = its
    * occurrence count in candidates) and a phrase scores the sum of its
    * words' scores. All scoring on the exact ppm integer grid
    * (deg·1e6 div freq — RAKE only ranks, so the grid loses nothing).
    *
    * Scale shape: phrase islands come from ONE doc-partitioned window
    * (run = pos − row_number over non-stopword tokens — gaps-and-
    * islands); word stats and phrase scores are hash aggregates and an
    * equi-join on the word key; the final top-K is TakeOrdered. */
  def rakeKeywords(docs: DataFrame, id: String, text: String,
                   stopwords: Seq[String], maxLen: Int,
                   topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col(id).as("__d"),
        posexplode(array_remove(
          TextAnalysis.tokens(trim(lower(col(text)))), "")).as(Seq("p", "t")))
      .filter(!col("t").isInCollection(stopwords))
    val w = Window.partitionBy(col("__d")).orderBy(col("p"))
    val phrases = graft.util.QueryCache.persist(toks
      .withColumn("run", col("p") - row_number().over(w))
      .groupBy(col("__d"), col("run"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("p"), col("t")))),
          x => x.getField("t")), " ").as("phrase"),
        count(lit(1)).cast("long").as("len"))
      .filter(col("len") <= maxLen)
      .select("phrase", "len"))
    val members = phrases
      .select(col("len"), explode(split(col("phrase"), " ")).as("w"))
    val wstats = members.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
    val distinctPhrases = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occ"), first(col("len")).as("len"))
    val scored = distinctPhrases
      .select(col("phrase"), col("n_occ"), col("len"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wstats, "w")
      .groupBy(col("phrase"), col("n_occ"), col("len"))
      .agg(sum(expr("deg * 1000000 div freq")).cast("long")
        .as("score_ppm"))
    scored.orderBy(col("score_ppm").desc, col("n_occ").desc, col("phrase"))
      .limit(topK)
  }

  /** Pairwise corpus overlap: exact Jaccard over the distinct word
    * k-shingle sets of every pair of sources — the "how much does web2
    * duplicate web1" diagnostic run before mixing weights are chosen.
    *
    * Scale shape: shingles travel as 64-bit hashed ids (the q51/q52
    * w.h.p.-exact convention — within-corpus collision ~1e-15, and the
    * oracle's string grams agree exactly at test scale), deduped to
    * (source, gram) in a partial+final hash aggregate; the pair join is
    * a gram-key equi-join whose per-gram co-occurrence list is bounded
    * by the number of SOURCES (not documents), so a gram contributes at
    * most S(S-1)/2 pair rows — no quadratic blow-up in corpus size.
    * `jaccard_ppm` is an exact integer (inter*1e6 div union, the
    * truncating integral division all engines share). Pairs with empty
    * intersection do not appear (nothing joins) — same on both engines.
    */
  /** Zipf power-law fit over the top-K vocabulary: the corpus-health
    * diagnostic (natural text fits slope ≈ −1; template/boilerplate
    * corpora flatten it). Least squares of y = round(ln n, 8) on
    * x = round(ln rank, 8): the rounded points ride the 8-dp decimal
    * grid so every power sum is exact and order-free; slope and
    * intercept are ONE fixed IEEE expression each over the single
    * aggregate row (the q40 correlation convention). The only window
    * attaches ranks to the K-row TakeOrdered result. */
  def zipfFit(docs: DataFrame, text: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val counts = docs
      .select(explode(graft.llm.TextAnalysis.tokens(
        trim(lower(col(text))))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("tok")).limit(topK)
    val w = Window.orderBy(col("n").desc, col("tok"))
    val pts = top.withColumn("rank", row_number().over(w))
      .select(
        round(log(col("rank").cast("double")), 8)
          .cast(DecimalType(18, 8)).as("x"),
        round(log(col("n").cast("double")), 8)
          .cast(DecimalType(18, 8)).as("y"))
    val agg = pts.agg(count(lit(1)).as("np"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("y")).cast(DecimalType(38, 16))).as("sxy"),
      sum((col("x") * col("x")).cast(DecimalType(38, 16))).as("sxx"))
    agg.select(col("np").as("n_pts"),
      (round(expr(
        """(CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"""), 6)
        + lit(0.0)).as("slope"),
      (round(expr(
        """(CAST(sy AS DOUBLE)
            - (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * CAST(sx AS DOUBLE)) / CAST(np AS DOUBLE)"""), 6)
        + lit(0.0)).as("intercept"))
  }

  /** Heaps' law fit V(N) ≈ k·N^β — vocabulary growth against corpus
    * size, the companion of [[zipfFit]] (a corpus whose β drifts across
    * ingestion batches is changing register/noise profile). The corpus
    * prefix order is doc-ID RANGE slices (`nSlices` checkpoints at
    * equal id-range cuts — a pure projection, no rank pass): per slice,
    * cumulative token count N_k and cumulative first-occurrence vocab
    * V_k (a token counts for V at the slice of its MINIMUM doc id);
    * then the q319 log-log OLS over the (ln N_k, ln V_k) points on the
    * 8-dp grid. Windows touch only the nSlices-row frame. */
  def heapsFit(docs: DataFrame, id: String, text: String,
               nSlices: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(nSlices >= 2 && nSlices <= 1000, s"nSlices $nSlices")
    val toks = graft.util.QueryCache.persist(docs
      .select(col(id).cast("long").as("did"),
        explode(graft.llm.TextAnalysis.tokens(
          trim(lower(col(text))))).as("tok"))
      .filter(col("tok") =!= ""))
    val bounds = toks.agg(min(col("did")).as("lo"), max(col("did")).as("hi"))
    def sliceOf(c: Column) = // 0..nSlices-1 by id range, pure projection
      least(expr(s"((${c.toString} - lo) * $nSlices) div (hi - lo + 1)"),
        lit(nSlices - 1))
    val withB = toks.crossJoin(bounds)
    val tokPerSlice = withB
      .groupBy(sliceOf(col("did")).as("s"))
      .agg(count(lit(1)).as("nt"))
    val vocabPerSlice = withB
      .groupBy(col("tok"))
      .agg(min(col("did")).as("fd"), min(col("lo")).as("lo"),
        min(col("hi")).as("hi"))
      .groupBy(sliceOf(col("fd")).as("s"))
      .agg(count(lit(1)).as("nv"))
    val wcum = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = tokPerSlice.join(vocabPerSlice, Seq("s"), "left")
      .withColumn("cn", sum(col("nt")).over(wcum))
      .withColumn("cv", sum(coalesce(col("nv"), lit(0L))).over(wcum))
      .filter(col("cn") > 0 && col("cv") > 0)
      .select(
        round(log(col("cn").cast("double")), 8)
          .cast(DecimalType(18, 8)).as("x"),
        round(log(col("cv").cast("double")), 8)
          .cast(DecimalType(18, 8)).as("y"))
    val agg = pts.agg(count(lit(1)).as("np"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("y")).cast(DecimalType(38, 16))).as("sxy"),
      sum((col("x") * col("x")).cast(DecimalType(38, 16))).as("sxx"))
    agg.select(col("np").as("n_pts"),
      expr("""CASE WHEN np < 2
                OR np * sxx - sx * sx = 0 THEN NULL ELSE
              round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0
              END""").as("beta"),
      expr("""CASE WHEN np < 2
                OR np * sxx - sx * sx = 0 THEN NULL ELSE
              round((CAST(sy AS DOUBLE)
                - (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * CAST(sx AS DOUBLE)) / CAST(np AS DOUBLE), 6) + 0.0
              END""").as("log_k"))
  }

  def sourceOverlap(docs: DataFrame, source: String, text: String,
                    k: Int): DataFrame = {
    val grams = docs
      .select(col(source).as("src"),
        explode(Dedup.shingleIds(col(text), k)).as("g"))
      .distinct()
    val sz = grams.groupBy("src").agg(count(lit(1)).as("n"))
    val co = grams
      .join(grams.select(col("src").as("src_b"), col("g")), Seq("g"))
      .filter(col("src") < col("src_b"))
      .groupBy(col("src").as("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter"))
    co.join(sz.select(col("src").as("src_a"), col("n").as("na")), Seq("src_a"))
      .join(sz.select(col("src").as("src_b"), col("n").as("nb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"),
        expr("inter * 1000000 div (na + nb - inter)").as("jaccard_ppm"))
  }

  /** Collocation mining: the top-K adjacent-token bigrams by pointwise
    * LIFT — p(xy)/(p(x)·p(y)) = c_xy·Nuni² / (Nbi·c_x·c_y) — the
    * exact-integer monotone of PMI (PMI = log lift; mining only ranks,
    * so the log adds nothing but a float). A min-count floor keeps the
    * classic PMI pathology (hapax pairs with sky-high lift) out, as
    * collocation extractors do.
    *
    * Everything is integer: lift_ppm is the decimal-widened truncating
    * division all engines share; the cut is a TakeOrdered top-K with
    * (lift desc, count desc, bigram) total order.
    *
    * Scale shape: bigrams are built by zipping each token array with its
    * own tail (a per-doc projection, no self-join and no per-doc window);
    * unigram and bigram counts are partial+final hash aggregates; the
    * two marginal lookups join on the (already aggregated) distinct-token
    * frames; the 1-row totals broadcast. */
  def collocations(docs: DataFrame, text: String, minCount: Long,
                   topK: Int): DataFrame = {
    val toks = graft.util.QueryCache.persist(
      graft.util.Parallelize.ensure(docs)
        .select(array_remove(graft.llm.TextAnalysis.tokens(
          trim(lower(col(text)))), "").as("ts")))
    val uni = toks.select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val bi = toks
      .filter(size(col("ts")) >= 2)
      .select(explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => struct(a.as("t1"), b.as("t2")))).as("bg"))
      .groupBy(col("bg.t1").as("t1"), col("bg.t2").as("t2"))
      .agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= minCount)
    // grand totals in one scan of the (persisted) token arrays: Nuni =
    // Σ len, Nbi = Σ max(len−1, 0)
    val t2 = toks.agg(
      sum(size(col("ts"))).cast("long").as("n_uni"),
      sum(greatest(size(col("ts")) - 1, lit(0))).cast("long").as("n_bi"))
    val scored = bi
      .join(uni.select(col("tok").as("t1"), col("n").as("__nx")), "t1")
      .join(uni.select(col("tok").as("t2"), col("n").as("__ny")), "t2")
      .crossJoin(t2)
      .select(col("t1"), col("t2"), col("n_xy"),
        expr("""CAST((CAST(n_xy AS DECIMAL(38,0)) * n_uni * n_uni * 1000000)
                div (CAST(n_bi AS DECIMAL(38,0)) * __nx * __ny) AS BIGINT)""")
          .as("lift_ppm"))
    scored.orderBy(col("lift_ppm").desc, col("n_xy").desc, col("t1"),
      col("t2")).limit(topK)
  }

  /** Corpus concentration: Gini coefficient + top-decile share of an
    * integer weight (token counts) across documents — the "how much of
    * my corpus lives in how few documents" diagnostic that decides
    * whether a dedup/length-cap pass is worth running.
    *
    * Exactness: with x sorted ascending and strict 1..n ranking,
    * Gini = (2·Σ rank·x − (n+1)·S) / (n·S). Σ rank·x does not depend on
    * tie order (a tie group's rank sum is fixed), so it folds over the
    * PER-VALUE frame: Σ_v v·(c_v·below_v + c_v(c_v+1)/2). below_v comes
    * from a within-bucket window plus
    * [[graft.model.Positions.bucketOffsets]] (bounded by
    * weight-range/bucketWidth); the value frame is bounded by the
    * distinct weights, not rows. Top-decile share replays the same
    * frame from above: the top n div 10 items' weight, split exactly at
    * the threshold value. Everything integer; two truncating ppm divs. */
  def weightConcentration(df: DataFrame, weight: Column,
                          bucketWidth: Long = 64L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val pv = graft.util.QueryCache.persist(
      df.select(weight.cast("long").as("v"))
        .filter(col("v").isNotNull && col("v") >= 0)
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
        .withColumn("b", expr(s"v div $bucketWidth")))
    val wIn = Window.partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // both prefixes in ONE projection so Spark plans a single Window
    // operator (two withColumn calls planned two stacked Windows)
    val ranked = graft.util.QueryCache.persist(
      graft.model.Positions.bucketOffsets(pv, "b",
          sum(col("c")).as("off_c"),
          sum(col("v").cast(dec) * col("c")).cast(dec).as("off_w"))
        .select(col("v"), col("c"),
          (col("off_c") + coalesce(sum(col("c")).over(wIn), lit(0L)))
            .as("below"),
          (col("off_w") + coalesce(
            sum(col("v").cast(dec) * col("c")).over(wIn),
            lit(0).cast(dec))).cast(dec).as("below_w")))
    val tot = ranked.agg(sum(col("c")).as("n"),
      sum(col("v").cast(dec) * col("c")).cast(dec).as("s"),
      // Σ rank·x folded over the per-value frame: tie groups have a
      // fixed rank sum c·below + c(c+1)/2 regardless of tie order
      sum(expr("""CAST(v AS DECIMAL(38,0))
          * (CAST(c AS DECIMAL(38,0)) * below
             + CAST(c AS DECIMAL(38,0)) * (c + 1) div 2)"""))
        .cast(dec).as("w"))
    // top-decile threshold: the value v* with above < k <= above + c,
    // k = n div 10, above = n - below - c; its tie group contributes
    // (k - above) of its c items
    val thr = ranked
      .crossJoin(ranked.agg(sum(col("c")).as("nn")))
      .withColumn("above", col("nn") - col("below") - col("c"))
      .withColumn("k", expr("nn div 10"))
      .filter(col("above") < col("k") &&
        col("k") <= col("above") + col("c"))
      .select(col("v").as("thr"), col("c").as("thr_c"),
        col("below_w").as("thr_below_w"), col("above"), col("k"))
    // left join on TRUE, not crossJoin: when n < 10 the threshold k =
    // n div 10 is 0 and `thr` is EMPTY — the verb must still emit its
    // one row (gini valid, top_decile_share NULL), matching the oracle
    tot.join(broadcast(thr), lit(true), "left")
      .select(col("n").cast("long").as("n"),
        col("s").cast("long").as("total_weight"),
        expr("""CASE WHEN n <= 1 OR s = 0 THEN NULL
                ELSE (2 * w - (CAST(n AS DECIMAL(38,0)) + 1) * s)
                     * 1000000 div (CAST(n AS DECIMAL(38,0)) * s) END""")
          .cast("long").as("gini_ppm"),
        // weight strictly above thr = s - thr_below_w - thr·thr_c;
        // plus the threshold group's partial take (k - above)·thr
        expr("""CASE WHEN s = 0 OR k IS NULL OR k = 0 THEN NULL
                ELSE ((s - thr_below_w
                       - CAST(thr AS DECIMAL(38,0)) * thr_c)
                      + (k - above) * CAST(thr AS DECIMAL(38,0)))
                     * 1000000 div s END""")
          .cast("long").as("top_decile_share_ppm"))
  }
}
