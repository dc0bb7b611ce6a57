package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** Sparse + hybrid retrieval over a document corpus — the query-side
  * counterpart of the dedup/ANN family: BM25 term scoring and
  * reciprocal-rank fusion of heterogeneous rankings.
  *
  * Scale shape: tokenization is one explode over the corpus scan; per-term
  * document frequencies for a literal query are a broadcast-sized aggregate
  * (|terms| rows); the per-document score is one hash aggregation keyed on
  * doc id. Nothing shuffles more than once and no ranking window is wider
  * than the score-carrying subset of the corpus.
  *
  * Determinism policy (the repo-wide one): the only libm value (idf's ln)
  * is rounded to 8 dp at birth; per-term contributions are combined as a
  * FIXED-ORDER column sum (conditional-agg pivot, not a float groupBy sum);
  * final scores round to 6 dp before ranking on both engines.
  */
object Retrieval {

  /** Okapi BM25 (Robertson et al., the `(k1, b)` variant with the
    * `ln(1 + (N - df + 0.5)/(df + 0.5))` idf) of a literal query-term set
    * against a whitespace-tokenized corpus. Documents containing none of
    * the query terms score nothing and drop out of the ranking — the
    * standard sparse-retrieval contract. Returns the top `k` documents as
    * (id, rk, score). */
  def bm25TopK(corpus: DataFrame, id: String, text: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct,
      "literal query terms must be distinct")
    // the corpus tokenizes through lower(); an uppercase query term would
    // silently score zero everywhere — fail loudly instead
    require(terms.forall(t => t == t.toLowerCase),
      s"query terms must be lowercase (corpus tokens are): $terms")
    val tokd = graft.util.QueryCache.persist(corpus
      .select(col(id), explode(TextAnalysis.tokens(lower(col(text)))).as("term")))
    val docLen = tokd.groupBy(col(id)).agg(count(lit(1)).as("dl"))
    // corpus stats: N and avgdl — ONE row, broadcast onto the scoring join
    val stats = docLen.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
      .select(col("n"), (col("tot").cast("double") / col("n")).as("avgdl"))
    // tf over the query terms only (the isin predicate reaches the token
    // stream before the aggregation); df derived from tf — no extra
    // distinct pass over the corpus
    val tf = tokd.filter(col("term").isin(terms: _*))
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(df), "term").join(docLen, Seq(id))
      .crossJoin(stats)
      .withColumn("idf", round(
        log((col("n").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)), 8))
      .withColumn("c",
        (col("idf") * (col("tf") * lit(k1 + 1.0))) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * (col("dl") / col("avgdl")))))
    // fixed-order combine: one conditional-agg column per literal term,
    // added left-to-right (a float SUM over an unordered group would not
    // be reproducible across engines)
    val perTerm = contrib.groupBy(col(id)).agg(
      max(when(col("term") === terms.head, col("c"))).as("__t0"),
      terms.tail.zipWithIndex.map { case (t, i) =>
        max(when(col("term") === t, col("c"))).as(s"__t${i + 1}")
      }: _*)
    val score = terms.indices
      .map(i => coalesce(col(s"__t$i"), lit(0.0)))
      .reduceLeft(_ + _)
    // global top-k via TakeOrdered (orderBy+limit), NOT a global window —
    // the rank ordinal attaches afterwards over the k surviving rows only
    val top = perTerm.withColumn("score", round(score, 6))
      .orderBy(col("score").desc, col(id)).limit(k)
    val w = Window.orderBy(col("score").desc, col(id))
    top.withColumn("rk", row_number().over(w))
      .select(col(id), col("rk"), col("score"))
  }

  /** Dirichlet-smoothed query likelihood (Zhai & Lafferty 2001) — the
    * language-model scorer next to [[bm25TopK]]:
    * `score(q,d) = Σ_t ln((tf(t,d) + μ·cf(t)/|C|) / (|d| + μ))` with the
    * collection model `cf(t)/|C|`. Terms ABSENT from a doc still
    * contribute their smoothing mass (that is the point of Dirichlet
    * smoothing), so the score grid is (matching docs × query terms) —
    * built by crossing the matched-doc ids with the literal term list and
    * LEFT-joining tf. Only docs containing ≥1 query term rank (the
    * inverted-index pruning contract: a no-match doc's score is the
    * background-only value and cannot enter a top-k among matches).
    * A term ABSENT from the whole corpus has no collection model and is
    * ignored — contributes 0 to every doc, Lucene's OOV contract — rather
    * than nulling the score sum. Per-term logs round to 8 dp and combine
    * in fixed term order, so an external engine replays the ranking
    * bit-for-bit. */
  def queryLikelihoodTopK(corpus: DataFrame, id: String, text: String,
                          terms: Seq[String], k: Int,
                          mu: Double = 300.0): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct,
      "literal query terms must be distinct")
    require(terms.forall(t => t == t.toLowerCase),
      s"query terms must be lowercase (corpus tokens are): $terms")
    val sess = corpus.sparkSession
    import sess.implicits._
    val tokd = graft.util.QueryCache.persist(corpus
      .select(col(id), explode(TextAnalysis.tokens(lower(col(text)))).as("term")))
    val docLen = tokd.groupBy(col(id)).agg(count(lit(1)).as("dl"))
    // |C| = total corpus tokens — ONE row, broadcast
    val totC = docLen.agg(sum(col("dl")).cast("double").as("ctot"))
    val tf = tokd.filter(col("term").isin(terms: _*))
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    // collection frequency per query term (tiny: |terms| rows)
    val cf = tokd.filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val termTab = terms.zipWithIndex.toDF("term", "__ord")
    val grid = tf.select(col(id)).distinct()
      .crossJoin(termTab)
      .join(tf, Seq(id, "term"), "left")
      .join(broadcast(cf), "term")
      .join(docLen, Seq(id))
      .crossJoin(totC)
      .withColumn("c", round(
        log((coalesce(col("tf"), lit(0L)) +
          lit(mu) * col("cf") / col("ctot")) / (col("dl") + lit(mu))), 8))
    // fixed-order combine, as in bm25TopK: one column per literal term
    val perTerm = grid.groupBy(col(id)).agg(
      max(when(col("__ord") === 0, col("c"))).as("__t0"),
      terms.indices.tail.map { i =>
        max(when(col("__ord") === i, col("c"))).as(s"__t$i")
      }: _*)
    // __ti is NULL iff term i is corpus-OOV (the cf inner join dropped
    // its grid rows); coalesce ignores it instead of nulling the sum
    val score = terms.indices
      .map(i => coalesce(col(s"__t$i"), lit(0.0)))
      .reduceLeft(_ + _)
    val top = perTerm.withColumn("score", round(score, 6))
      .orderBy(col("score").desc, col(id)).limit(k)
    val w = Window.orderBy(col("score").desc, col(id))
    top.withColumn("rk", row_number().over(w))
      .select(col(id), col("rk"), col("score"))
  }

  /** NDCG@k of a ranked list against graded relevance labels — the
    * ranking-quality eval verb of the retrieval stack. Gain is the
    * standard `(2^rel − 1) / log2(rank + 1)`; IDCG re-ranks the FULL
    * relevance table (rel desc, id asc — deterministic ties) and takes
    * its top k. Each gain term rounds to 8 dp and sums on the decimal
    * grid, so both sums are order-independent and replayable; a ranked
    * id with no label row contributes rel = 0, and duplicate label rows
    * for one id collapse to their MAX (a multi-assessor judgment table
    * must not fan the join out and double-count a gain). Returns ONE row
    * (k, dcg, idcg, ndcg). */
  def ndcgAtK(ranked: DataFrame, rels: DataFrame, id: String,
              rank: String, rel: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def gain(relC: Column, rankC: Column): Column = round(
      (pow(lit(2.0), relC.cast("double")) - lit(1.0)) /
        log2(rankC.cast("double") + lit(1.0)), 8)
    val relsU = rels.groupBy(col(id)).agg(max(col(rel)).as(rel))
    val dcg = ranked.filter(col(rank) <= k)
      .join(relsU, Seq(id), "left")
      .agg(sum(gain(coalesce(col(rel), lit(0)), col(rank))
        .cast(DecimalType(30, 8))).as("__dcg"))
    val ideal = relsU.orderBy(col(rel).desc, col(id)).limit(k)
    val wI = Window.orderBy(col(rel).desc, col(id))
    val idcg = ideal.withColumn("__irk", row_number().over(wI))
      .agg(sum(gain(col(rel), col("__irk"))
        .cast(DecimalType(30, 8))).as("__idcg"))
    dcg.crossJoin(idcg)
      .select(lit(k).as("k"),
        round(col("__dcg").cast("double"), 6).as("dcg"),
        round(col("__idcg").cast("double"), 6).as("idcg"),
        round(col("__dcg").cast("double") /
          col("__idcg").cast("double"), 6).as("ndcg"))
  }

  /** Reciprocal-rank fusion (Cormack & Clarke 2009): combine two rankings
    * of the same id space into `sum(1 / (c + rank))` with the standard
    * c = 60. Ranks are integers and the two addends combine in a fixed
    * order, so the fused score is exact IEEE arithmetic — no rounding
    * needed. Ids present in only one list contribute that list's term
    * alone (full-outer semantics, the usual hybrid-retrieval contract). */
  def rrfFuse(a: DataFrame, b: DataFrame, id: String, rank: String,
              k: Int, c: Int = 60): DataFrame = {
    val left = a.select(col(id), col(rank).as("__ra"))
    val right = b.select(col(id), col(rank).as("__rb"))
    val fused = left.join(right, Seq(id), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c.toDouble) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toDouble) + col("__rb")), lit(0.0)))
    // both inputs are already-limited rank lists, so the fused frame is
    // bounded by their combined length; TakeOrdered + a k-row ordinal
    val top = fused.orderBy(col("rrf").desc, col(id)).limit(k)
    val w = Window.orderBy(col("rrf").desc, col(id))
    top.withColumn("rk", row_number().over(w))
      .select(col(id), col("rk"), col("rrf"))
  }

  /** Convex (min-max-normalized weighted) score fusion — the score-based
    * hybrid combiner next to rank-based [[rrfFuse]]: each list's scores
    * normalize to [0,1] against its OWN min/max (a degenerate
    * constant-score list normalizes to 1), then fuse as
    * `α·a + (1−α)·b` with a missing side contributing 0 (full-outer, the
    * usual convex-combination contract). Min/max are two 1-row broadcast
    * aggregates over already-limited rank lists; everything else is
    * scan-stage IEEE arithmetic, replayable exactly. */
  def convexFuse(a: DataFrame, b: DataFrame, id: String, score: String,
                 alpha: Double, k: Int): DataFrame = {
    def norm(df: DataFrame, out: String): DataFrame = {
      val st = df.agg(min(col(score)).as("__mn"), max(col(score)).as("__mx"))
      df.crossJoin(st)
        .withColumn(out, when(col("__mx") === col("__mn"), lit(1.0))
          .otherwise((col(score) - col("__mn")) /
            (col("__mx") - col("__mn"))))
        .select(col(id), col(out))
    }
    val fused = norm(a, "__na").join(norm(b, "__nb"), Seq(id), "full_outer")
      .withColumn("fused",
        lit(alpha) * coalesce(col("__na"), lit(0.0)) +
          lit(1 - alpha) * coalesce(col("__nb"), lit(0.0)))
    val top = fused.orderBy(col("fused").desc, col(id)).limit(k)
    val w = Window.orderBy(col("fused").desc, col(id))
    top.withColumn("rk", row_number().over(w))
      .select(col(id), col("rk"), col("fused"))
  }

  /** MMR diversified rerank (Carbonell & Goldstein 1998): greedily select
    * `k` of each probe's candidates maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s)` — the standard
    * redundancy-suppressing post-processor behind a retrieval stage.
    *
    * The greedy step is inherently sequential PER PROBE, but the input is
    * an upstream top-n (bounded by contract, guarded by `maxCandidates`),
    * so it runs the [[Packing]] shape: one shuffle on the probe key, a
    * per-probe sorted group (`flatMapSortedGroups`) that holds exactly one
    * probe's candidate set, and an O(n²) in-memory greedy over it.
    * Nothing global, nothing quadratic in the corpus.
    *
    * Determinism: candidate-candidate cosines use EXACTLY the
    * [[graft.exprs.VectorExprs.cosineF32]] arithmetic (sequential double
    * fold over float elements, dot/(√·√)), scores are plain IEEE
    * `λ·rel − (1−λ)·maxSim`, and ties break to the lowest candidate id —
    * a DuckDB recursive-CTE replay reproduces every pick bit-for-bit.
    * `cands` carries (probeId, id, rel, vec); returns
    * (probeId, rk, id, mmr). */
  def mmrRerank(cands: DataFrame, probeId: String, id: String,
                rel: String, vec: String, lambda: Double, k: Int,
                maxCandidates: Int = 4096): DataFrame = {
    val in = cands
      .select(col(probeId).cast(LongType).as("__p"),
        col(id).cast(LongType).as("__i"),
        col(rel).cast("double").as("__r"), col(vec).as("__v"))
    val outSchema = StructType(Seq(
      StructField(probeId, LongType, nullable = false),
      StructField("rk", IntegerType, nullable = false),
      StructField(id, LongType, nullable = false),
      StructField("mmr", DoubleType, nullable = false)))
    val lam = lambda
    in.groupBy(col("__p"))
      .as[Row, Row](Encoders.row(StructType(Seq(in.schema("__p")))),
        Encoders.row(in.schema))
      .flatMapSortedGroups(col("__i")) { (key, it) =>
        // the cosineF32 fold, mirrored exactly (double acc over floats)
        def dotf(a: Array[Float], b: Array[Float]): Double = {
          val n = math.min(a.length, b.length)
          var acc = 0.0; var i = 0
          while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
          acc
        }
        val p = key.getLong(0)
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Double, Array[Float])]
        it.foreach { r =>
          buf += ((r.getLong(1), r.getDouble(2), r.getSeq[Float](3).toArray))
          require(buf.length <= maxCandidates,
            s"MMR candidate set for probe $p exceeds $maxCandidates — the " +
              "input must be an upstream top-n, not a raw corpus")
        }
        val items = buf.toArray // already id-sorted within the probe
        val n = items.length
        val norm = items.map(c => math.sqrt(dotf(c._3, c._3)))
        // zero-norm guard: an all-zero embedding would make cos() NaN and
        // (NaN comparisons being false) silently collapse the greedy into
        // ascending-id order — define its similarity as 0 instead
        def cos(a: Int, b: Int): Double =
          if (norm(a) == 0.0 || norm(b) == 0.0) 0.0
          else dotf(items(a)._3, items(b)._3) / (norm(a) * norm(b))
        val picked = new Array[Boolean](n)
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var rk = 1
        while (rk <= math.min(k, n)) {
          var best = -1; var bestScore = 0.0
          var c = 0
          while (c < n) {
            if (!picked(c)) {
              var maxSim = 0.0
              var si = 0
              while (si < selected.length) {
                val v = cos(c, selected(si))
                if (si == 0 || v > maxSim) maxSim = v
                si += 1
              }
              val score = lam * items(c)._2 - (1 - lam) * maxSim
              // strict > keeps the FIRST (lowest-id) maximum
              if (best < 0 || score > bestScore) { best = c; bestScore = score }
            }
            c += 1
          }
          picked(best) = true
          selected += best
          out += Row(p, rk, items(best)._1, bestScore)
          rk += 1
        }
        out
      }(Encoders.row(outSchema))
  }
}
