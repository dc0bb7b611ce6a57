package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-statistics scorers for quality filtering.
  *
  * [[NgramLM]] is the CCNet-style perplexity filter: fit a smoothed bigram
  * language model on the corpus itself (or a clean reference corpus) and
  * score every document by its mean negative log-probability — documents
  * the model finds surprising are boilerplate/garble candidates.
  *
  * Scale shape: fitting is the wordcount pattern (explode -> partial+final
  * hash agg); scoring joins each doc's bigrams against the count tables on
  * the token keys (plain shuffle joins — at the 100 TB tier the count
  * tables prune to a top-V vocabulary and broadcast).
  *
  * Determinism: every libm value (ln) is rounded to 8 dp the moment it is
  * produced, then accumulated in DECIMAL — sums are order-independent and
  * an external SQL engine reproduces the scores bit-for-bit.
  */
object NgramLM {

  /** (w1, w2) bigram rows of a document, lowercased whitespace tokens. */
  private def bigrams(text: Column): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    zip_with(slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** Per-document mean negative log2 probability under an add-alpha
    * smoothed bigram model fit on `corpus`:
    * P(w2|w1) = (c(w1 w2) + alpha) / (c(w1) + alpha * V).
    * Returns (id, n_bigrams, avg_nll); docs with < 2 tokens drop out. */
  def bigramPerplexity(corpus: DataFrame, id: String, text: String,
                       alpha: Double = 0.5): DataFrame = {
    // persist: three downstream consumers + the count() action below;
    // the caller's QueryCache scope releases the entry (an
    // eager localCheckpoint here forced an extra blocking job — measured
    // regression on the perplexity query)
    val docBi = graft.util.QueryCache.persist(corpus
      .select(col(id), explode(bigrams(col(text))).as("bg"))
      .select(col(id), col("bg.w1").as("w1"), col("bg.w2").as("w2")))
    // ONE aggregation pass over the heavy bigram stream: the unigram
    // context counts derive from the (small) bigram count table —
    // c(w1) = Σ_w2 c(w1 w2) — instead of a second full-stream agg
    val biCounts = graft.util.QueryCache.persist(
      docBi.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val uniCounts = biCounts.groupBy("w1").agg(sum(col("c12")).as("c1"))
    // vocabulary = distinct context tokens (the smoothing denominator's
    // V). The count() doubles as the materialization BARRIER: it fills
    // the docBi and biCounts caches before the broadcast builds start,
    // so they read warm cache instead of racing independent cold
    // recomputes of the explode (AQE submits ready broadcast stages
    // concurrently; an unmaterialized InMemoryRelation is recomputed by
    // every racing stage — measured as 2-3 concurrent ~equal jobs each
    // repeating the full fit pass).
    val v = uniCounts.count()
    // per-bigram NLL, libm output rounded to 8 dp BEFORE the decimal sum
    val nll = round(
      log((col("c1") + alpha * v) / (col("c12") + alpha)) / math.log(2.0), 8)
    // explicit build-side hints pin the count tables as the broadcast
    // side at any scale (at 100 TB with an unpruned vocabulary these
    // become shuffle joins by flipping the hints — see scaladoc)
    docBi
      .join(broadcast(biCounts), Seq("w1", "w2"))
      .join(broadcast(uniCounts), Seq("w1"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(nll.cast(DecimalType(30, 8))).cast("double") /
          count(lit(1)), 6).as("avg_nll"))
  }

  /** Per-document mean negative log2 probability under an INTERPOLATED
    * KNESER–NEY bigram model fit on `corpus` (the standard n-gram
    * smoothing; [[bigramPerplexity]]'s add-alpha is the baseline):
    *
    *   P(w2|w1) = (c12 − D)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/N1+(··)
    *
    * with fixed discount D = 3/4 (exact double). Scoring the corpus on
    * itself keeps every bigram seen, so max(c12 − D, 0) never clips and
    * the formula is one fixed IEEE expression over five INTEGER counts
    * (c12, c1, distinct continuations forward/backward, distinct bigram
    * types) — rounded at 8 dp before the per-doc decimal sum, like
    * every libm term in the repo. Same count-table join shape (and the
    * same top-V broadcast note) as the add-alpha model. */
  def kneserNeyPerplexity(corpus: DataFrame, id: String,
                          text: String): DataFrame = {
    val docBi = graft.util.QueryCache.persist(corpus
      .select(col(id), explode(bigrams(col(text))).as("bg"))
      .select(col(id), col("bg.w1").as("w1"), col("bg.w2").as("w2")))
    val biCounts = graft.util.QueryCache.persist(
      docBi.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val uniCounts = docBi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val fwd = biCounts.groupBy("w1").agg(count(lit(1)).as("n1f"))
    val bwd = biCounts.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val nTypes = biCounts.count()
    val nll = round(expr(
      s"""-ln((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
           + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
             * CAST(n1b AS DOUBLE) / CAST($nTypes AS DOUBLE))""")
      / math.log(2.0), 8)
    docBi
      .join(biCounts, Seq("w1", "w2"))
      .join(uniCounts, Seq("w1"))
      .join(fwd, Seq("w1"))
      .join(bwd, Seq("w2"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(nll.cast(DecimalType(30, 8))).cast("double") /
          count(lit(1)), 6).as("avg_nll_kn"))
  }
}

/** tf-idf keyword extraction: per-document top-k terms by
  * tf(t,d) * idf(t), idf = ln(N / df). The classic two-aggregation +
  * join shape; the per-doc ranking window is bounded by document length. */
object Tfidf {

  def topTerms(corpus: DataFrame, id: String, text: String,
               k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokd = graft.util.QueryCache.persist(corpus
      .select(col(id), explode(TextAnalysis.tokens(lower(col(text)))).as("term")))
    val docLen = tokd.groupBy(col(id)).agg(count(lit(1)).as("len"))
    val tf = tokd.groupBy(col(id), col("term")).agg(count(lit(1)).as("tc"))
    val n = docLen.count()
    val idf = tokd.select(col(id), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf", round(log(lit(n.toDouble) / col("df")), 8))
    val scored = tf.join(docLen, Seq(id)).join(idf, Seq("term"))
      .withColumn("score",
        round(col("tc") / col("len") * col("idf"), 6))
    val w = Window.partitionBy(col(id))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(id), col("rk"), col("term"), col("score"))
  }
}
