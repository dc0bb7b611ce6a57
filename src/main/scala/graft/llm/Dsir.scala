package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023; public paper arXiv:2302.03169): score every raw document by the
  * log-likelihood ratio of a hashed-n-gram bag-of-words model fit on a
  * small TARGET corpus vs one fit on the RAW corpus,
  *
  *   log w(x) = Σ_{g ∈ grams(x)} [ log p̂_target(bucket(g))
  *                               − log p̂_raw(bucket(g)) ]
  *
  * with add-one smoothing over B hash buckets. Resampling by these weights
  * shifts a pretraining mixture toward the target domain — the standard
  * pre-filtering step in front of the mixing/sampling verbs
  * ([[Sampling.mixSources]], [[Sampling.stratifiedSample]]).
  *
  * Spark-first shape: the model is B buckets (constant, ≤64k), so the fit
  * is ONE hash-agg over the exploded gram stream and scoring is a
  * BROADCAST join of the λ table back onto that stream — two scan-stage
  * passes, no shuffle wider than B rows, nothing driver-side. At 100 TB
  * the gram explode dominates and is embarrassingly parallel.
  */
object Dsir {

  /** Unigram+bigram gram strings from a MATERIALIZED token-array column
    * (multiplicity kept, matching the paper's bag-of-hashed-ngrams).
    * `toks` must be an attribute reference, not the `split(...)`
    * expression itself: a Column expression is textually duplicated at
    * every use site, so an inline split would re-tokenize the whole
    * document inside every element_at — O(tokens²) per doc. Grams stay
    * STRINGS here — hash the exploded column with [[bucketOf]] so the md5
    * runs as a codegen'd top-level expression, not interpreted inside the
    * lambda. */
  def gramStrings(toks: Column): Column = {
    // element_at is 1-based; sequence(1, n-1) must be guarded — Spark's
    // sequence STEPS BACKWARD when start > stop, so a 1-token doc would
    // otherwise produce [1, 0] instead of no bigrams
    val bis = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array())
    concat(toks, bis)
  }

  /** Portable md5-prefix 16-bit bucket of a gram, same construction as
    * [[Splits.splitBucket]], so any engine can replay the features. */
  def bucketOf(gram: Column, buckets: Int): Column =
    pmod(conv(substring(md5(gram), 1, 4), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Per-document DSIR log importance weight. `isTarget` marks the target
    * corpus rows (they are scored too — harmless, and keeps the raw model
    * the full-corpus one). Per-bucket λ is rounded to 8 dp and summed as
    * DECIMAL so the score is reproducible bit-for-bit across engines.
    * Emits (doc_id, log_weight DOUBLE). */
  def importanceWeights(docs: DataFrame, isTarget: Column, textCol: String,
                        idCol: String, buckets: Int = 4096): DataFrame = {
    val grams = graft.util.QueryCache.persist(
      docs.select(col(idCol).as("doc_id"), isTarget.as("is_t"),
        TextAnalysis.tokens(lower(col(textCol))).as("toks"))
        .select(col("doc_id"), col("is_t"),
          explode(gramStrings(col("toks"))).as("g"))
        .select(col("doc_id"), col("is_t"),
          bucketOf(col("g"), buckets).as("b")))
    val bc = grams.groupBy("b").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = bc.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val lam = bc.crossJoin(tot).select(col("b"),
      round(
        log((col("ct") + 1).cast("double") /
            (col("nt") + buckets).cast("double")) -
        log((col("cr") + 1).cast("double") /
            (col("nr") + buckets).cast("double")), 8)
        .cast(DecimalType(28, 8)).as("lam"))
    grams.join(broadcast(lam), "b")
      .groupBy("doc_id")
      .agg(sum("lam").cast(DecimalType(38, 8)).cast("double").as("log_weight"))
  }
}
