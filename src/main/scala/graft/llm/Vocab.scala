package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vocabulary construction and the hashing trick — the two standard
  * token -> feature-id paths in front of any text model.
  */
object Vocab {

  /** Top-K vocabulary with dense ids: id 1..K by (count desc, token),
    * plus the OOV row (id 0, "<unk>") carrying the residual token mass.
    *
    * Scale shape: token counting is the wordcount partial+final hash
    * aggregate; the top-K cut is TakeOrdered; the id window runs over
    * the ALREADY-LIMITED K-row frame (K-bounded by construction, not by
    * the data). The OOV mass needs the 1-row corpus total broadcast. */
  def buildVocab(toks: DataFrame, tokCol: String, topK: Int): DataFrame = {
    val counts = toks.groupBy(tokCol).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col(tokCol)).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col(tokCol))
    val vocab = top.withColumn("id", row_number().over(w).cast("long"))
    val total = toks.agg(count(lit(1)).as("__total"))
    val kept = vocab.agg(sum(col("n")).as("__kept"))
    val unk = total.crossJoin(kept)
      .select(lit(0L).as("id"), lit("<unk>").as(tokCol),
        (col("__total") - col("__kept")).as("n"))
    vocab.select(col("id"), col(tokCol), col("n")).unionByName(unk)
  }

  /** Vocabulary coverage curve: for each coverage target (percent of
    * total token mass), the smallest top-K vocabulary that reaches it —
    * the tokenizer-budget planning verb ("how big a vocab covers
    * 95%?"). Pure integer comparison cum·100 >= pct·total, so the pick
    * is engine-exact; a target unreachable within `topK` emits no row
    * (same on every engine). Same K-bounded TakeOrdered + ordinal
    * window contract as [[buildVocab]]; the cumulative sum runs over
    * the K-row cut only. */
  def coverageCurve(toks: DataFrame, tokCol: String, topK: Int,
                    targetsPct: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = toks.groupBy(tokCol).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col(tokCol)).limit(topK)
    val w = Window.orderBy(col("n").desc, col(tokCol))
    val cum = top.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val total = toks.agg(count(lit(1)).as("total"))
    cum.crossJoin(total)
      .select(col("rank"), col("cum"), col("total"),
        explode(array(targetsPct.map(lit(_)): _*)).as("target_pct"))
      .filter(col("cum") * 100 >= col("target_pct") * col("total"))
      .groupBy(col("target_pct"))
      .agg(min(struct(col("rank"), col("cum"), col("total"))).as("__p"))
      .select(col("target_pct"), col("__p.rank").as("vocab_size"),
        col("__p.cum").as("covered_tokens"),
        col("__p.total").as("total_tokens"))
  }

  /** Hashing trick (feature hashing a la HashingVectorizer): token ->
    * bucket `key % dim` with a parity sign from the next hash bit, summed
    * per (doc, bucket) — fixed dimensionality with no vocabulary state,
    * the streaming-friendly alternative to [[buildVocab]]. Long-form
    * output (id, idx, val); cancelled buckets keep their 0 row. One scan,
    * partial+final hash aggregate on (id, idx). */
  def featureHash(docs: DataFrame, id: String, text: String,
                  dim: Int): DataFrame = {
    require(dim > 0, s"featureHash needs dim > 0, got $dim")
    require(dim <= (1 << 20),
      s"featureHash sign bit (bit 20) must be independent of idx: dim <= 2^20")
    val h = Sketch.tokenKey(col("__tok"))
    docs.select(col(id),
        explode(TextAnalysis.tokens(lower(col(text)))).as("__tok"))
      .select(col(id), pmod(h, lit(dim.toLong)).as("idx"),
        // sign from hash bit 20 — bit-shift, not division, so the
        // oracle's (h >> 20) & 1 is trivially identical
        when(shiftright(h, 20) % 2 === 0, 1L).otherwise(-1L).as("sign"))
      .groupBy(col(id), col("idx"))
      .agg(sum(col("sign")).as("val"))
  }
}
