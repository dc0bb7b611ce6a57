package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BPE merge training (Sennrich et al. 2016, public arXiv:1508.07909) —
  * the vocabulary-construction step of a tokenizer pipeline, distributed.
  *
  * Classic structure: BPE never touches the raw corpus after one pass —
  * it runs on the WORD-FREQUENCY dictionary (distinct words with counts),
  * which is orders of magnitude smaller. Each PASS then is:
  *   1. count adjacent symbol pairs over the dictionary, weighted by word
  *      frequency — ONE hash-agg (the only shuffle per pass);
  *   2. pick a BATCH of merges: the top-k pairs (deterministic tie-break:
  *      lexicographic smallest) plus their adjacency bounds, two bounded
  *      collects (k + 2k rows — the k-means-centroid pattern), accepted
  *      as a prefix provably identical to one-merge-at-a-time training
  *      (see [[trainLoop]]);
  *   3. apply the accepted merges to every word's symbol string — one
  *      scan-stage chain of literal replaces on the bracket form.
  * At 100 TB only step 0 (the word count) sees the corpus; the per-pass
  * cost is proportional to the dictionary, and driver round-trips scale
  * as merges/batch, not merges — the difference between 3 jobs and 10^5
  * jobs at a real 32k-vocab training run.
  *
  * Symbols travel as a bracket-delimited string "(b)(a)(n)": every
  * symbol is fully enclosed, so adjacent occurrences of a pair share NO
  * boundary characters and sequential left-to-right literal replacement
  * of "(l)(r)" with "(lr)" is EXACTLY Sennrich's greedy leftmost merge —
  * including adjacent repeats ("banana" + (a,n) -> b|an|an|a, which a
  * space-separated form gets wrong because the shared separator is
  * consumed by the previous match. Java's String.replace and DuckDB's
  * replace() scan identically, which is what lets the q207/q210 oracles
  * replay training round by round.
  */
object Bpe {

  /** Bracket-delimited symbol form of the word dictionary of `textCol`:
    * (w, s = "(c)(h)(a)(r)(s)", f = word frequency). Words restricted to
    * [a-z]+ so symbols never collide with the delimiters. */
  def symbolDict(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(lower(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("w"),
        concat(lit("("), array_join(split(col("w"), ""), ")("), lit(")"))
          .as("s"),
        col("f"))

  /** The symbol array of a bracket-delimited form: strip the outer
    * brackets, split on ")(". */
  private def symsArray(s: Column): Column =
    split(s.substr(lit(2), length(s) - 2), "\\)\\(")

  /** The training loop: returns (merge rows, final dictionary (w, s, f)
    * with all merges applied).
    *
    * BATCHED merges, provably identical to the classic one-merge-per-pass
    * loop: per pass, take candidates in the sequential pick order
    * (cnt desc, then lexicographic) and accept a PREFIX of them while
    *  (a) the candidate's symbols are disjoint from every symbol an
    *      earlier accepted merge touched or created — so its count is
    *      invariant under those merges (a pair (a,b) with a,b untouched
    *      can neither gain nor lose adjacencies), and
    *  (b) its count strictly exceeds the best count ANY pair created by
    *      the earlier accepted merges could have: an occurrence of
    *      (x, l+r) descends from an old (x, l) occurrence and one of
    *      (l+r, y) from an old (r, y), so max-in(l) / max-out(r) over the
    *      OLD pair table bound every created pair.
    * Under (a)+(b) the sequential trainer would pick exactly these pairs
    * in exactly this order, so the merge table, counts, ranks, and final
    * dictionary are bit-identical — but one pass costs 3 Spark jobs
    * (pair count, top-k, adjacency bounds) instead of 2 jobs PER MERGE,
    * the fix for the driver round-trip bottleneck a real 32k-50k-merge
    * vocabulary would hit. Driver state stays bounded: k rows + 2k
    * bound rows per pass. */
  private def trainLoop(docs: DataFrame, textCol: String,
                        rounds: Int): (Seq[Row], DataFrame) = {
    var syms = graft.util.QueryCache.persist(symbolDict(docs, textCol))
    val merges = scala.collection.mutable.ArrayBuffer[Row]()
    var exhausted = false
    while (merges.length < rounds && !exhausted) {
      val arr = syms.select(symsArray(col("s")).as("a"), col("f"))
      val pairs = graft.util.QueryCache.persist(arr
        .filter(size(col("a")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("a")) - 1),
          i => struct(element_at(col("a"), i).as("l"),
            element_at(col("a"), i + 1).as("r")))).as("p"), col("f"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("f").as("cnt")))
      val k = math.min(16, rounds - merges.length)
      val top = pairs.orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(k).collect()
      if (top.isEmpty) exhausted = true
      else {
        // adjacency bounds for the candidate symbols: max cnt of any pair
        // ending at s (side=in) / starting at s (side=out), one small job
        val candSyms = top.flatMap(t =>
          Seq(t.getString(0), t.getString(1))).distinct.toSeq
        val bounds = pairs.filter(col("r").isin(candSyms: _*))
          .select(col("r").as("sym"), lit("in").as("side"), col("cnt"))
          .unionByName(pairs.filter(col("l").isin(candSyms: _*))
            .select(col("l").as("sym"), lit("out").as("side"), col("cnt")))
          .groupBy("sym", "side").agg(max("cnt").as("m"))
          .collect()
          .map(b => (b.getString(0), b.getString(1)) -> b.getLong(2)).toMap
        val used = scala.collection.mutable.Set[String]()
        val created = scala.collection.mutable.Set[String]()
        var bound = Long.MinValue
        var stop = false
        var i = 0
        while (i < top.length && !stop) {
          val (l, rr, cnt) = (top(i).getString(0), top(i).getString(1),
            top(i).getLong(2))
          // candidates are in pick order, `bound` only grows: the first
          // failure of either gate ends the batch (a skipped candidate's
          // count is no longer known to be invariant)
          if (i > 0 && (cnt <= bound ||
              used(l) || used(rr) || created(l) || created(rr))) stop = true
          else {
            merges += Row(merges.length + 1, l, rr, cnt)
            syms = syms.select(col("w"),
              replace(col("s"), lit(s"($l)($rr)"), lit(s"($l$rr)")).as("s"),
              col("f"))
            used += l; used += rr; created += (l + rr)
            bound = math.max(bound, math.max(
              bounds.getOrElse((l, "in"), Long.MinValue),
              bounds.getOrElse((rr, "out"), Long.MinValue)))
          }
          i += 1
        }
        syms = graft.util.QueryCache.persist(syms)
      }
    }
    (merges.toSeq, syms)
  }

  /** Train `rounds` BPE merges. Returns one row per merge:
    * (merge_rank, lhs, rhs, cnt) — the merge table a tokenizer ships. */
  def train(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    val (merges, _) = trainLoop(docs, textCol, rounds)
    spark.createDataFrame(
      java.util.Arrays.asList(merges: _*),
      StructType(Seq(
        StructField("merge_rank", IntegerType, nullable = false),
        StructField("lhs", StringType, nullable = false),
        StructField("rhs", StringType, nullable = false),
        StructField("cnt", LongType, nullable = false))))
  }

  /** BPE ENCODING of the training dictionary: per word, the number of
    * symbols after all `rounds` merges (applying merges in rank order is
    * exactly the training replace chain, so the final training dictionary
    * IS the encoded form). Returns (w, n_sym) — broadcast-joinable onto
    * any token stream to get corpus-level BPE token counts. */
  def encodedCounts(docs: DataFrame, textCol: String,
                    rounds: Int): DataFrame = {
    val (_, dict) = trainLoop(docs, textCol, rounds)
    dict.select(col("w"),
      size(symsArray(col("s"))).cast("long").as("n_sym"))
  }
}
