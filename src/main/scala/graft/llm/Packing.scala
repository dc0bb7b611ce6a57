package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sequence packing — the "concatenate the corpus and chunk it into
  * fixed-length training sequences" step of an LLM pretraining pipeline
  * (GPT-style packing: documents are laid end-to-end in a canonical order
  * and the token stream is split every `seqLen` tokens, so a document may
  * straddle a sequence boundary).
  *
  * The whole op reduces to one primitive: the GLOBAL token offset of every
  * document, i.e. a prefix sum over a 100 TB table —
  * [[graft.model.Positions.runningSum]], the within-bucket running sum
  * plus [[graft.model.Positions.bucketOffsets]]; no global window, no
  * single-task bottleneck.
  */
object Packing {

  /** Padded (document-boundary-preserving) packing — the OTHER standard
    * packing mode: a document never straddles a sequence; when it doesn't
    * fit the remainder, the sequence is padded out and the doc starts the
    * next one (greedy in-order fill; wastes pad tokens but keeps attention
    * within documents). Docs longer than `seqLen` are capped at `seqLen`
    * (the consumer truncates).
    *
    * Greedy fill is a sequential recurrence (each placement depends on the
    * previous end position), so it cannot be a prefix sum. It runs as a
    * per-shard sorted scan (`flatMapSortedGroups` on the shard, in id
    * order — the [[graft.exprs.Ewm]] shape): shards pack
    * independently, exactly as sharded corpus files do in production, and
    * the shard key bounds both the scan state (3 longs) and the skew.
    * Returns (id, shard, eff, seq, pos): sequence ordinal WITHIN the shard
    * and the doc's start offset inside it. */
  def packSequencesPadded(docs: DataFrame, id: String, tokenCount: Column,
                          seqLen: Int, shardCol: Column): DataFrame = {
    val in = docs
      .select(col(id), shardCol.cast(LongType).as("shard"),
        least(tokenCount.cast(LongType), lit(seqLen.toLong)).as("eff"))
    val outSchema = StructType(Seq(
      StructField(id, in.schema(id).dataType, nullable = false),
      StructField("shard", LongType, nullable = false),
      StructField("eff", LongType, nullable = false),
      StructField("seq", LongType, nullable = false),
      StructField("pos", LongType, nullable = false)))
    in.groupBy(col("shard"))
      .as[Row, Row](Encoders.row(StructType(Seq(in.schema("shard")))),
        Encoders.row(in.schema))
      .flatMapSortedGroups(col(id)) { (_, it) =>
        var seq = 0L
        var end = 0L
        it.map { r =>
          val shard = r.getLong(1); val eff = r.getLong(2)
          // eff <= seqLen, so a fresh sequence (end == 0) always fits
          if (end + eff > seqLen) { seq += 1L; end = 0L }
          val pos = end
          end += eff
          Row(r.get(0), shard, eff, seq, pos)
        }
      }(Encoders.row(outSchema))
  }

  /** Pack documents into `seqLen`-token sequences in `id` order. Returns
    * one row per doc: its global token span [start_off, end_off), the
    * first/last sequence it lands in, and its offset inside the first
    * sequence. Zero-token docs sit at their boundary (`seq_last` =
    * `seq_first`, an empty span). */
  def packSequences(docs: DataFrame, id: String, tokenCount: Column,
                    seqLen: Int): DataFrame = {
    // Parallelize.ensure BEFORE the projection: runningSum caches its
    // input, and the cache fill evaluates tokenCount (a regex pass
    // over every doc) map-side — on a narrow single-file scan that would
    // serialize; repartitioning the raw docs moves the text once and the
    // regex then runs wide. (runningSum persists the projection itself,
    // so the regex runs exactly once either way.)
    val base = graft.util.Parallelize.ensure(docs)
    val withEnd = graft.model.Positions.runningSum(
      base.select(col(id), tokenCount.cast(LongType).as("n_tokens")),
      col(id), col("n_tokens"), "end_off")
    withEnd
      .withColumn("start_off", col("end_off") - col("n_tokens"))
      .withColumn("seq_first", expr(s"start_off div $seqLen"))
      .withColumn("seq_last",
        when(col("n_tokens") > 0, expr(s"(end_off - 1) div $seqLen"))
          .otherwise(expr(s"start_off div $seqLen")))
      .withColumn("pos_in_seq", pmod(col("start_off"), lit(seqLen.toLong)))
      .select(col(id), col("n_tokens"), col("start_off"), col("end_off"),
        col("seq_first"), col("seq_last"), col("pos_in_seq"))
  }

  /** Length-bucketed batching accounting — the inference/eval-serving
    * counterpart of packing: each doc pads to the next power-of-two
    * bucket ≥ its token count, batches of `batch` docs form within a
    * bucket, and the report shows where padding waste concentrates.
    * Pure scan-stage bucket assignment + one hash agg on the bucket key
    * (a handful of groups) — the same plan at any corpus size.
    *
    * The `n_tokens > 0` guard applies to the COUNT the caller supplies:
    * note that a whitespace-tokenized empty string still counts 1 (the
    * split yields [""]), so blank docs land in bucket 1 unless the
    * caller pre-filters them.
    *
    * ceil(log2(n)) is safe in IEEE double for the n here: log2 of a
    * power of two is exact, and elsewhere log2(n) is irrational with the
    * nearest integer more than an ulp away, so ceil never mis-rounds. */
  def lengthBuckets(docs: DataFrame, id: String, tokenCount: Column,
                    batch: Int): DataFrame = {
    require(batch > 0, s"batch must be positive, got $batch")
    val bucketed = docs
      .select(col(id), tokenCount.cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("bucket",
        pow(lit(2.0), ceil(log2(col("n_tokens")))).cast(LongType))
    bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .select(col("bucket"), col("n_docs"),
        // full batches of `batch` docs, last one partial (exact int div)
        expr(s"(n_docs + ${batch - 1}) div $batch").as("n_batches"),
        col("total_tokens"),
        (col("n_docs") * col("bucket")).as("padded_slots"),
        // exact integers, not a ratio: power-of-two slot denominators
        // make any fixed-dp rounding of waste/slots land on half-way
        // ties where engines disagree (HALF_UP vs half-even)
        (col("n_docs") * col("bucket") - col("total_tokens"))
          .as("waste_tokens"))
  }
}
