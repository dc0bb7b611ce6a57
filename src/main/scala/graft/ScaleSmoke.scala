package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale smoke (BENCH_SCALE.md): synthesize an ~sf1 replica of the
  * driver tables by unioning sf0.1 `reps` times with remapped keys, then
  * single-pass-time the most expensive registry queries against it.
  *
  * Replica semantics (chosen so the stress is realistic, not degenerate):
  *  - every long key space (doc/vec/order/cust/event/user ids) shifts by
  *    r·10^7 per replica — MORE entities, not deeper per-entity history,
  *    so windows/sessions/groups scale in count, not in state size;
  *  - document text and customer names get a per-replica suffix: replicas
  *    are realistic NEAR-duplicates (high-Jaccard, distinct hashes), so
  *    exact dedup does not collapse them and LSH/fuzzy blocking is
  *    stressed without the quadratic exact-copy pathology;
  *  - embeddings replicate verbatim under new ids (covariance/clustering
  *    are invariant; candidate-bounded ANN paths are not in this list);
  *  - dimension tables (part/supplier/nation/region) stay as-is, like a
  *    real star schema scaling facts against fixed dims.
  *
  * Usage: runMain graft.ScaleSmoke [srcDir] [outDir] [query ... | ALL]
  */
object ScaleSmoke {

  private val OFF = 10_000_000L

  private val DEFAULT = Seq(
    "q50_dedup_exact", "q51_minhash_lsh", "q52_ngram_jaccard",
    "q136_substring_dedup", "q142_dedup_clusters",
    "q143_dedup_representatives", "q146_seq_packing", "q197_zorder",
    "q239_pca_covariance", "q275_also_bought", "q281_classifier_eval",
    "q283_fuzzy_match",
    // round-13 additions: the new heaviest verbs
    "q297_countmin_sketch", "q299_source_overlap", "q306_stream_countmin",
    "q307_last_touch",
    // round-13 late additions: the heaviest of the new batch
    "q339_containment_dedup", "q344_link_prediction", "q345_concurrency",
    "q333_poisson_bootstrap", "q332_kaplan_meier")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    // "ALL" = the full-registry sweep (round-16 verdict item 1): every
    // registered query except Structured Streaming verbs, whose wall
    // time at these sizes is micro-batch machinery startup, not data
    // (BENCH_SCALE.md method note; q306's sampled 10x leg covers the
    // family). Results append to SPARK_GRAFT_SCALE_LOG as JSONL so a
    // hung query is visible and the sweep resumes by skipping names
    // already logged.
    val names = args.drop(2).toSeq match {
      case Seq("ALL") => SparkEntry.select(Nil).filterNot(_.contains("stream"))
      case Seq()      => SparkEntry.select(DEFAULT)
      case named      => SparkEntry.select(named)
    }
    val logPath = sys.env.get("SPARK_GRAFT_SCALE_LOG")
    val done: Set[String] = logPath.filter(p =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(p))).map { p =>
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p)))
        .asScala.flatMap { l =>
          val i = l.indexOf("\"name\":\"")
          // a FAILED query logs rows:-1 — leave it out of `done` so it
          // re-runs on resume instead of silently dropping from the sweep
          if (i < 0 || l.contains("\"rows\":-1")) None
          else Some(l.substring(i + 8, l.indexOf('"', i + 8)))
        }.toSet
    }.getOrElse(Set.empty)
    val spark = GraftSession(src)

    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/_DONE"))) {
      build(spark, src, out, reps)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/_DONE"),
        Array.emptyByteArray)
    }

    // partitions-∝-data as ENGINE behavior: key the initial shuffle width
    // to the replica's actual bytes — the q239-class heavy aggregates
    // inherit their scaled-partition numbers with no per-query edits, AQE
    // coalesces everything else back to the floor.
    val w = graft.util.Parallelize.tuneShuffle(spark, out)
    println(s"SCALE_SHUFFLE_WIDTH $w")

    val total = SparkEntry.run(spark, out, names.filterNot(done)) {
      (_, df) => df.count()
    }.map { o =>
      val rows = o.result.fold({ e =>
        println(s"SCALE_FAIL ${o.name}: ${e.getClass.getSimpleName}: " +
          s"${String.valueOf(e.getMessage).take(200)}")
        -1L
      }, identity)
      val line = f"""{"name":"${o.name}","sec":${o.secs}%.3f,"rows":$rows}"""
      println(s"SCALE $line")
      logPath.foreach { p =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          (line + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
      o.secs
    }.sum
    println(f"""SCALE_TOTAL {"reps":$reps,"sec":$total%.3f}""")
    spark.stop()
  }

  private def build(spark: SparkSession, src: String, out: String,
                    reps: Int): Unit = {
    def rep(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet").crossJoin(
        spark.range(reps.toLong).toDF("__r"))
    val r = col("__r")
    def shift(c: String) = (col(c) + r * OFF).as(c)
    val tables = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def save(df: DataFrame, t: String): Unit =
      if (tables.forall(_(t))) {
        df.drop("__r").write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"SCALE_BUILT $t")
      }
    // SPARK_GRAFT_SCALE_MUTATE=1 dilutes near-dup density to ZERO
    // across replicas: every token of every r>0 replica gets a
    // replica-specific suffix, so replicas share no shingles at all
    // (each replica family keeps only its ORIGINAL intra-corpus
    // overlaps). Pair-emission verbs then scale linearly in replica
    // count — the control experiment for the suffix-only replica whose
    // quadratic sibling pairs dominate.
    val mutate = sys.env.get("SPARK_GRAFT_SCALE_MUTATE").contains("1")
    val mutText =
      if (mutate)
        when(r === 0, col("text")).otherwise(array_join(
          transform(split(col("text"), " "),
            t => concat(t, lit("~"), r.cast("string"))), " "))
      else
        when(r === 0, col("text"))
          .otherwise(concat(col("text"), lit(" r"), r))
    save(rep("documents").select(
      shift("doc_id"),
      mutText.as("text"),
      col("lang"), col("source"),
      when(r === 0, col("n_chars"))
        .otherwise(length(mutText)).as("n_chars"),
      r), "documents")
    // MUTATE also dilutes EMBEDDING near-dup density: replica r > 0
    // rotates the vector circularly by r positions (norm-preserving, so
    // covariance/quantizer geometry stays realistic) — cross-replica
    // cosine falls far below any near-dup threshold, isolating the
    // engine's scaling from the quadratic exact-copy pair emission the
    // verbatim replica forces (the q52 dilution argument, for vectors).
    // rotation k is taken modulo the ACTUAL vector dimension: a fixed %63
    // would degrade to an identity rotation for dims <= 63 (slice clamps),
    // silently reintroducing the verbatim-copy pairs the mutation dilutes
    val mutEmb = {
      val k = ((r - 1) % (size(col("embedding")) - 1) + 1).cast("int")
      if (mutate)
        when(r === 0, col("embedding")).otherwise(
          concat(
            slice(col("embedding"), k + 1, lit(100000)),
            slice(col("embedding"), lit(1), k)))
      else col("embedding")
    }
    save(rep("embeddings")
      .select(shift("vec_id"), mutEmb.as("embedding"), col("label"), r),
      "embeddings")
    save(rep("lineitem").select(
      shift("l_orderkey") +: spark.read.parquet(s"$src/lineitem.parquet")
        .columns.filter(_ != "l_orderkey").map(col).toSeq :+ r: _*), "lineitem")
    save(rep("orders").select(
      shift("o_orderkey") +: spark.read.parquet(s"$src/orders.parquet")
        .columns.filter(_ != "o_orderkey").map(col).toSeq :+ r: _*), "orders")
    save(rep("customer").select(
      shift("c_custkey"),
      when(r === 0, col("c_name"))
        .otherwise(concat(col("c_name"), lit(" "), r)).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"), r), "customer")
    save(rep("events").select(
      shift("event_id"), col("ts"), shift("user_id"),
      col("event_type"), col("value"), col("props"), r), "events")
    Seq("part", "supplier", "nation", "region").foreach { t =>
      if (tables.forall(_(t))) {
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"SCALE_BUILT $t (verbatim)")
      }
    }
  }
}
