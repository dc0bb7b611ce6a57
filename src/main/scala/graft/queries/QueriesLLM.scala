package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.llm.{Agreement, Bpe, Calibration, Classifier, Cluster, CorpusStats, Dedup, Dsir, LinkAnalysis, Multimodal, NgramLM, Packing, Retrieval, Sampling, Similarity, Sketch, Splits, TextAnalysis, Tfidf, Trees, Vocab}

/** Training-data pipeline operator queries: dedup (exact / MinHash-LSH /
  * SimHash / n-gram Jaccard), embedding similarity search, text analysis,
  * multimodal plumbing. */
object QueriesLLM extends QueryFamily {

  /** Seeded hyperplane signs for q54b — one source of truth for the engine
    * expression AND the generated oracle SQL literal. */
  private val rhpSignsM = Similarity.rhpSigns(planes = 8, dim = 64)
  private val rhpSignsSql: String =
    rhpSignsM.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  private val lexicons = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "que", "los", "una"),
    "fr" -> Seq("le", "les", "et", "des", "un"),
    "zh" -> Seq("zhong", "wen", "shi", "bu", "ren"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup via content hash (hash-groupBy, never shuffles raw text)
    "q50_dedup_exact" -> ((s, dir) => {
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
    }),

    // exact substring dedup (Lee et al. 2021): 40-char windows at stride
    // 10, md5-keyed; windows appearing verbatim in >=2 distinct docs are
    // duplicate spans. Distributed suffix-array stand-in: explode to
    // hashes, one shuffle on the window key, one back on doc id.
    "q136_substring_dedup" -> ((s, dir) => {
      Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", "text",
        gramLen = 40, stride = 10)
    }),

    // duplicate families: transitive closure of the shared-window graph
    // (A~B on one span, B~C on another -> one family); distributed CC by
    // min-label propagation, oracled by a recursive-CTE closure
    "q142_dedup_clusters" -> ((s, dir) => {
      Dedup.duplicateFamilies(Tables.documents(s, dir), "doc_id", "text",
        gramLen = 40, stride = 10)
    }),

    // benchmark decontamination: every 10th doc plays the eval set; flag
    // corpus docs sharing any verbatim 20-char window with it. Bench gram
    // set broadcasts; the corpus never shuffles.
    "q138_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contamination(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", gramLen = 20, stride = 5)
    }),

    // MinHash + LSH near-dup pipeline: shingle -> minhash -> band ->
    // bucket-join -> exact-Jaccard verify. Planted duplicates live in the
    // negated id space (-id-1: collision-free at ANY table size) and must
    // all be found with jaccard 1.0; nothing else survives 0.9.
    "q51_minhash_lsh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val all = docs.unionByName(
        docs.withColumn("doc_id", -col("doc_id") - 1L))
        // single-file scans arrive in 1-2 partitions; spread the expensive
        // shingle/minhash projection across the cluster first
        .repartition(col("doc_id"))
      // one pass computes shingles + signatures; persist so the bucket
      // join, pair join, and both verify sides reuse it instead of
      // re-running the hash projection per consumer. The verify arrays are
      // 64-bit shingle ids, NOT strings: set sizes are identical w.h.p.
      // (within-doc 64-bit collision ~1e-15) and the persist/shuffle/
      // intersect all run over longs instead of text.
      val sig = graft.util.QueryCache.persist(
        all.withColumn("sh_x", Dedup.shingleIds(col("text"), 3))
          .withColumn("sig", Dedup.minhashFromHashes(
            transform(col("sh_x"), h => pmod(h, lit(2147483647L))), 64))
          .select("doc_id", "sh_x", "sig"))
      val buckets = Dedup.lshBuckets(sig, "doc_id", "sig",
        bands = 16, rowsPerBand = 4)
      val pairs = Dedup.candidatePairs(buckets, "doc_id")
      val out = Dedup.jaccardVerifyPre(pairs,
        sig.select(col("doc_id"), col("sh_x").as("sh")),
        "doc_id", threshold = 0.9)
      out
    }),

    // n-gram Jaccard similarity within a blocking key (same source).
    // Grams join as 64-bit hashes: the co-occurrence shuffle carries longs,
    // not bigram strings (counts identical w.h.p., ~1e-15 collision).
    // Document-frequency cap: a stop-gram appearing in k docs would emit
    // k² candidate rows in its block of the self-join — grams above the
    // cap are dropped from the JOIN via a broadcast anti-join against the
    // (tiny) over-cap list. They carry no discriminative Jaccard signal:
    // a gram shared by "everyone" moves intersection AND union together,
    // so the score loss is bounded by cap-df/corpus. The cap sits far
    // above any df in the test data, so answers here are exact.
    "q52_ngram_jaccard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).repartition(col("doc_id"))
      Dedup.ngramJaccard(docs, "doc_id", "text", "source",
        n = 2, gramDfCap = 100000L)
    }),

    // SimHash signatures + Hamming distance to the exact-duplicate copy
    // (planted dup must give distance 0). Token hash is the portable
    // md5-prefix (60-bit), so the signature has a full DuckDB oracle.
    "q53_simhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val all = docs.unionByName(
        docs.withColumn("doc_id", -col("doc_id") - 1L))
      val sh = Dedup.simhash(all, "doc_id", "text")
      val a = sh.filter(col("doc_id") >= 0)
      val b = sh.filter(col("doc_id") < 0)
        .select((-col("doc_id") - 1L).as("doc_id"),
          col("simhash").as("simhash_dup"))
      a.join(b, "doc_id")
        .select(col("doc_id"), col("simhash"),
          Dedup.hamming(col("simhash"), col("simhash_dup")).as("dist_to_dup"))
    }),

    // brute-force cosine top-k (exact ANN baseline)
    "q54_cosine_topk" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      Similarity.bruteForceTopK(corpus, probes, "vec_id", "probe_id",
        "embedding", k = 3)
    }),

    // LSH-bucketed ANN (the scale path): 8 seeded ±1 hyperplanes bucket
    // the corpus; probes score only their own bucket. Fully oracle-checked
    // — the sign matrix is shared with the generated oracle SQL.
    "q54b_lsh_ann" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") < 50)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      Similarity.lshTopK(corpus, probes, "vec_id", "probe_id",
        "embedding", rhpSignsM, k = 3)
    }),

    // multi-probe LSH ANN: probe the home bucket + all 8 distance-1
    // buckets — near-exact recall at (planes+1)x candidate cost
    "q54d_lsh_multiprobe" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") < 50)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      Similarity.lshTopKMultiProbe(corpus, probes, "vec_id", "probe_id",
        "embedding", rhpSignsM, k = 3)
    }),

    // IVF ANN: coarse-quantize the corpus onto deterministic seed
    // centroids (vec_id < 8), then probe only the probe's own cell
    // (nprobe=1). Fully oracle-checkable: assignment and scoring both use
    // the decimal-exact cosine. The 100 TB path: assignment is one
    // broadcast pass, candidate scoring touches ~1/cells of the corpus.
    "q54c_ivf_ann" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val centroids = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
      val assigned = graft.util.QueryCache.persist(Similarity.ivfAssign(
        corpus, centroids, "vec_id", "embedding", "cell_id", "cell_vec"))
      val probes = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"),
          col("cell_id"))
      Similarity.ivfCandidateTopK(assigned, probes, "vec_id", "embedding",
        "probe_id", "cell_id", k = 3)
    }),

    // cell-bucketed mutual nearest neighbors (bitext mining / pair
    // curation): even vec_ids vs odd vec_ids, candidates share an IVF
    // cell (the SemDeDup per-cell pair bound — never all-pairs), a pair
    // survives only if each side is the other's top-1
    "q318_mutual_nn" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val centroids = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
      val assigned = graft.util.QueryCache.persist(Similarity.ivfAssign(
          corpus, centroids, "vec_id", "embedding", "cell_id", "cell_vec")
        .withColumn("side", (col("vec_id") % 2).cast("int")))
      Similarity.mutualNN(assigned, "vec_id", "embedding", "cell_id",
        "side")
    }),

    // Zipf power-law fit over the top-500 vocabulary: corpus-health
    // slope via least squares on the 8-dp log-log decimal grid (exact
    // power sums, one fixed IEEE expression per coefficient)
    "q319_zipf_fit" -> ((s, dir) =>
      CorpusStats.zipfFit(Tables.documents(s, dir), "text", topK = 500)),

    // group-holdout split (leakage hygiene): events split by the USER's
    // hash so no user straddles train/val/test; the straddle count (0
    // by construction) is part of the checked output
    "q320_group_holdout" -> ((s, dir) =>
      Splits.groupHoldout(Tables.events(s, dir), "user_id")),

    // vocabulary coverage curve: smallest top-K vocab reaching each
    // token-mass target — pure integer comparison, K-bounded window
    "q321_vocab_coverage" -> ((s, dir) =>
      graft.llm.Vocab.coverageCurve(
        Tables.documents(s, dir).select(
            explode(TextAnalysis.tokens(trim(lower(col("text")))))
              .as("tok"))
          .filter(col("tok") =!= ""),
        "tok", topK = 2000, targetsPct = Seq(50, 75, 90, 95))),

    // Krippendorff's alpha across three length raters (char-count /
    // token-count / byte-length bucketers) — multi-rater agreement on
    // the exact-ppm integer grid
    "q322_krippendorff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val r1 = when(col("n_chars") < 300, "S")
        .when(col("n_chars") < 700, "M").otherwise("L")
      val r2 = {
        val t = size(TextAnalysis.tokens(trim(col("text"))))
        when(t < 50, "S").when(t < 120, "M").otherwise("L")
      }
      val r3 = {
        val l = length(col("text"))
        when(l < 320, "S").when(l < 720, "M").otherwise("L")
      }
      Agreement.krippendorffAlpha(d, col("doc_id"), Seq(r1, r2, r3))
    }),

    // IVF with nprobe=2: each probe scans its two nearest cells — the
    // recall knob missing from q54c's single-cell probe; candidates stay
    // disjoint (a corpus row lives in exactly one cell)
    "q157_ivf_nprobe" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val centroids = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
      val assigned = graft.util.QueryCache.persist(Similarity.ivfAssign(
        corpus, centroids, "vec_id", "embedding", "cell_id", "cell_vec"))
      val probes = Similarity.ivfProbeCells(
        corpus.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("embedding").as("__pv")),
        centroids, "probe_id", "__pv", "cell_id", "cell_vec", nprobe = 2)
      Similarity.ivfCandidateTopK(assigned, probes, "vec_id", "embedding",
        "probe_id", "cell_id", k = 3)
    }),

    // vocabulary build: per-source token frequencies, top-10. The classic
    // wordcount shape at 100 TB: explode -> partial+final hash agg (map-
    // side combine absorbs the token skew), then a per-source top-k
    // window over the (small) distinct-token counts.
    "q94_vocab_topk" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .repartition(col("doc_id"))
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      val counts = toks.groupBy("source", "tok").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("tok"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select("source", "rk", "tok", "n")
    }),

    // embedding near-dup pairs within a blocking key (label): the exact-
    // verify path of embedding dedup — planted copies (negated id space)
    // must surface with cosine ~1; nothing else is near 0.99 in this data.
    "q95_embed_neardup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("label"), col("vec_id"), col("embedding"))
      val all = e.unionByName(e.withColumn("vec_id", -col("vec_id") - 1L))
      val a = all.select(col("label"), col("vec_id").as("id_a"),
        col("embedding").as("__va"))
      val b = all.select(col("label"), col("vec_id").as("id_b"),
        col("embedding").as("__vb"))
      a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
        .withColumn("cosine", Similarity.cosineFast(col("__va"), col("__vb")))
        .filter(col("cosine") >= 0.99)
        .select("label", "id_a", "id_b", "cosine")
    }),

    // language ID via stopword-lexicon argmax
    "q55_langid" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.langId(col("text"), lexicons).as("lang_pred"))
    }),

    // quality scoring battery
    "q56_text_quality" -> ((s, dir) => {
      val t = col("text")
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(t).as("n_chars"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.distinctTokenCount(t).as("n_types"),
        TextAnalysis.typeTokenRatio(t).as("ttr"),
        TextAnalysis.digitRatio(t).as("digit_ratio"),
        TextAnalysis.wsRatio(t).as("ws_ratio"),
        TextAnalysis.meanTokenLen(t).as("mean_tok_len"),
        TextAnalysis.stopwordRatio(t, lexicons("en")).as("stopword_ratio"))
    }),

    // document fingerprint (order/case/ws-insensitive near-dup key)
    "q57_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    }),

    // multimodal: binary decode stub over per-partition batches
    "q58_multimodal_decode" -> ((s, dir) => {
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
      Multimodal.decode(media, "doc_id", "media")
    }),

    // multimodal: frame sampling plumbing (fixed-size chunks, strided)
    "q59_frame_sample" -> ((s, dir) => {
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
      Multimodal.frameSample(media, "doc_id", "media", frameBytes = 64, stride = 2)
        .select(col("doc_id"), col("frame_no"),
          length(col("frame")).as("frame_len"))
    }),

    // deterministic train/val/test split: stable hash assignment per doc,
    // stratification counts per (source, split)
    "q133_split" -> ((s, dir) => {
      import graft.model.XDataset.exactAvg
      Tables.documents(s, dir)
        .groupBy(col("source"),
          Splits.assignSplit(col("doc_id")).as("split"))
        .agg(count(lit(1)).as("n"),
          exactAvg(length(col("text")), scale = 4).as("avg_len"))
    }),

    // PII scrubbing: deterministic synthetic PII is appended per doc (the
    // corpus has none) so the masks are genuinely exercised, then counted
    // and scrubbed in one projection
    "q131_pii_scrub" -> ((s, dir) => {
      val withPii = Tables.documents(s, dir).select(col("doc_id"),
        concat(substring(col("text"), 1, 40),
          lit(" contact u"), col("doc_id"), lit("@example.com or 555-123-4567 at 10.0.0."),
          (col("doc_id") % 256).cast("string")).as("t"))
      withPii.select(col("doc_id"),
        regexp_count(col("t"), lit(TextAnalysis.emailPat)).as("n_email"),
        regexp_count(col("t"), lit(TextAnalysis.ipv4Pat)).as("n_ip"),
        regexp_count(col("t"), lit(TextAnalysis.phonePat)).as("n_phone"),
        TextAnalysis.scrubPii(col("t")).as("scrubbed"))
    }),

    // Gopher-style repetition signals + C4-style cleaning, all in the scan
    // stage (no shuffle): duplicate word-n-gram fractions, URL counts, the
    // cleaned text itself
    "q126_repetition_clean" -> ((s, dir) => {
      val t = col("text")
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.dupNgramRatio(t, 2).as("dup2"),
        TextAnalysis.dupNgramRatio(t, 3).as("dup3"),
        regexp_count(t, lit("https?://[^ \\t\\n]+")).as("n_urls"),
        length(TextAnalysis.cleanText(t)).as("clean_len"),
        substring(TextAnalysis.cleanText(t), 1, 60).as("clean60"))
    }),

    // canonical-doc selection: collapse each duplicate family (q142's
    // clusters) to its best representative (max n_chars, ties -> min id)
    "q143_dedup_representatives" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val fam = Dedup.duplicateFamilies(docs, "doc_id", "text",
        gramLen = 40, stride = 10)
      Dedup.familyRepresentatives(docs, fam, "doc_id", col("n_chars"))
    }),

    // stratified deterministic downsampling: per-lang keep rates as a
    // hash-threshold scan (no rand(), no shuffle; reproducible at 100 TB)
    "q144_stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 2500, "de" -> 5000, "zh" -> 7500), defaultBp = 10000)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    }),

    // data mixing with fractional epochs: src0 x2.5, src1 x0.5, src2
    // dropped, src3 x1.25, everything else x1 — scan-stage replicate/
    // sample, deterministic per doc id
    "q145_source_mixing" -> ((s, dir) => {
      Sampling.mixSources(Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> 25000, "src1" -> 5000, "src2" -> 0, "src3" -> 12500))
        .groupBy("source", "copy")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
    }),

    // GPT-style sequence packing: concat the corpus in doc_id order, chunk
    // every 1024 tokens; global offsets via the distributed prefix sum
    // (range partition + partition-local windows + O(P) broadcast offsets
    // — no global window anywhere in the plan)
    "q146_seq_packing" -> ((s, dir) => {
      Packing.packSequences(Tables.documents(s, dir), "doc_id",
        TextAnalysis.tokenCount(col("text")), seqLen = 1024)
    }),

    // substring-dedup ACTION: cut every merged duplicate span out of the
    // text (gaps-and-islands merge + ordered complement re-concat); the
    // md5 of the cleaned text makes the hash check full-strength
    "q156_span_excision" -> ((s, dir) => {
      Dedup.exciseDuplicateSpans(Tables.documents(s, dir), "doc_id", "text",
        gramLen = 40, stride = 10)
        .select(col("doc_id"), col("n_spans"), col("chars_cut"),
          length(col("cleaned")).as("clean_len"),
          md5(col("cleaned")).as("clean_md5"))
    }),

    // RAG-style chunking: overlapping 30-token windows at stride 20,
    // one row per chunk with offsets; md5 of the joined window makes the
    // hash check full-strength. Scan-stage explode — the corpus ->
    // vector-store ingestion shape.
    "q199_doc_chunking" -> ((s, dir) => {
      TextAnalysis.chunkDocuments(Tables.documents(s, dir), "doc_id",
        "text", chunkTokens = 30, overlap = 10)
        .select(col("doc_id"), col("chunk_id"), col("tok_start"),
          col("n_toks"), md5(col("chunk_text")).as("chunk_md5"))
    }),

    // DSIR importance weights (Xie et al. 2023): log-likelihood ratio of
    // hashed-bigram models, target corpus = src0 docs vs the full corpus.
    // Two scan passes + a broadcast of the 4096-row λ table — the
    // domain-targeting pre-filter in front of the sampling verbs.
    "q203_dsir_weights" -> ((s, dir) => {
      Dsir.importanceWeights(Tables.documents(s, dir),
        isTarget = col("source") === "src0",
        textCol = "text", idCol = "doc_id", buckets = 4096)
    }),

    // Matryoshka-style truncated ANN: rank on the 16-dim PREFIX of the
    // 64-dim embeddings (MRL truncation — 4x cheaper scoring/storage,
    // cosine renormalizes the prefix implicitly). Same exact-top-k
    // contract as q54 at the reduced dimension.
    "q218_mrl_truncated_ann" -> ((s, dir) => {
      val dim = 16
      val corpus = Tables.embeddings(s, dir)
        .withColumn("embedding", slice(col("embedding"), 1, dim))
      val probes = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      Similarity.bruteForceTopK(corpus, probes, "vec_id", "probe_id",
        "embedding", k = 3)
    }),

    // IVF + SQ8 residual quantization (FAISS "IVF,SQ8" composed from the
    // q54c coarse index and the q204 codec): candidates come from the
    // probe's cell only, scored against centroid + dequantized residual
    "q215_ivf_sq8" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val centroids = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
      val assigned = graft.util.QueryCache.persist(Similarity.ivfAssign(
        corpus, centroids, "vec_id", "embedding", "cell_id", "cell_vec"))
      val probes = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"),
          col("cell_id"))
      Similarity.ivfSq8TopK(assigned, centroids, probes,
        "vec_id", "embedding", "cell_id", "cell_vec", "probe_id", "__pv",
        k = 3)
    }),

    // L2-metric exact top-k (the euclidean counterpart of q54's cosine):
    // squared distance via the codegen'd SumSqDiff kernel, ascending rank
    "q214_l2_topk" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      Similarity.l2TopK(corpus, probes, "vec_id", "probe_id",
        "embedding", k = 3)
    }),

    // SQ8 scalar-quantized ANN: per-dim min/max codebook (one broadcast
    // row), int8 corpus codes, asymmetric dequantized-dot scoring — the
    // 4x-compressed index path next to brute (q54) / LSH (q54b) / IVF
    // (q54c). Fully oracle-checked: quantization is pure IEEE arithmetic
    // and the dot is the same index-ordered fold as q54's.
    "q204_sq8_ann" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      Similarity.sq8TopK(corpus, probes, "vec_id", "probe_id",
        "embedding", k = 3)
    }),

    // IN-ENGINE trained quality classifier: logistic regression over 64
    // hashed-token buckets + bias, 2 full-batch GD epochs (each = one
    // scan: broadcast-weight margin join + per-bucket gradient agg),
    // labels from a token-count heuristic. The learned-filter verb of a
    // curation pipeline; weights/probabilities round to 8 dp with
    // decimal sums so the oracle replays both epochs exactly.
    "q219_quality_classifier" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Classifier.trainScore(docs, "text", "doc_id",
        label = (size(TextAnalysis.tokens(col("text"))) >= 55).cast("int"),
        buckets = 64, epochs = 2, lr = 0.1)
    }),

    // BPE merge training (4 rounds) on the word-frequency dictionary:
    // per round ONE pair-count shuffle + a limit-1 argmax + a scan-stage
    // literal-replace merge — the tokenizer-vocabulary construction step
    // of the pipeline. Oracle replays all 4 rounds in chained CTEs.
    "q207_bpe_train" -> ((s, dir) => {
      Bpe.train(Tables.documents(s, dir), "text", rounds = 4)
    }),

    // BPE ENCODE: the trained merges applied back to the corpus (train ->
    // encode composition) — per-source BPE token counts. The encoded
    // dictionary is dictionary-sized and broadcast onto the token stream.
    "q210_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dict = Bpe.encodedCounts(docs, "text", rounds = 4)
      val ws = docs.select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
      ws.join(broadcast(dict), "w")
        .groupBy("source")
        .agg(sum("n_sym").as("n_bpe_tokens"), count(lit(1)).as("n_words"))
    }),

    // END-TO-END curation pipeline — the composition proof: quality gate
    // -> exact dedup keep-first -> benchmark decontamination -> stratified
    // sample -> data-card summary, all as ONE declarative plan (each stage
    // is the same library verb the standalone queries check; the oracle
    // replays the whole chain in SQL). At 100 TB this is the actual shape
    // of a curation run: scan-stage filters fuse, the dedup and
    // decontamination shuffles are the only exchanges.
    "q198_curation_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val gated = docs.filter(TextAnalysis.tokenCount(col("text")) >= 30)
      val keepers = Dedup.exact(gated, "doc_id", "text")
        .select(col("keep_id").as("doc_id"), col("n_dups"))
      val kept = gated.join(keepers, "doc_id")
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val corpusSide = kept.filter(col("doc_id") % 10 =!= 0)
      val hits = Dedup.contamination(corpusSide, bench, "doc_id", "text",
        gramLen = 20, stride = 5).select("doc_id")
      val clean = corpusSide.join(hits, Seq("doc_id"), "left_anti")
      Sampling.stratifiedSample(clean, "doc_id", "lang",
        Map("en" -> 5000), defaultBp = 10000)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_dups")).as("sum_dups"))
    }),

    // CCNet-style perplexity filter: fit an add-0.5 bigram LM on the
    // corpus, score each doc by mean negative log2 probability. Fitting
    // is the wordcount shape; scoring is token-key joins.
    "q154_lm_perplexity" -> ((s, dir) => {
      NgramLM.bigramPerplexity(
        Tables.documents(s, dir).repartition(col("doc_id")),
        "doc_id", "text", alpha = 0.5)
    }),

    // tf-idf keyword extraction: top-3 terms per doc
    "q155_tfidf_topk" -> ((s, dir) => {
      Tfidf.topTerms(Tables.documents(s, dir).repartition(col("doc_id")),
        "doc_id", "text", k = 3)
    }),

    // padded packing: greedy doc-boundary-preserving fill, 256-token
    // sequences, 8 independent shards; the oracle replays the greedy
    // recurrence with a recursive CTE (one chain per shard)
    "q151_padded_packing" -> ((s, dir) => {
      Packing.packSequencesPadded(Tables.documents(s, dir), "doc_id",
        TextAnalysis.tokenCount(col("text")), seqLen = 256,
        shardCol = pmod(col("doc_id"), lit(8)))
    }),

    // corpus data-card summary: token/char accounting at every granularity
    // — per (lang, source), per lang, per source, and overall — in ONE
    // pass via CUBE (partial+final agg; each input row expands to its 4
    // grouping sets map-side, no repeated scans). The reference has no
    // grouping-sets analog; this is the Spark-first way to build the
    // "data card" tables every corpus release ships.
    "q161_corpus_cube" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", TextAnalysis.tokenCount(col("text")))
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
    }),

    // exactly-n-per-stratum sample: rank-by-md5 semantics; the engine runs
    // the two-phase prefilter+window (the window only ever sees ~4n rows
    // per stratum), the oracle ranks the full stratum — equal by the
    // prefix-order argument (or the deterministic fallback)
    "q150_exact_sample" -> ((s, dir) => {
      Sampling.exactStratifiedSample(Tables.documents(s, dir),
        "doc_id", "lang", n = 20)
        .select(col("lang"), col("doc_id"), col("rank"))
    }),

    // SemDeDup: unit-normalize, coarse k-means (1 round), then prune any
    // doc with a lower-id cosine>=0.95 neighbour in its cluster. Planted
    // near-dups are exact float doublings (2v normalizes bit-identically
    // to v), so every planted row must be pruned at cosine 1.0.
    "q148_semdedup" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val planted = base.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0d)).as("embedding"))
      Dedup.semDedup(base.unionByName(planted), "vec_id", "embedding",
        k = 4, iters = 1, threshold = 0.95)
        .select(col("vec_id"), col("cluster"),
          round(col("max_cos"), 6).as("max_cos"))
    }),

    // Gopher-rule quality filter: per-rule booleans + the keep verdict,
    // all in the scan stage (rejection-reason histograms come free)
    "q149_quality_filter" -> ((s, dir) => {
      val f = TextAnalysis.qualityFlags(col("text"), lexicons("en"),
        minTokens = 30, maxTokens = 5000,
        minMeanTokLen = 3.8, maxMeanTokLen = 5.1,
        minStopwordRatio = 0.02, maxDupNgramRatio = 0.15)
      Tables.documents(s, dir)
        .withColumn("f", f)
        .select(col("doc_id"), col("f.ok_len"), col("f.ok_tok_len"),
          col("f.ok_stopwords"), col("f.ok_repetition"),
          (col("f.ok_len") && col("f.ok_tok_len") && col("f.ok_stopwords") &&
            col("f.ok_repetition")).as("keep"))
    }),

    // Lloyd's k-means over the embedding column: k=4 deterministic seeds
    // (lowest vec_ids), 2 iterations; broadcast-assign + decimal-exact
    // per-dimension means keep every centroid bit-reproducible, so the
    // oracle replays both iterations in SQL
    "q147_kmeans" -> ((s, dir) => {
      Cluster.kmeans(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 4, iters = 2)
        .select(col("vec_id"), col("cluster"), round(col("d2"), 6).as("d2"))
    }),

    // distributed PCA covariance (the data-touching half of Pca.fit):
    // one scan, the upper-triangle explode feeds the partial hash agg
    // in-stage, decimal-grid sums make the long form oracle-exact; the
    // driver-side Jacobi eigen step is pinned by laws in PcaSpec
    "q239_pca_covariance" -> ((s, dir) =>
      graft.llm.Pca.covariance(Tables.embeddings(s, dir), "embedding", 6)),

    // distribution-drift gate: PSI of the value distribution per
    // event_type, first half of January vs second — the snapshot
    // admission check of a continuously-fed pipeline. One wordcount-
    // shaped aggregate; everything after runs on the (groups x bins)
    // grid.
    "q240_drift_psi" -> ((s, dir) =>
      graft.llm.Drift.psi(Tables.events(s, dir), "event_type", "value",
        "ts", "2024-01-16", bins = 10, lo = 0.0, hi = 500.0)),

    // product-quantization ADC: corpus stored as m=4 sub-space codes
    // against an 8-entry-per-sub-space codebook, probes rank candidates
    // purely by broadcast table lookups (FAISS "PQ4" next to q204's SQ8
    // and q215's IVF+SQ8)
    "q242_pq_adc" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      Similarity.pqTopK(corpus, probes, "vec_id", "probe_id", "embedding",
        dim = 64, m = 4, ksub = 8, k = 3)
    }),

    // Okapi BM25 sparse retrieval: literal 3-term query against the
    // whitespace-tokenized corpus, top-10 docs (the lexical half of a
    // hybrid retrieval stack)
    "q243_bm25" -> ((s, dir) =>
      Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        terms = Seq("spark", "window", "merge"), k = 10)),

    // hybrid retrieval: reciprocal-rank fusion (c=60) of the BM25 top-20
    // lexical ranking with the dense cosine top-20 of probe vec_id=0,
    // joined on doc_id = vec_id — the standard sparse+dense fusion verb
    "q244_hybrid_rrf" -> ((s, dir) => {
      val lex = Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id",
        "text", terms = Seq("spark", "window", "merge"), k = 20)
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") === 0)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      val dense = Similarity.bruteForceTopK(corpus, probes, "vec_id",
        "probe_id", "embedding", k = 20)
        .select(col("vec_id").as("doc_id"), col("rk"))
      Retrieval.rrfFuse(lex, dense, "doc_id", "rk", k = 10)
    }),

    // C4/RefinedWeb-style segment-level dedup: 16-token non-overlapping
    // segments, each distinct segment keeps its globally-first occurrence,
    // documents reassemble from the survivors (78 duplicate occurrences
    // cut at sf0.01 — the path is live, not a no-op)
    "q245_segment_dedup" -> ((s, dir) =>
      graft.llm.Dedup.segmentDedup(Tables.documents(s, dir), "doc_id",
        "text", segTokens = 16)),

    // IVF+PQ residual codes (FAISS "IVF8,PQ4" — q54c's coarse cells +
    // q242's PQ codec on residuals): probes score their own cell's
    // candidates by centroid-dot + broadcast ADC table lookups; the
    // query path touches per candidate only its 4 small ints
    "q246_ivf_pq" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val centroids = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
      val assigned = graft.util.QueryCache.persist(Similarity.ivfAssign(
        corpus, centroids, "vec_id", "embedding", "cell_id", "cell_vec"))
      val probes = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("__qv"),
          col("cell_id"))
      Similarity.ivfPqTopK(assigned, centroids, probes,
        "vec_id", "embedding", "cell_id", "cell_vec", "probe_id", "__qv",
        dim = 64, m = 4, ksub = 8, k = 3)
    }),

    // MMR diversified rerank (Carbonell & Goldstein 1998): top-8 cosine
    // candidates per probe (self excluded), then the greedy
    // λ·rel − (1−λ)·max-sim-to-selected selection at λ=0.5, k=4 — the
    // redundancy-suppressing stage behind a retrieval stack
    "q248_mmr_rerank" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      val cands = Similarity.bruteForceTopK(corpus, probes, "vec_id",
        "probe_id", "embedding", k = 9)
        // exclude the probe by ID, not by rank position — an exact
        // duplicate with a lower id would steal rk 1 and leave the probe
        // itself in a rank-based candidate set
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("cosine"))
      val withVec = corpus.join(broadcast(cands), "vec_id")
      Retrieval.mmrRerank(withVec, "probe_id", "vec_id", "cosine",
        "embedding", lambda = 0.5, k = 4)
    }),

    // token-budget mixing: the 50k-token recipe at shares
    // src0/src1/src3 = 50/30/20% (src2 drops) — per-source epoch factors
    // derived from TOKEN totals, not doc counts (the LLaMA/DoReMi
    // mixture contract); audited per (source, replica)
    "q249_token_budget_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.mixToTokenBudget(docs, "doc_id", "source",
        TextAnalysis.tokenCount(col("text")),
        Map("src0" -> 5000, "src1" -> 3000, "src3" -> 2000),
        budgetTokens = 50000L)
        .groupBy("source", "copy")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("sum_toks"))
    }),

    // CCNet-style perplexity buckets: exact tertile thresholds of the
    // bigram-LM avg NLL (one broadcast H&F-7 quantile agg — no global
    // sort/ntile), head/middle/tail assigned on the scan, then the
    // classic keep-100%/50%/10% deterministic downsample per bucket
    "q255_ccnet_buckets" -> ((s, dir) => {
      // width-pin the cached perplexity frame (REPARTITION_BY_NUM, the
      // q339 pattern): under cached-plan AQE coalescing the per-doc NLL
      // frame is kilobytes, so the whole LM-scoring chain materialized
      // on 1 task (profiled 3×~0.5 s single-task jobs, round 18)
      val pp = graft.util.QueryCache.persist(NgramLM.bigramPerplexity(
        Tables.documents(s, dir).repartition(col("doc_id")),
        "doc_id", "text", alpha = 0.5)
        .repartition(graft.util.Parallelize.computeWidth(s), col("doc_id")))
      val th = pp.agg(
        percentile(col("avg_nll"), lit(1.0 / 3.0)).as("t1"),
        percentile(col("avg_nll"), lit(2.0 / 3.0)).as("t2"))
      val bucketed = pp.crossJoin(broadcast(th))
        .withColumn("bucket",
          when(col("avg_nll") <= col("t1"), "head")
            .when(col("avg_nll") <= col("t2"), "middle")
            .otherwise("tail"))
      Sampling.stratifiedSample(bucketed, "doc_id", "bucket",
        Map("head" -> 10000, "middle" -> 5000, "tail" -> 1000))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
    }),

    // hard-negative mining (contrastive training): per anchor the top-3
    // most-similar candidates BELOW the dup ceiling 0.95 — self (cos 1)
    // and near-duplicates excluded, survivors rank by similarity
    "q254_hard_negatives" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      Similarity.hardNegatives(corpus, probes, "vec_id", "probe_id",
        "embedding", k = 3, dupCeil = 0.95)
    }),

    // score-based hybrid fusion: min-max-normalized convex combination
    // (alpha=0.5) of the BM25 top-20 scores with the dense cosine top-20
    // of probe vec_id=0 — the score-fusion counterpart of q244's RRF
    "q253_hybrid_convex" -> ((s, dir) => {
      val lex = Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id",
        "text", terms = Seq("spark", "window", "merge"), k = 20)
        .select(col("doc_id"), col("score"))
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") === 0)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      val dense = Similarity.bruteForceTopK(corpus, probes, "vec_id",
        "probe_id", "embedding", k = 20)
        .select(col("vec_id").as("doc_id"), col("cosine").as("score"))
      Retrieval.convexFuse(lex, dense, "doc_id", "score",
        alpha = 0.5, k = 10)
    }),

    // incremental ingestion dedup: src2/src3 arrive as the NEW batch
    // against the already-curated src0/src1 corpus — kept iff absent from
    // the existing key index AND first within the batch
    "q252_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalDedup(
        docs.filter(col("source").isin("src0", "src1")),
        docs.filter(col("source").isin("src2", "src3")),
        "doc_id", "text")
    }),

    // unigram Shannon entropy per doc (bits) — the low-entropy-gibberish
    // quality signal; wordcount topology, decimal-summed libm terms
    "q259_word_entropy" -> ((s, dir) =>
      TextAnalysis.wordEntropy(
        Tables.documents(s, dir).repartition(col("doc_id")),
        "doc_id", "text")),

    // length-bucketed batching accounting: power-of-two padding buckets,
    // batch=32 — where does padding waste concentrate
    "q260_length_buckets" -> ((s, dir) =>
      Packing.lengthBuckets(Tables.documents(s, dir), "doc_id",
        TextAnalysis.tokenCount(col("text")), batch = 32)),

    // pairwise per-source vocabulary Jaccard — the data-card "do my
    // sources share a vocabulary" diagnostic; the join runs on the
    // vocabulary, not the corpus
    "q261_vocab_overlap" -> ((s, dir) =>
      TextAnalysis.vocabOverlap(Tables.documents(s, dir), "source", "text")),

    // Dirichlet-smoothed query likelihood (Zhai & Lafferty): the
    // language-model scorer over the same 3-term query as q243's BM25 —
    // absent terms contribute their smoothing mass, docs with no match
    // are pruned (inverted-index contract)
    "q263_query_likelihood" -> ((s, dir) =>
      Retrieval.queryLikelihoodTopK(Tables.documents(s, dir), "doc_id",
        "text", terms = Seq("spark", "window", "merge"), k = 10,
        mu = 300.0)),

    // NDCG@10 ranking eval: BM25's top-10 judged against the embedding
    // table's integer labels as graded relevance (doc_id = vec_id) —
    // the retrieval stack's quality metric as a query
    "q264_ndcg" -> ((s, dir) => {
      val ranked = Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id",
        "text", terms = Seq("spark", "window", "merge"), k = 10)
      val rels = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("label"))
      Retrieval.ndcgAtK(ranked, rels, "doc_id", "rk", "label", k = 10)
    }),

    // fixed-iteration PageRank over the part co-purchase graph (parts
    // sharing an order, directed both ways, parallel edges = weight) —
    // the link-analysis authority signal of web-curation stacks; 3
    // damped iterations in 1e12 fixed-point integer arithmetic (floor
    // shares, 17/20 damping), replayed exactly in SQL
    "q273_pagerank" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      val nodes = Tables.part(s, dir).select(col("p_partkey").as("part"))
      LinkAnalysis.pagerank(nodes, edges, "part", "src", "dst", iters = 3)
    }),

    // MRR of the LSH index against brute-force truth: per probe the
    // true nearest NON-SELF neighbor's reciprocal rank in the LSH
    // candidate list (0 when the bucket misses it) — the ANN eval
    // completing recall@10 (q269) and NDCG (q264); exact ppm integers
    "q330_mrr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") < 50)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      val truth = Similarity.bruteForceTopK(corpus, probes, "vec_id",
          "probe_id", "embedding", k = 2)
        .filter(col("vec_id") =!= col("probe_id"))
        .groupBy(col("probe_id"))
        .agg(min_by(col("vec_id"), col("rk")).as("true_id"))
      val cands = Similarity.lshTopK(corpus, probes, "vec_id",
          "probe_id", "embedding", rhpSignsM, k = 11)
        .filter(col("vec_id") =!= col("probe_id"))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("rk"))
      // cut at rank 10 AFTER the self-removal re-rank — k=11 candidates
      // exist precisely so removing self leaves 10; without the cut a
      // probe whose self misses its own LSH top-11 would score an
      // arank=11 hit on the Spark side only (oracle cuts at 10)
      val reranked = cands.withColumn("arank",
        row_number().over(w).cast("long"))
        .filter(col("arank") <= 10)
      truth.join(reranked.select(col("probe_id"),
            col("vec_id").as("true_id"), col("arank")),
          Seq("probe_id", "true_id"), "left")
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("arank").isNotNull, 1L).otherwise(0L))
            .as("n_found"),
          sum(coalesce(expr("1000000 div arank"), lit(0L))).as("__rr"))
        .select(col("n_probes"), col("n_found"),
          expr("__rr div n_probes").as("mrr_ppm"))
    }),

    // MAP@10 of the LSH index against the brute-force top-3 relevant
    // set — the 4th ANN-eval metric (recall@10 q269, NDCG q264, MRR
    // q330): AP = Σ precision@hit-rank div |relevant|, missing
    // relevants contribute 0; all exact ppm integers
    "q351_map_at_k" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val corpus = Tables.embeddings(s, dir)
      val probes = corpus.filter(col("vec_id") < 50)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      val truth = Similarity.bruteForceTopK(corpus, probes, "vec_id",
          "probe_id", "embedding", k = 4)
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("trk", row_number().over(Window
          .partitionBy(col("probe_id")).orderBy(col("rk"))).cast("long"))
        .filter(col("trk") <= 3)
        .select(col("probe_id"), col("vec_id").as("rel_id"))
      val cands = Similarity.lshTopK(corpus, probes, "vec_id",
          "probe_id", "embedding", rhpSignsM, k = 11)
        .filter(col("vec_id") =!= col("probe_id"))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("rk"))
      val reranked = cands
        .withColumn("arank", row_number().over(w).cast("long"))
        .filter(col("arank") <= 10)
      val hits = truth.join(reranked.select(col("probe_id"),
          col("vec_id").as("rel_id"), col("arank")),
        Seq("probe_id", "rel_id"))
      val wh = Window.partitionBy(col("probe_id")).orderBy(col("arank"))
      val ap = hits
        .withColumn("hrk", row_number().over(wh).cast("long"))
        .groupBy(col("probe_id"))
        .agg(expr("sum(hrk * 1000000 div arank) div 3").as("ap_ppm"))
      probes.select(col("probe_id")).join(ap, Seq("probe_id"), "left")
        .agg(count(lit(1)).as("n_probes"),
          sum(coalesce(col("ap_ppm"), lit(0L))).as("__sap"))
        .select(col("n_probes"),
          expr("__sap div n_probes").as("map_ppm"))
    }),

    // calibration report for the GD classifier: decile buckets of the
    // 6-dp probability, per-bucket accuracy vs mean confidence (exact:
    // probs summed in DECIMAL, rates on the ppm grid, squared errors on
    // the e12 grid), and ECE = Σ n_b·|acc−conf| div N as a constant
    // column — the eval that says WHETHER the probabilities are usable,
    // next to q281's P/R/F1 that says whether the verdicts are
    "q342_calibration_ece" -> ((s, dir) => {
      val scored = Classifier.trainScore(Tables.documents(s, dir), "text",
        "doc_id",
        label = (size(TextAnalysis.tokens(col("text"))) >= 55).cast("int"),
        buckets = 64, epochs = 2, lr = 0.1)
      Calibration.eceReport(scored, buckets = 10)
    }),

    // isotonic calibration fit (PAVA by its minimax characterization
    // fit_b = max_{j<=b} min_{k>=b} rate(j..k), rates on the exact ppm
    // grid): the monotone regression that turns q342's raw reliability
    // curve into a usable calibrator; all joins run on the decile-
    // bounded bucket AGGREGATE, never data
    "q343_isotonic_fit" -> ((s, dir) => {
      val scored = Classifier.trainScore(Tables.documents(s, dir), "text",
        "doc_id",
        label = (size(TextAnalysis.tokens(col("text"))) >= 55).cast("int"),
        buckets = 64, epochs = 2, lr = 0.1)
      Calibration.isotonicFit(scored
        .groupBy(least(floor(col("prob") * 10), lit(9L)).cast("long")
          .as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("k")))
    }),

    // decision stump (one-level CART): best single Gini split over
    // integer-grid features — per-distinct-value aggregates, prefix
    // thresholds, exact DECIMAL/ppb criterion, 1-row TakeOrdered winner
    "q341_decision_stump" -> ((s, dir) =>
      Trees.trainStump(Tables.lineitem(s, dir),
        col("l_returnflag") === "R", Seq(
          ("quantity", col("l_quantity")),
          ("discount_pct", round(col("l_discount") * 100, 0))))),

    // RAKE keyword extraction: stopword-free token runs as candidate
    // phrases (gaps-and-islands, one doc-partitioned window), word
    // scores deg*1e6 div freq on the exact ppm grid, phrase = sum of
    // member word scores, top-20 TakeOrdered
    "q338_rake_keywords" -> ((s, dir) =>
      CorpusStats.rakeKeywords(Tables.documents(s, dir), "doc_id",
        "text", stopwords = Seq("a", "the"), maxLen = 3, topK = 20)),

    // containment near-dup (Broder's asymmetric C(A->B) = |A∩B|/|A|):
    // catches near-subset duplication Jaccard misses; candidates
    // blocked on rare shingles (df in [2,10] — the q52 stop-gram
    // bound), verification exact on the ppm grid via the precomputed
    // distinct shingle arrays
    "q339_containment_dedup" -> ((s, dir) =>
      Dedup.containmentDedup(Tables.documents(s, dir), "doc_id", "text",
        k = 3, maxDf = 10, minContainPpm = 500000)),

    // winnowing fingerprints (MOSS) on a 1-in-10 doc sample: k=8-char
    // gram hashes (28-bit md5 prefix — the portable convention), w=5
    // window minima with the (hash, leftmost-pos) packed-BIGINT tie
    // rule, per-doc dedupe; shared_fps counts hashes selected by >= 2
    // docs. The sparse fingerprint sibling of q136's stride grid.
    "q327_winnow" -> ((s, dir) =>
      TextAnalysis.winnow(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 8, w = 5)),

    // collocation mining: top-20 adjacent-token bigrams by exact-ppm
    // LIFT (the integer monotone of PMI), min pair count 20 — hapax
    // pathology floored out as collocation extractors do
    "q328_collocations" -> ((s, dir) =>
      CorpusStats.collocations(Tables.documents(s, dir), "text",
        minCount = 20L, topK = 20)),

    // triangle counting + local clustering coefficient on the part
    // co-purchase graph (1-in-4 order sample) — degree-ordered edge
    // orientation, so each triangle closes as ONE equi-join and wedge
    // fan-out is bounded by the oriented out-degree (~sqrt|E|), the
    // scheme that survives power-law hubs at 100 TB; all-integer cc_ppm
    "q325_triangles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      LinkAnalysis.triangles(edges, "src", "dst")
    }),

    // blocked fuzzy record linkage on a 1-in-8 part sample: per part the
    // count of near-miss names (0 < levenshtein <= 4) within its
    // widget-type block and the nearest one — both engines share the
    // exact integer edit distance. (The synthetic names draw from a tiny
    // vocabulary, so blocks are fat; the sample keeps the inherently
    // quadratic-per-block candidate set bench-sized.)
    "q283_fuzzy_match" -> ((s, dir) =>
      Dedup.fuzzyNeighbors(
        Tables.part(s, dir).filter(col("p_partkey") % 8 === 0),
        "p_partkey", "p_name",
        block = element_at(split(col("p_name"), " "), 2), maxDist = 4)),

    // Cohen's kappa between the annotated lang column and the q55 langid
    // prediction — inter-annotator agreement as a pure integer ratio
    "q280_cohens_kappa" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Agreement.cohensKappa(docs, col("lang"),
        TextAnalysis.langId(col("text"), lexicons))
    }),

    // Fleiss' kappa across THREE length raters on a shared 4-category
    // scale (token count / char count / non-space char count with
    // aligned thresholds) — the fixed-rater-count agreement statistic
    // next to Cohen (q280, 2 raters) and Krippendorff (q321 family);
    // all-integer denominator-cleared form, exact ppm
    "q357_fleiss_kappa" -> ((s, dir) => {
      def bucket(c: Column, t1: Int, t2: Int, t3: Int): Column =
        when(c < t1, 0).when(c < t2, 1).when(c < t3, 2).otherwise(3)
      val docs = Tables.documents(s, dir)
      Agreement.fleissKappa(docs, col("doc_id"), Seq(
        bucket(TextAnalysis.tokenCount(col("text")), 40, 55, 70),
        bucket(col("n_chars"), 220, 300, 380),
        bucket(length(regexp_replace(col("text"), " ", "")),
          180, 250, 320)))
    }),

    // Neyman-optimal labeling-budget allocation: split 10k annotation
    // slots across market segments proportional to N_h * sigma_h of
    // order value — the variance-minimizing stratified design in front
    // of the exact stratified sampler (q150); one moments scan, exact
    // largest-remainder integers (allocations sum to the budget)
    "q369_neyman_allocation" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select(col("c_custkey"),
          col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
      Sampling.neymanAllocation(o, "c_mktsegment",
        round(col("o_totalprice") * 100, 0).cast("long"), budget = 10000L)
    }),

    // Jensen-Shannon divergence between the src0 and src1 token
    // distributions — PSI's bounded symmetric sibling (q240), the
    // corpus-drift score that tolerates one-sided vocabulary; wordcount
    // shape + 12-dp decimal-summed terms
    "q363_jsd_sources" -> ((s, dir) =>
      graft.llm.Drift.jsDivergence(
        Tables.documents(s, dir)
          .filter(col("source").isin("src0", "src1"))
          .select((col("source") === "src0").as("a"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("w")),
        col("a"), col("w"))),

    // simplified (centroid-based) silhouette of the q147 k-means
    // clustering: per cluster the mean of (b - a)/max(a, b) with a/b
    // the own/nearest-other centroid distances — the clustering-quality
    // eval at ONE broadcast-assign pass (full silhouette's all-pairs a
    // is quadratic and adds nothing at corpus scale)
    "q364_silhouette" -> ((s, dir) =>
      Cluster.simplifiedSilhouette(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 4, iters = 2)),

    // ROC AUC of the GD classifier's probabilities against its training
    // labels (Mann-Whitney rank-sum identity with exact midranks on the
    // 6-dp probability grid) — the threshold-free ranking eval next to
    // q281's P/R/F1 and q342's calibration. At gate scale the 2-epoch
    // model is genuinely ANTI-calibrated (q342 shows low-prob buckets
    // with high accuracy), so the honest AUC is near 0 — the metric
    // exposing exactly the failure it exists to expose
    "q361_roc_auc" -> ((s, dir) => {
      val scored = Classifier.trainScore(Tables.documents(s, dir), "text",
        "doc_id",
        label = (size(TextAnalysis.tokens(col("text"))) >= 55).cast("int"),
        buckets = 64, epochs = 2, lr = 0.1)
      Agreement.rocAuc(scored, col("y"), col("prob"),
        v => floor(v * 64))
    }),

    // MinHash-LSH index quality eval: candidate recall + precision vs
    // the exact 3-gram-Jaccard >= 1/2 truth over the corpus + planted
    // tail-truncated near-dups — the dedup-index eval completing the
    // ANN quartet; the md5-portable signature pipeline means the
    // CANDIDATE SET itself is oracle-gated, not just verified output
    "q358_lsh_index_eval" -> ((s, dir) =>
      Dedup.lshIndexEval(Tables.documents(s, dir), "doc_id", "text")),

    // corpus concentration: Gini + top-decile share of tokens across
    // documents — the "is the corpus dominated by few documents"
    // health check in front of dedup/length-cap decisions; exact
    // integer Lorenz arithmetic over the bounded per-value frame
    // (never a global window over rows — Positions.bucketOffsets)
    "q360_token_gini" -> ((s, dir) =>
      CorpusStats.weightConcentration(Tables.documents(s, dir),
        TextAnalysis.tokenCount(col("text")))),

    // tokenizer fertility by language (sub-word tokens per whitespace
    // word): the multilingual context-budgeting metric — an explicit
    // ASCII punct class both engines' regexes read identically, one
    // scan, exact ppm floor-div per language
    "q378_tokenizer_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir),
        "lang", "text")),

    // interpolated Kneser-Ney bigram perplexity — the standard n-gram
    // smoothing next to q154's add-alpha baseline; five integer count
    // tables, one fixed IEEE probability expression per bigram at 8 dp
    "q379_kneser_ney" -> ((s, dir) =>
      NgramLM.kneserNeyPerplexity(
        Tables.documents(s, dir).repartition(col("doc_id")),
        "doc_id", "text")),

    // Heaps' law vocabulary-growth fit V ~ k N^beta over 20 doc-id
    // range slices — the q319 Zipf companion; windows only on the
    // 20-row checkpoint frame
    "q380_heaps_law" -> ((s, dir) =>
      CorpusStats.heapsFit(Tables.documents(s, dir), "doc_id", "text",
        nSlices = 20)),

    // temperature-scaled source mixing (p_i ~ c_i^0.7, the mT5/XLM-R
    // recipe): declared ln/exp grid to an e4 integer weight, then the
    // exact largest-remainder split of a 1M-token budget
    "q381_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureMix(Tables.documents(s, dir), "source",
        TextAnalysis.tokenCount(col("text")), budget = 1000000L,
        tau = 0.7)),

    // McNemar's paired test: the q55 lexicon langid vs a one-lexicon
    // baseline ('en' stopwords only) against the labeled lang column —
    // the classifier-comparison verb completing the eval battery
    // (discordant counts only; same items, so no variance pooling)
    "q387_mcnemar" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val predA = TextAnalysis.langId(col("text"), lexicons)
      val predB = when(size(expr(
        """regexp_extract_all(lower(text), '\\b(the|a|of|and|to)\\b')"""))
        > 0, lit("en")).otherwise(lit("zz"))
      graft.numerics.Stats.mcnemar(d,
        predA === col("lang"), predB === col("lang"))
    }),

    // image near-dup via perceptual dHash: REAL PNG encode -> ImageIO
    // decode -> integer gray pool -> 4x16-bit bands; candidates from a
    // banded equi-join (bucket-capped), verified by Hamming <= 6. The
    // fixture is a closed-form pixel function with planted ten-doc
    // near-dup families, so the oracle derives the SAME hashes without
    // any image codec — the multimodal counterpart of q51's LSH
    "q382_image_phash_dedup" -> ((s, dir) => {
      val pngs = Multimodal.syntheticPngs(
        Tables.documents(s, dir).select("doc_id"), "doc_id")
      Multimodal.phashNearDupPairs(
        Multimodal.dHashBands(pngs, "doc_id", "png"),
        "doc_id", maxHamming = 6)
    }),

    // per-class precision/recall/F1 of the q219 quality classifier
    // against its training labels — the confusion-matrix eval verb
    "q281_classifier_eval" -> ((s, dir) => {
      val scored = Classifier.trainScore(Tables.documents(s, dir), "text",
        "doc_id",
        label = (size(TextAnalysis.tokens(col("text"))) >= 55).cast("int"),
        buckets = 64, epochs = 2, lr = 0.1)
      Agreement.classReport(scored, col("y"), col("pred"))
    }),

    // market-basket affinity: per part the top-3 co-ordered parts by
    // exact-ppb lift (co·N / (n_a·n_b)) — presence-based, integer-exact
    "q275_also_bought" -> ((s, dir) =>
      LinkAnalysis.alsoTook(
        Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 10 === 0)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
        "ok", "pk", k = 3)),

    // ANN recall@10 eval: the IVF (8 cells, nprobe=1) top-10 judged
    // against the brute-force cosine top-10 per probe — the index-quality
    // metric of the ANN family as a query (next to q264's NDCG)
    "q269_ann_recall" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val probesB = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      val truth = Similarity.bruteForceTopK(corpus, probesB, "vec_id",
        "probe_id", "embedding", k = 10)
        .select(col("probe_id"), col("vec_id"))
      val centroids = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
      val assigned = graft.util.QueryCache.persist(Similarity.ivfAssign(
        corpus, centroids, "vec_id", "embedding", "cell_id", "cell_vec"))
      val probesI = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"),
          col("cell_id"))
      val approx = Similarity.ivfCandidateTopK(assigned, probesI, "vec_id",
        "embedding", "probe_id", "cell_id", k = 10)
        .select(col("probe_id"), col("vec_id"), lit(1).as("__hit"))
      truth.join(approx, Seq("probe_id", "vec_id"), "left")
        .groupBy(col("probe_id"))
        .agg(sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
        .select(col("probe_id"), col("n_hits"),
          expr("n_hits * 1000000 div 10").as("recall_ppm"))
    }),

    // Efraimidis–Spirakis weighted sample: 50 docs drawn without
    // replacement with inclusion odds ∝ n_chars, from deterministic
    // md5 uniforms — the length-weighted curation draw as a query
    "q267_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(Tables.documents(s, dir), "doc_id",
        col("n_chars"), n = 50)
        .select(col("doc_id"), col("n_chars"), col("es_key"),
          col("draw_rank"))),

    // per-source bigram diversity (distinct/total word 2-grams, exact
    // ppm) — the self-repetition data-card metric
    "q265_ngram_diversity" -> ((s, dir) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, dir), "source",
        "text", n = 2)),

    // Gopher top-2-gram character mass per doc: modal bigram (count
    // desc, gram asc) and the exact-ppm share of doc chars it covers
    "q266_top_ngram_mass" -> ((s, dir) =>
      TextAnalysis.topNgramMass(
        Tables.documents(s, dir).repartition(col("doc_id")),
        "doc_id", "text", n = 2)),

    // cluster-balanced downsample: one k-means pass (k=4, 1 Lloyd
    // iteration) assigns topics, then every cluster is capped at the
    // smallest cluster's size keeping centroid-closest rows — the
    // topic-rebalance curation step; oracle replays the full pipeline
    "q262_cluster_balance" -> ((s, dir) => {
      val assigned = Cluster.kmeans(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 4, iters = 1)
      Cluster.balancedDownsample(assigned, "vec_id")
    }),

    // HITS hubs/authorities on the user->event_type bipartite graph —
    // the link-analysis verb previously skipped for its L2-normalization
    // divergence, now on the integer fixed-point grid: max-normalization
    // via the truncating integral div all three engines share (the q273
    // PageRank lesson applied). Two equi-join aggregates + a 1-row
    // broadcast max per iteration.
    "q294_hits" -> ((s, dir) =>
      LinkAnalysis.hits(Tables.events(s, dir), "user_id", "event_type",
        iters = 2)),

    // content-defined chunking dedup (FastCDC/LBFS lineage): rolling-hash
    // cut points follow the content, so shared passages land in identical
    // chunks regardless of surrounding edits — per source, the chunk-level
    // duplication ratio in exact ppm. One scan; the codegen CdcChunks
    // kernel emits bounded per-row spans, the only shuffle is the
    // per-source distinct-count aggregate.
    "q286_cdc_chunking" -> ((s, dir) => {
      val chunks = Tables.documents(s, dir)
        .select(col("source"), col("text"),
          posexplode(graft.exprs.CdcExprs.cdcChunks(col("text")))
            .as(Seq("ci", "c")))
        .select(col("source"),
          md5(col("text").substr(col("c.start") + 1, col("c.len"))).as("h"),
          col("c.len").cast("long").as("clen"))
      chunks.groupBy("source").agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("h")).as("n_distinct"),
        sum(col("clen")).as("total_len"),
        expr("(count(1) - count(DISTINCT h)) * 1000000 div count(1)")
          .as("dup_ppm"))
    }),

    // readability battery: Flesch reading ease on the exact-integer
    // micro grid (206.835 − 1.015·w/s − 84.6·sy/w, each ratio as a
    // truncating integral div shared by Spark div and DuckDB //);
    // syllables = non-overlapping [aeiouy]+ runs per word, min 1 — the
    // quality-scoring curation verb next to q56/q149
    "q287_readability" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val words = docs.select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      val perDoc = words
        .select(col("doc_id"),
          greatest(regexp_count(col("w"), lit("[aeiouy]+")), lit(1)).as("sy"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_words"),
          sum(col("sy")).cast("long").as("n_syllables"))
      docs.select(col("doc_id"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("long").as("n_sentences"))
        .join(perDoc, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          expr("""206835000 - (1015000 * n_words) div n_sentences
                  - (84600000 * n_syllables) div n_words""")
            .as("flesch_micro"))
    }),

    // count-min sketch: the fixed-memory heavy-hitter estimator (d=4
    // Carter-Wegman rows x w=512 cells mod 2^31-1 over the portable
    // md5-prefix token key). One scan builds the d*w-bounded sketch;
    // the top-15 exact tokens are then point-estimated — CMS guarantees
    // est >= n, and the oracle replays the identical hash arithmetic,
    // so every estimated cell count is bit-exact.
    "q297_countmin_sketch" -> ((s, dir) => {
      val toks = Tables.documents(s, dir).repartition(col("doc_id"))
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      val top = exact.orderBy(col("n").desc, col("tok")).limit(15)
      val sk = Sketch.countMin(toks, "tok", w = 512)
      top.join(Sketch.estimate(sk, top.select("tok"), "tok", w = 512), "tok")
        .select(col("tok"), col("n"), col("est"),
          (col("est") - col("n")).as("over_cnt"))
    }),

    // bottom-k deterministic sample: k smallest md5(doc_id) per source —
    // a uniform without-replacement draw that is a pure function of the
    // ids and mergeable across corpus drops (KMV property). Partitioned
    // window, no global sort.
    "q298_bottomk_sample" -> ((s, dir) =>
      Sampling.bottomK(Tables.documents(s, dir), "doc_id", "source", k = 5)
        .select(col("source"), col("rk"), col("doc_id"))),

    // cross-source overlap matrix: exact Jaccard (integer ppm) over the
    // distinct 3-shingle sets of every source pair — the composition
    // diagnostic run before mixing weights. Shingles travel as 64-bit
    // hashes (q51/q52 w.h.p.-exact convention); the pair join fans out
    // by SOURCES per gram, not documents.
    "q299_source_overlap" -> ((s, dir) =>
      CorpusStats.sourceOverlap(
        Tables.documents(s, dir).repartition(col("doc_id")),
        "source", "text", k = 3)),

    // top-K vocabulary with dense ids + the OOV mass row — the token ->
    // id table in front of any text model. TakeOrdered cut, then ids
    // over the ALREADY-LIMITED K-row frame.
    "q304_vocab_encode" -> ((s, dir) =>
      Vocab.buildVocab(
        Tables.documents(s, dir).repartition(col("doc_id"))
          .select(explode(TextAnalysis.tokens(lower(col("text"))))
            .as("tok")),
        "tok", topK = 20)),

    // hashing trick (HashingVectorizer): token -> md5-key % 64 bucket,
    // parity sign from hash bit 20, summed per (doc, bucket). Fixed
    // dimensionality, no vocabulary state; every row bit-exact.
    "q305_feature_hashing" -> ((s, dir) =>
      Vocab.featureHash(
        Tables.documents(s, dir).repartition(col("doc_id")),
        "doc_id", "text", dim = 64))
  )

  /** q55's full langid replay — shared verbatim by q280's kappa oracle
    * so the two can never drift apart. */
  private val q55Sql =
    """SELECT doc_id, lang AS lang_pred FROM (
           SELECT doc_id, lang, row_number() OVER (
             PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rk
           FROM (
             SELECT doc_id, 'en' AS lang,
               len(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b')) AS score FROM documents
             UNION ALL SELECT doc_id, 'de',
               len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) FROM documents
             UNION ALL SELECT doc_id, 'es',
               len(regexp_extract_all(lower(text), '\b(el|la|que|los|una)\b')) FROM documents
             UNION ALL SELECT doc_id, 'fr',
               len(regexp_extract_all(lower(text), '\b(le|les|et|des|un)\b')) FROM documents
             UNION ALL SELECT doc_id, 'zh',
               len(regexp_extract_all(lower(text), '\b(zhong|wen|shi|bu|ren)\b')) FROM documents))
         WHERE rk = 1"""

  /** q219's full 2-epoch GD replay — shared by q281's
    * per-class eval oracle. */
  /** q147's 2-Lloyd-iteration replay through the final distance
    * frame d3 — shared by the q147 assignment oracle and q364's
    * silhouette oracle (CTE-body fragment: c0..d3). */
  private val kmeansD3Sql =
    """c0 AS (SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
           FROM embeddings WHERE vec_id < 4),
         d1 AS (SELECT v.vec_id, c0.cid,
             list_reduce(list_transform(generate_series(1, 64),
               i -> (CAST(v.embedding[i] AS DOUBLE) - c0.c[i]) *
                    (CAST(v.embedding[i] AS DOUBLE) - c0.c[i])),
               (x, y) -> x + y) AS d
           FROM embeddings v CROSS JOIN c0),
         a1 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
             FROM d1) WHERE rk = 1),
         s1 AS (SELECT a1.cid, t.i AS pos,
             sum(CAST(CAST(v.embedding[t.i] AS DOUBLE) AS DECIMAL(30,12))) AS s,
             count(*) AS n
           FROM a1 JOIN embeddings v USING (vec_id)
           CROSS JOIN generate_series(1, 64) t(i)
           GROUP BY 1, 2),
         c1 AS (SELECT c0.cid, coalesce(m.c, c0.c) AS c
           FROM c0 LEFT JOIN (SELECT cid,
               list(CAST(s AS DOUBLE) / n ORDER BY pos) AS c
             FROM s1 GROUP BY cid) m USING (cid)),
         d2 AS (SELECT v.vec_id, c1.cid,
             list_reduce(list_transform(generate_series(1, 64),
               i -> (CAST(v.embedding[i] AS DOUBLE) - c1.c[i]) *
                    (CAST(v.embedding[i] AS DOUBLE) - c1.c[i])),
               (x, y) -> x + y) AS d
           FROM embeddings v CROSS JOIN c1),
         a2 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
             FROM d2) WHERE rk = 1),
         s2 AS (SELECT a2.cid, t.i AS pos,
             sum(CAST(CAST(v.embedding[t.i] AS DOUBLE) AS DECIMAL(30,12))) AS s,
             count(*) AS n
           FROM a2 JOIN embeddings v USING (vec_id)
           CROSS JOIN generate_series(1, 64) t(i)
           GROUP BY 1, 2),
         c2 AS (SELECT c1.cid, coalesce(m.c, c1.c) AS c
           FROM c1 LEFT JOIN (SELECT cid,
               list(CAST(s AS DOUBLE) / n ORDER BY pos) AS c
             FROM s2 GROUP BY cid) m USING (cid)),
         d3 AS (SELECT v.vec_id, c2.cid,
             list_reduce(list_transform(generate_series(1, 64),
               i -> (CAST(v.embedding[i] AS DOUBLE) - c2.c[i]) *
                    (CAST(v.embedding[i] AS DOUBLE) - c2.c[i])),
               (x, y) -> x + y) AS d
           FROM embeddings v CROSS JOIN c2)"""

  private val q219Sql =
    """WITH x0 AS (
           SELECT doc_id,
             list_reduce(list_transform(
                 string_split(substr(md5(w), 1, 4), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 64 AS b
           FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             FROM documents)),
         x AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS x
             FROM x0 GROUP BY 1, 2
           UNION ALL
           SELECT doc_id, 64, 1 FROM documents),
         y AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) >= 55
                  AS BIGINT) AS y
           FROM documents),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         e1 AS (SELECT doc_id,
             CAST(0.5 AS DECIMAL(28,12)) - CAST(y AS DECIMAL(28,12)) AS e
           FROM y),
         g1 AS (SELECT b, sum(CAST(e * x AS DECIMAL(38,8))) AS g
           FROM x JOIN e1 USING (doc_id) GROUP BY 1),
         w1 AS (SELECT gb.b,
             CAST(0 AS DECIMAL(28,12)) - coalesce(
               CAST(round(CAST(g.g AS DOUBLE) * 0.1 / n.n, 12)
                    AS DECIMAL(28,12)),
               CAST(0 AS DECIMAL(28,12))) AS w
           FROM (SELECT unnest(generate_series(0, 64)) AS b) gb
           LEFT JOIN g1 g ON g.b = gb.b CROSS JOIN n),
         m2 AS (SELECT doc_id, sum(CAST(w.w * x.x AS DECIMAL(38,12))) AS m
           FROM x JOIN w1 w USING (b) GROUP BY 1),
         e2 AS (SELECT m2.doc_id,
             CAST(round(1.0 / (1.0 + exp(-CAST(m AS DOUBLE))), 8)
                  AS DECIMAL(28,12))
               - CAST(y.y AS DECIMAL(28,12)) AS e
           FROM m2 JOIN y USING (doc_id)),
         g2 AS (SELECT b, sum(CAST(e * x AS DECIMAL(38,8))) AS g
           FROM x JOIN e2 USING (doc_id) GROUP BY 1),
         w2 AS (SELECT w1.b,
             w1.w - coalesce(
               CAST(round(CAST(g2.g AS DOUBLE) * 0.1 / n.n, 12)
                    AS DECIMAL(28,12)),
               CAST(0 AS DECIMAL(28,12))) AS w
           FROM w1 LEFT JOIN g2 ON g2.b = w1.b CROSS JOIN n),
         mf AS (SELECT doc_id, sum(CAST(w.w * x.x AS DECIMAL(38,12))) AS m
           FROM x JOIN w2 w USING (b) GROUP BY 1)
         SELECT mf.doc_id,
           round(1.0 / (1.0 + exp(-CAST(m AS DOUBLE))), 6) AS prob,
           CAST(m >= 0 AS INT) AS pred, y.y
         FROM mf JOIN y USING (doc_id)"""

  val oracles: Map[String, String] = Map(
    "q50_dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_key,
         min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1""",
    // substring-dedup oracle: same window/hash definition straight in SQL
    // (md5 of the literal 40-char substring — both engines hash UTF-8)
    "q136_substring_dedup" ->
      """WITH pos AS (
           SELECT doc_id,
             unnest(generate_series(0, length(text) - 40, 10)) AS p, text
           FROM documents WHERE length(text) >= 40),
         g AS (SELECT doc_id, p, md5(substr(text, p + 1, 40)) AS h FROM pos),
         d AS (SELECT h FROM g GROUP BY h
               HAVING count(DISTINCT doc_id) >= 2)
         SELECT doc_id, count(*) AS dup_windows, min(p) AS first_dup_pos
         FROM g JOIN d USING (h) GROUP BY doc_id""",
    // duplicate-families oracle: same windows/edges, closure via a
    // recursive CTE (min source label over transitive reachability)
    "q142_dedup_clusters" ->
      """WITH g0 AS (
           SELECT DISTINCT doc_id, md5(substr(text, p + 1, 40)) AS h
           FROM (SELECT doc_id, text,
                   unnest(generate_series(0, length(text) - 40, 10)) AS p
                 FROM documents WHERE length(text) >= 40)),
         d AS (SELECT h FROM g0 GROUP BY h
               HAVING count(*) >= 2 AND count(*) <= 1000),
         dup AS (SELECT g0.doc_id, g0.h FROM g0 JOIN d USING (h)),
         e AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
               FROM dup a JOIN dup b ON a.h = b.h AND a.doc_id <> b.doc_id),
         nodes AS (SELECT DISTINCT u AS id FROM e),
         reach AS (
           WITH RECURSIVE r(src, node) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT r.src, e.v FROM r JOIN e ON r.node = e.u)
           SELECT * FROM r)
         SELECT node AS doc_id, min(src) AS cluster_id
         FROM reach GROUP BY node""",
    // chunking oracle: same whitespace tokens, same window arithmetic,
    // 1-based inclusive list_slice == Spark's (start, length) slice
    "q199_doc_chunking" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         n AS (
           SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         c AS (
           SELECT doc_id, toks, n,
             unnest(generate_series(0,
               CASE WHEN n <= 30 THEN 0
                    ELSE (n - 30 + 19) // 20 END)) AS chunk_id
           FROM n)
         SELECT doc_id, chunk_id, chunk_id * 20 AS tok_start,
           least(30, n - chunk_id * 20) AS n_toks,
           md5(array_to_string(
             list_slice(toks, chunk_id * 20 + 1, chunk_id * 20 + 30),
             ' ')) AS chunk_md5
         FROM c""",
    // classifier replay: epoch 1 is libm-free (w0 = 0 makes every
    // probability exactly 0.5); epoch 2 and the final scoring use the
    // round-8/round-6 sigmoid policy with decimal-exact sums throughout.
    // Weight updates round at scale 12 where g(8dp)*2e-4 sits EXACTLY on
    // the grid — an 8-dp scale put true ties at the 9th digit, which
    // Spark (shortest-repr HALF_UP) and DuckDB (exact binary) resolve
    // differently
    "q219_quality_classifier" -> q219Sql,
    // BPE replay: the same 4 training rounds as chained CTEs — pair
    // counts from the space-separated symbol form, argmax with the
    // (cnt DESC, l, r) tie-break, merge via literal replace (DuckDB and
    // Java scan left-to-right non-overlapping identically)
    "q207_bpe_train" ->
      """WITH w0 AS (
           SELECT w, count(*) AS f FROM (
             SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             FROM documents)
           WHERE regexp_matches(w, '^[a-z]+$')
           GROUP BY 1),
         s0 AS (SELECT '(' || array_to_string(string_split(w, ''), ')(')
                  || ')' AS s, f FROM w0),
         p1 AS (SELECT a[i] AS l, a[i+1] AS r, CAST(sum(f) AS BIGINT) AS cnt
           FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS a, f FROM s0) t,
                LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i)
           GROUP BY 1, 2),
         m1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
         s1 AS (SELECT replace(s, '(' || l || ')(' || r || ')',
                  '(' || l || r || ')') AS s, f FROM s0, m1),
         p2 AS (SELECT a[i] AS l, a[i+1] AS r, CAST(sum(f) AS BIGINT) AS cnt
           FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS a, f FROM s1) t,
                LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i)
           GROUP BY 1, 2),
         m2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
         s2 AS (SELECT replace(s, '(' || l || ')(' || r || ')',
                  '(' || l || r || ')') AS s, f FROM s1, m2),
         p3 AS (SELECT a[i] AS l, a[i+1] AS r, CAST(sum(f) AS BIGINT) AS cnt
           FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS a, f FROM s2) t,
                LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i)
           GROUP BY 1, 2),
         m3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
         s3 AS (SELECT replace(s, '(' || l || ')(' || r || ')',
                  '(' || l || r || ')') AS s, f FROM s2, m3),
         p4 AS (SELECT a[i] AS l, a[i+1] AS r, CAST(sum(f) AS BIGINT) AS cnt
           FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS a, f FROM s3) t,
                LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i)
           GROUP BY 1, 2),
         m4 AS (SELECT l, r, cnt FROM p4 ORDER BY cnt DESC, l, r LIMIT 1)
         SELECT 1 AS merge_rank, l AS lhs, r AS rhs, cnt FROM m1
         UNION ALL SELECT 2, l, r, cnt FROM m2
         UNION ALL SELECT 3, l, r, cnt FROM m3
         UNION ALL SELECT 4, l, r, cnt FROM m4""",
    // BPE encode replay: q207's four training rounds, then symbol counts
    // of the final dictionary joined onto the per-source word stream
    "q210_bpe_encode" ->
      """WITH w0 AS (
           SELECT w, count(*) AS f FROM (
             SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             FROM documents)
           WHERE regexp_matches(w, '^[a-z]+$')
           GROUP BY 1),
         s0 AS (SELECT w, '(' || array_to_string(string_split(w, ''), ')(')
                  || ')' AS s, f FROM w0),
         p1 AS (SELECT a[i] AS l, a[i+1] AS r, sum(f) AS cnt
           FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS a, f FROM s0) t,
                LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i)
           GROUP BY 1, 2),
         m1 AS (SELECT l, r FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
         s1 AS (SELECT w, replace(s, '(' || l || ')(' || r || ')',
                  '(' || l || r || ')') AS s, f FROM s0, m1),
         p2 AS (SELECT a[i] AS l, a[i+1] AS r, sum(f) AS cnt
           FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS a, f FROM s1) t,
                LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i)
           GROUP BY 1, 2),
         m2 AS (SELECT l, r FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
         s2 AS (SELECT w, replace(s, '(' || l || ')(' || r || ')',
                  '(' || l || r || ')') AS s, f FROM s1, m2),
         p3 AS (SELECT a[i] AS l, a[i+1] AS r, sum(f) AS cnt
           FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS a, f FROM s2) t,
                LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i)
           GROUP BY 1, 2),
         m3 AS (SELECT l, r FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
         s3 AS (SELECT w, replace(s, '(' || l || ')(' || r || ')',
                  '(' || l || r || ')') AS s, f FROM s2, m3),
         p4 AS (SELECT a[i] AS l, a[i+1] AS r, sum(f) AS cnt
           FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS a, f FROM s3) t,
                LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i)
           GROUP BY 1, 2),
         m4 AS (SELECT l, r FROM p4 ORDER BY cnt DESC, l, r LIMIT 1),
         s4 AS (SELECT w, replace(s, '(' || l || ')(' || r || ')',
                  '(' || l || r || ')') AS s, f FROM s3, m4),
         dict AS (SELECT w,
             len(string_split(substr(s, 2, length(s) - 2), ')(')) AS n_sym
           FROM s4),
         ws AS (SELECT source, w FROM (
             SELECT source,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             FROM documents)
           WHERE regexp_matches(w, '^[a-z]+$'))
         SELECT source, CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
           count(*) AS n_words
         FROM ws JOIN dict USING (w) GROUP BY 1""",
    // MRL replay: q54's cosine fold over the 16-element prefix only
    "q218_mrl_truncated_ann" ->
      """WITH norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, 16),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         dots AS (
           SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
             list_reduce(list_transform(
               generate_series(1, 16),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) p)
         SELECT probe_id, rk, vec_id, cosine FROM (
           SELECT d.probe_id, d.vec_id, d.dt / (nc.nrm * np.nrm) AS cosine,
             row_number() OVER (PARTITION BY d.probe_id
               ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id) AS rk
           FROM dots d JOIN norms nc ON d.vec_id = nc.vec_id
           JOIN norms np ON d.probe_id = np.vec_id)
         WHERE rk <= 3""",
    // IVF+SQ8 replay: q54c's assignment CTEs + the q204 codec applied to
    // the exact double residuals, reconstruction = centroid + dequant
    "q215_ivf_sq8" ->
      """WITH norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         cdots AS (
           SELECT v.vec_id, c.vec_id AS cell_id,
             list_reduce(list_transform(
               generate_series(1, len(v.embedding)),
               i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings v
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) c),
         assign AS (
           SELECT vec_id, cell_id FROM (
             SELECT d.vec_id, d.cell_id,
               row_number() OVER (PARTITION BY d.vec_id
                 ORDER BY d.dt / (nv.nrm * nc.nrm) DESC, d.cell_id) AS rk
             FROM cdots d JOIN norms nv ON d.vec_id = nv.vec_id
             JOIN norms nc ON d.cell_id = nc.vec_id)
           WHERE rk = 1),
         res AS (
           SELECT a.vec_id, a.cell_id,
             list_transform(generate_series(1, len(v.embedding)),
               i -> CAST(v.embedding[i] AS DOUBLE)
                    - CAST(c.embedding[i] AS DOUBLE)) AS r
           FROM assign a JOIN embeddings v ON v.vec_id = a.vec_id
           JOIN embeddings c ON c.vec_id = a.cell_id),
         pos AS (SELECT i, r[i] AS x FROM res,
             LATERAL (SELECT unnest(generate_series(1, len(r))) AS i)),
         st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM pos GROUP BY i),
         stl AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
                 FROM st),
         recon AS (
           SELECT res.vec_id, res.cell_id,
             list_transform(generate_series(1, len(res.r)),
               i -> CAST(c.embedding[i] AS DOUBLE)
                    + (mns[i] + (CASE WHEN mxs[i] = mns[i] THEN 0
                         ELSE floor((res.r[i] - mns[i]) * 255.0
                                    / (mxs[i] - mns[i]) + 0.5) END)
                       * (mxs[i] - mns[i]) / 255.0)) AS rv
           FROM res JOIN embeddings c ON c.vec_id = res.cell_id
           CROSS JOIN stl),
         cand AS (SELECT vec_id AS probe_id, cell_id FROM assign
                  WHERE vec_id < 5),
         scores AS (
           SELECT ca.probe_id, rc.vec_id,
             list_reduce(list_transform(generate_series(1, len(rc.rv)),
               i -> rc.rv[i] * CAST(pe.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS score
           FROM cand ca JOIN recon rc ON rc.cell_id = ca.cell_id
           JOIN embeddings pe ON pe.vec_id = ca.probe_id)
         SELECT probe_id, rk, vec_id, score FROM (
           SELECT probe_id, vec_id, score,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY score DESC, vec_id) AS rk
           FROM scores)
         WHERE rk <= 3""",
    // L2 replay: the same index-ordered fold as the SumSqDiff kernel —
    // (x-y)*(x-y) accumulated left to right
    "q214_l2_topk" ->
      """WITH dists AS (
           SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
             list_reduce(list_transform(
               generate_series(1, len(c.embedding)),
               i -> (CAST(c.embedding[i] AS DOUBLE)
                     - CAST(p.embedding[i] AS DOUBLE))
                    * (CAST(c.embedding[i] AS DOUBLE)
                       - CAST(p.embedding[i] AS DOUBLE))),
               (x, y) -> x + y) AS dist2
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) p)
         SELECT probe_id, rk, vec_id, dist2 FROM (
           SELECT probe_id, vec_id, dist2,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY dist2, vec_id) AS rk
           FROM dists)
         WHERE rk <= 3""",
    // SQ8 replay: per-dim min/max via the q54 positional idiom, codebook
    // as ordered lists, quantize+dequantize inline in the scoring lambda
    // (identical IEEE op order to the Scala expressions), dot = the same
    // left fold as q54's oracle
    "q204_sq8_ann" ->
      """WITH pos AS (
           SELECT e.vec_id, i, CAST(e.embedding[i] AS DOUBLE) AS x
           FROM embeddings e,
             LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i)),
         st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM pos GROUP BY i),
         stl AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
                 FROM st),
         dq AS (
           SELECT e.vec_id,
             list_transform(generate_series(1, len(e.embedding)),
               i -> mns[i]
                    + (CASE WHEN mxs[i] = mns[i] THEN 0
                       ELSE floor((CAST(e.embedding[i] AS DOUBLE) - mns[i])
                                  * 255.0 / (mxs[i] - mns[i]) + 0.5) END)
                      * (mxs[i] - mns[i]) / 255.0) AS dv
           FROM embeddings e CROSS JOIN stl),
         scores AS (
           SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
             list_reduce(list_transform(generate_series(1, len(p.embedding)),
               i -> c.dv[i] * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS score
           FROM dq c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) p)
         SELECT probe_id, rk, vec_id, score FROM (
           SELECT probe_id, vec_id, score,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY score DESC, vec_id) AS rk
           FROM scores)
         WHERE rk <= 3""",
    // DSIR replay: same tokens (q52's split idiom), same md5-prefix
    // bucket fold (q133's), λ rounded to 8 dp then summed as DECIMAL so
    // both engines add identical terms exactly
    "q203_dsir_weights" ->
      """WITH t AS (SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         g AS (
           SELECT doc_id, source, unnest(w) AS g FROM t
           UNION ALL
           SELECT doc_id, source, w[i] || ' ' || w[i+1] AS g
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i)),
         gb AS (SELECT doc_id, source,
             list_reduce(list_transform(
                 string_split(substr(md5(g), 1, 4), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 4096 AS b
           FROM g),
         bc AS (SELECT b,
             sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
             count(*) AS cr
           FROM gb GROUP BY 1),
         tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
         lam AS (SELECT b,
             CAST(round(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 4096 AS DOUBLE))
                      - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 4096 AS DOUBLE)),
                 8) AS DECIMAL(28,8)) AS lam
           FROM bc CROSS JOIN tot)
         SELECT doc_id, CAST(sum(lam) AS DOUBLE) AS log_weight
         FROM gb JOIN lam USING (b) GROUP BY 1""",
    // full-chain replay of the curation pipeline: every stage reuses the
    // replay pattern of its standalone oracle (q158 token gate, q50
    // content key, q138 window grams, q144 sampling bucket)
    "q198_curation_pipeline" ->
      """WITH gated AS (
           SELECT * FROM documents
           WHERE len(string_split_regex(trim(text), '\s+')) >= 30),
         keyed AS (
           SELECT *, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
             AS ck
           FROM gated),
         keepers AS (
           SELECT ck, min(doc_id) AS keep_id, count(*) AS n_dups
           FROM keyed GROUP BY 1),
         kept AS (
           SELECT k.doc_id, k.text, k.lang, k.source, k.n_chars, kp.n_dups
           FROM keyed k JOIN keepers kp ON k.doc_id = kp.keep_id),
         bench AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         corp AS (SELECT * FROM kept WHERE doc_id % 10 <> 0),
         bg AS (
           SELECT DISTINCT md5(substr(text, p + 1, 20)) AS h FROM (
             SELECT text, unnest(generate_series(0, length(text) - 20, 5)) AS p
             FROM bench WHERE length(text) >= 20)),
         cg AS (
           SELECT doc_id, md5(substr(text, p + 1, 20)) AS h FROM (
             SELECT doc_id, text,
               unnest(generate_series(0, length(text) - 20, 5)) AS p
             FROM corp WHERE length(text) >= 20)),
         hits AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (h)),
         clean AS (
           SELECT * FROM corp
           WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
         sampled AS (
           SELECT * FROM clean
           WHERE list_reduce(list_transform(
               string_split(substr(md5(CAST(doc_id AS VARCHAR) || '#strat'),
                 1, 6), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 10000
             < CASE lang WHEN 'en' THEN 5000 ELSE 10000 END)
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(n_dups) AS BIGINT) AS sum_dups
         FROM sampled GROUP BY 1, 2""",
    // decontamination oracle: same window/hash definition in SQL
    "q138_decontaminate" ->
      """WITH bench AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
         corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
         bg AS (SELECT DISTINCT md5(substr(text, p + 1, 20)) AS h
                FROM (SELECT text,
                    unnest(generate_series(0, length(text) - 20, 5)) AS p
                  FROM bench WHERE length(text) >= 20)),
         cg AS (SELECT doc_id, p, md5(substr(text, p + 1, 20)) AS h
                FROM (SELECT doc_id, text,
                    unnest(generate_series(0, length(text) - 20, 5)) AS p
                  FROM corpus WHERE length(text) >= 20))
         SELECT doc_id, count(*) AS bench_hits, min(p) AS first_hit_pos
         FROM cg JOIN bg USING (h) GROUP BY doc_id""",
    // Oracle = the exact >=0.9-Jaccard pair set over the doubled corpus.
    // LSH(16 bands x 4 rows) miss probability at s>=0.9 is (1-s^4)^16 <=
    // 3.9e-8 per pair, so candidate generation provably covers this set.
    "q51_minhash_lsh" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT -doc_id - 1, text FROM documents),
         t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
               FROM all_docs),
         ng AS (SELECT DISTINCT doc_id,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
               FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i)),
         sz AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY 1),
         co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
               FROM ng a JOIN ng b ON a.g = b.g AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
         FROM co JOIN sz sa ON co.id_a = sa.doc_id
         JOIN sz sb ON co.id_b = sb.doc_id
         WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.9""",
    "q94_vocab_topk" ->
      """SELECT source, rk, tok, n FROM (
           SELECT source, tok, n,
             row_number() OVER (PARTITION BY source
               ORDER BY n DESC, tok) AS rk
           FROM (
             SELECT source, tok, count(*) AS n FROM (
               SELECT source,
                 unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
               FROM documents)
             GROUP BY 1, 2))
         WHERE rk <= 10""",
    "q95_embed_neardup" ->
      """WITH all_e AS (
           SELECT label, vec_id, embedding FROM embeddings
           UNION ALL SELECT label, -vec_id - 1, embedding FROM embeddings),
         p AS (
           SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
             list_reduce(list_transform(generate_series(1, len(a.embedding)),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
               (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)),
                 i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))) AS cosine
           FROM all_e a JOIN all_e b
           ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT label, id_a, id_b, cosine FROM p WHERE cosine >= 0.99""",
    // LSH ANN oracle: the ±1 sign matrix is inlined as a SQL literal; the
    // projection fold and the bucket-restricted cosine top-k mirror the
    // engine exactly (int * double literal signs, left folds).
    "q54b_lsh_ann" ->
      s"""WITH sigs AS (
           SELECT e2.vec_id, e2.embedding,
             sum(CASE WHEN list_reduce(list_transform(
                 generate_series(1, 64),
                 i -> CAST(e2.embedding[i] AS DOUBLE) * ($rhpSignsSql)[g.p + 1][i]),
                 (x, y) -> x + y) >= 0
               THEN (CAST(1 AS BIGINT) << g.p) ELSE 0 END) AS sig
           FROM embeddings e2, (SELECT unnest(generate_series(0, 7)) AS p) g
           GROUP BY 1, 2),
         norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         cand AS (
           SELECT p.vec_id AS probe_id, c.vec_id,
             list_reduce(list_transform(generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM sigs c JOIN (SELECT * FROM sigs WHERE vec_id < 50) p
           ON c.sig = p.sig)
         SELECT probe_id, rk, vec_id, cosine FROM (
           SELECT d.probe_id, d.vec_id, d.dt / (nc.nrm * np.nrm) AS cosine,
             row_number() OVER (PARTITION BY d.probe_id
               ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id) AS rk
           FROM cand d JOIN norms nc ON d.vec_id = nc.vec_id
           JOIN norms np ON d.probe_id = np.vec_id)
         WHERE rk <= 3""",
    // multi-probe oracle: same sig CTE; probes join on sig XOR each of
    // the 9 masks (0 plus one bit per plane)
    "q54d_lsh_multiprobe" ->
      s"""WITH sigs AS (
           SELECT e2.vec_id, e2.embedding,
             sum(CASE WHEN list_reduce(list_transform(
                 generate_series(1, 64),
                 i -> CAST(e2.embedding[i] AS DOUBLE) * ($rhpSignsSql)[g.p + 1][i]),
                 (x, y) -> x + y) >= 0
               THEN (CAST(1 AS BIGINT) << g.p) ELSE 0 END) AS sig
           FROM embeddings e2, (SELECT unnest(generate_series(0, 7)) AS p) g
           GROUP BY 1, 2),
         norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         pv AS (
           SELECT p.vec_id AS probe_id, p.embedding,
             xor(p.sig, m.mask) AS sig
           FROM (SELECT * FROM sigs WHERE vec_id < 50) p,
           (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS mask) m),
         cand AS (
           SELECT DISTINCT pv.probe_id, c.vec_id
           FROM sigs c JOIN pv ON c.sig = pv.sig),
         sc AS (
           SELECT ca.probe_id, ca.vec_id,
             list_reduce(list_transform(generate_series(1, len(ve.embedding)),
               i -> CAST(ve.embedding[i] AS DOUBLE) * CAST(pe.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM cand ca
           JOIN embeddings ve ON ve.vec_id = ca.vec_id
           JOIN embeddings pe ON pe.vec_id = ca.probe_id)
         SELECT probe_id, rk, vec_id, cosine FROM (
           SELECT d.probe_id, d.vec_id, d.dt / (nc.nrm * np.nrm) AS cosine,
             row_number() OVER (PARTITION BY d.probe_id
               ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id) AS rk
           FROM sc d JOIN norms nc ON d.vec_id = nc.vec_id
           JOIN norms np ON d.probe_id = np.vec_id)
         WHERE rk <= 3""",
    // IVF nprobe=2 oracle: q54c's shape with the probe's two nearest
    // cells feeding the candidate join
    "q157_ivf_nprobe" ->
      """WITH norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         cdots AS (
           SELECT v.vec_id, c.vec_id AS cell_id,
             list_reduce(list_transform(
               generate_series(1, len(v.embedding)),
               i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings v
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) c),
         ranked AS (
           SELECT d.vec_id, d.cell_id,
             row_number() OVER (PARTITION BY d.vec_id
               ORDER BY d.dt / (nv.nrm * nc.nrm) DESC, d.cell_id) AS rk
           FROM cdots d JOIN norms nv ON d.vec_id = nv.vec_id
           JOIN norms nc ON d.cell_id = nc.vec_id),
         assign AS (SELECT vec_id, cell_id FROM ranked WHERE rk = 1),
         pcells AS (SELECT vec_id AS probe_id, cell_id
           FROM ranked WHERE vec_id < 5 AND rk <= 2),
         cand AS (
           SELECT p.probe_id, v.vec_id
           FROM pcells p JOIN assign v ON v.cell_id = p.cell_id),
         pd AS (
           SELECT ca.probe_id, ca.vec_id,
             list_reduce(list_transform(
               generate_series(1, len(ve.embedding)),
               i -> CAST(ve.embedding[i] AS DOUBLE) * CAST(pe.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM cand ca
           JOIN embeddings ve ON ve.vec_id = ca.vec_id
           JOIN embeddings pe ON pe.vec_id = ca.probe_id)
         SELECT probe_id, rk, vec_id, cosine FROM (
           SELECT d.probe_id, d.vec_id, d.dt / (nv.nrm * np.nrm) AS cosine,
             row_number() OVER (PARTITION BY d.probe_id
               ORDER BY d.dt / (nv.nrm * np.nrm) DESC, d.vec_id) AS rk
           FROM pd d JOIN norms nv ON d.vec_id = nv.vec_id
           JOIN norms np ON d.probe_id = np.vec_id)
         WHERE rk <= 3""",
    // IVF ANN oracle: same sequential-fold cosine for assignment (argmax
    // over the 8 seed centroids, ties -> min cell) and candidate scoring.
    "q54c_ivf_ann" ->
      """WITH norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         cdots AS (
           SELECT v.vec_id, c.vec_id AS cell_id,
             list_reduce(list_transform(
               generate_series(1, len(v.embedding)),
               i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings v
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) c),
         assign AS (
           SELECT vec_id, cell_id FROM (
             SELECT d.vec_id, d.cell_id,
               row_number() OVER (PARTITION BY d.vec_id
                 ORDER BY d.dt / (nv.nrm * nc.nrm) DESC, d.cell_id) AS rk
             FROM cdots d JOIN norms nv ON d.vec_id = nv.vec_id
             JOIN norms nc ON d.cell_id = nc.vec_id)
           WHERE rk = 1),
         cand AS (
           SELECT p.vec_id AS probe_id, v.vec_id
           FROM (SELECT * FROM assign WHERE vec_id < 5) p
           JOIN assign v ON v.cell_id = p.cell_id),
         pd AS (
           SELECT ca.probe_id, ca.vec_id,
             list_reduce(list_transform(
               generate_series(1, len(ve.embedding)),
               i -> CAST(ve.embedding[i] AS DOUBLE) * CAST(pe.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM cand ca
           JOIN embeddings ve ON ve.vec_id = ca.vec_id
           JOIN embeddings pe ON pe.vec_id = ca.probe_id)
         SELECT probe_id, rk, vec_id, cosine FROM (
           SELECT d.probe_id, d.vec_id, d.dt / (nv.nrm * np.nrm) AS cosine,
             row_number() OVER (PARTITION BY d.probe_id
               ORDER BY d.dt / (nv.nrm * np.nrm) DESC, d.vec_id) AS rk
           FROM pd d JOIN norms nv ON d.vec_id = nv.vec_id
           JOIN norms np ON d.probe_id = np.vec_id)
         WHERE rk <= 3""",
    // group-holdout replay: the q133 md5-bucket fold on user_id,
    // per-split counts + the (necessarily zero) straddle count
    "q320_group_holdout" ->
      """WITH b AS (SELECT user_id,
           CASE WHEN bk < 80 THEN 'train'
                WHEN bk < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT user_id, list_reduce(list_transform(
               string_split(substr(md5(CAST(user_id AS VARCHAR)), 1, 4), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 100 AS bk
           FROM events)),
         per AS (SELECT split, count(*) AS n_rows,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_groups
           FROM b GROUP BY 1),
         st AS (SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1
               ELSE 0 END), 0) AS BIGINT) AS straddle_groups
           FROM (SELECT user_id, count(DISTINCT split) AS ns
             FROM b GROUP BY 1))
         SELECT per.*, st.straddle_groups FROM per CROSS JOIN st""",

    // coverage replay: same (count DESC, token) cut, integer comparison
    "q321_vocab_coverage" ->
      """WITH tk AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         cn AS (SELECT tok, count(*) AS n FROM tk WHERE tok <> ''
           GROUP BY 1),
         top AS (SELECT tok, n FROM cn ORDER BY n DESC, tok LIMIT 2000),
         cm AS (SELECT
             CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT)
               AS rank,
             CAST(sum(n) OVER (ORDER BY n DESC, tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM top),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tk
           WHERE tok <> ''),
         t AS (SELECT unnest([50, 75, 90, 95]) AS target_pct),
         hit AS (SELECT t.target_pct, cm.rank, cm.cum, tot.total,
             row_number() OVER (PARTITION BY t.target_pct
               ORDER BY cm.rank) AS rk
           FROM cm CROSS JOIN tot CROSS JOIN t
           WHERE cm.cum * 100 >= t.target_pct * tot.total)
         SELECT target_pct, rank AS vocab_size, cum AS covered_tokens,
           total AS total_tokens
         FROM hit WHERE rk = 1""",

    // alpha replay: identical per-item disagreeing-pair counts,
    // identical marginals, the one truncating division
    "q322_krippendorff" ->
      """WITH r AS (SELECT doc_id,
           CASE WHEN n_chars < 300 THEN 'S'
                WHEN n_chars < 700 THEN 'M' ELSE 'L' END AS r1,
           CASE WHEN len(string_split_regex(trim(text), '\s+')) < 50
                THEN 'S'
                WHEN len(string_split_regex(trim(text), '\s+')) < 120
                THEN 'M' ELSE 'L' END AS r2,
           CASE WHEN length(text) < 320 THEN 'S'
                WHEN length(text) < 720 THEN 'M' ELSE 'L' END AS r3
         FROM documents),
         lf AS (SELECT doc_id AS i, unnest([r1, r2, r3]) AS v FROM r),
         cells AS (SELECT i, v, count(*) AS c FROM lf GROUP BY 1, 2),
         pi AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(6 - agree) AS BIGINT) AS p_neq
           FROM (SELECT i, sum(c * (c - 1)) AS agree
             FROM cells GROUP BY 1)),
         mg AS (SELECT CAST(sum(nc) AS BIGINT) AS n,
             sum(CAST(nc AS HUGEINT) * nc) AS sum_nc2
           FROM (SELECT v, sum(c) AS nc FROM cells GROUP BY 1))
         SELECT pi.n_items, mg.n, pi.p_neq,
           CAST(CASE WHEN CAST(mg.n AS HUGEINT) * mg.n - sum_nc2 = 0
                THEN NULL
                ELSE 1000000 - (CAST(p_neq AS HUGEINT) * (mg.n - 1)
                     * 1000000)
                     // (2 * (CAST(mg.n AS HUGEINT) * mg.n
                          - sum_nc2)) END AS BIGINT) AS alpha_ppm
         FROM pi CROSS JOIN mg""",

    // mutual-NN replay: the q54c assignment CTEs, even/odd split, pair
    // scores within the shared cell, row_number in BOTH directions
    "q318_mutual_nn" ->
      """WITH norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         cdots AS (
           SELECT v.vec_id, c.vec_id AS cell_id,
             list_reduce(list_transform(
               generate_series(1, len(v.embedding)),
               i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings v
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) c),
         assign AS (
           SELECT vec_id, cell_id FROM (
             SELECT d.vec_id, d.cell_id,
               row_number() OVER (PARTITION BY d.vec_id
                 ORDER BY d.dt / (nv.nrm * nc.nrm) DESC, d.cell_id) AS rk
             FROM cdots d JOIN norms nv ON d.vec_id = nv.vec_id
             JOIN norms nc ON d.cell_id = nc.vec_id)
           WHERE rk = 1),
         pairs AS (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             list_reduce(list_transform(
               generate_series(1, len(ea.embedding)),
               i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) / (na.nrm * nb.nrm) AS cosine
           FROM assign a JOIN assign b ON a.cell_id = b.cell_id
             AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
           JOIN embeddings ea ON ea.vec_id = a.vec_id
           JOIN embeddings eb ON eb.vec_id = b.vec_id
           JOIN norms na ON na.vec_id = a.vec_id
           JOIN norms nb ON nb.vec_id = b.vec_id),
         rked AS (
           SELECT *, row_number() OVER (PARTITION BY a_id
               ORDER BY cosine DESC, b_id) AS ra,
             row_number() OVER (PARTITION BY b_id
               ORDER BY cosine DESC, a_id) AS rb
           FROM pairs)
         SELECT a_id, b_id, cosine FROM rked WHERE ra = 1 AND rb = 1""",

    // Zipf replay: same tokenization, same (count DESC, token) top-500
    // cut and ranks, the identical 8-dp log grid and IEEE assembly
    "q319_zipf_fit" ->
      """WITH tk AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         cn AS (SELECT tok, count(*) AS n FROM tk WHERE tok <> ''
           GROUP BY 1),
         top AS (SELECT tok, n FROM cn ORDER BY n DESC, tok LIMIT 500),
         pts AS (SELECT
             CAST(round(ln(CAST(row_number() OVER (ORDER BY n DESC, tok)
               AS DOUBLE)), 8) AS DECIMAL(18,8)) AS x,
             CAST(round(ln(CAST(n AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y
           FROM top),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS np,
             sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x * y AS DECIMAL(38,16))) AS sxy,
             sum(CAST(x * x AS DECIMAL(38,16))) AS sxx
           FROM pts)
         SELECT np AS n_pts,
           round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0
             AS slope,
           round((CAST(sy AS DOUBLE)
               - (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * CAST(sx AS DOUBLE)) / CAST(np AS DOUBLE), 6) + 0.0
             AS intercept
         FROM agg""",

    // SimHash is fully deterministic given the portable 60-bit md5-prefix
    // token hash, so the signature itself is oracle-checkable. The planted
    // copy has byte-identical text -> identical signature -> distance 0.
    "q53_simhash" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         th AS (
           SELECT doc_id, list_reduce(list_transform(
               string_split(substr(md5(tok), 1, 15), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h
           FROM tok),
         bits AS (
           SELECT doc_id, i,
             sum(CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END) AS vote
           FROM th, (SELECT unnest(generate_series(0, 59)) AS i) g
           GROUP BY doc_id, i),
         sig AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
               AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id)
         SELECT doc_id, simhash, 0 AS dist_to_dup FROM sig""",
    "q52_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         ng AS (SELECT DISTINCT doc_id, source, w[i] || ' ' || w[i+1] AS g
             FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i)),
         sz AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY 1),
         co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
             FROM ng a JOIN ng b ON a.g = b.g AND a.source = b.source
               AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
         FROM co JOIN sz sa ON co.id_a = sa.doc_id
         JOIN sz sb ON co.id_b = sb.doc_id""",
    // cosine = sequential-fold dot (mirrors the codegen'd Java loop:
    // list_reduce folds left like the double accumulator, bit-exact)
    "q54_cosine_topk" ->
      """WITH norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         dots AS (
           SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
             list_reduce(list_transform(
               generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) p)
         SELECT probe_id, rk, vec_id, cosine FROM (
           SELECT d.probe_id, d.vec_id, d.dt / (nc.nrm * np.nrm) AS cosine,
             row_number() OVER (PARTITION BY d.probe_id
               ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id) AS rk
           FROM dots d JOIN norms nc ON d.vec_id = nc.vec_id
           JOIN norms np ON d.probe_id = np.vec_id)
         WHERE rk <= 3""",
    // CCNet-bucket replay: the q154 perplexity CTEs, quantile_cont
    // (= H&F 7 = Spark percentile) tertile thresholds, the same <=
    // bucket comparisons, and the #strat bucketBp keep rule
    "q255_ccnet_buckets" ->
      """WITH t AS (SELECT doc_id,
           string_split_regex(trim(lower(text)), '\s+') AS toks
         FROM documents),
         bi AS (SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
           SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
             i -> {'w1': toks[i+1], 'w2': toks[i+2]})) AS bg FROM t)),
         b12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
         b1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
         vv AS (SELECT count(*) AS v FROM b1),
         pp AS (SELECT doc_id,
           round(CAST(sum(CAST(round(
             ln((c1 + 0.5 * v) / (c12 + 0.5)) / ln(2), 8)
             AS DECIMAL(30,8))) AS DOUBLE) / count(*), 6) AS avg_nll
         FROM bi JOIN b12 USING (w1, w2) JOIN b1 USING (w1) CROSS JOIN vv
         GROUP BY doc_id),
         th AS (SELECT quantile_cont(avg_nll, 1.0/3.0) AS t1,
             quantile_cont(avg_nll, 2.0/3.0) AS t2 FROM pp),
         bk AS (SELECT doc_id,
             CASE WHEN avg_nll <= t1 THEN 'head'
                  WHEN avg_nll <= t2 THEN 'middle'
                  ELSE 'tail' END AS bucket
           FROM pp CROSS JOIN th),
         kept AS (SELECT doc_id, bucket FROM bk
           WHERE list_reduce(list_transform(
               string_split(substr(md5(CAST(doc_id AS VARCHAR) || '#strat'), 1, 6), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 10000
             < CASE bucket WHEN 'head' THEN 10000
                           WHEN 'middle' THEN 5000 ELSE 1000 END)
         SELECT bucket, count(*) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM kept GROUP BY 1""",
    // hard-negative replay: the q54 CTEs with the dup-ceiling filter
    // BEFORE the rank window (survivors are the band's true top-k)
    "q254_hard_negatives" ->
      """WITH norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         dots AS (
           SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
             list_reduce(list_transform(
               generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) p),
         band AS (
           SELECT d.probe_id, d.vec_id,
             d.dt / (nc.nrm * np.nrm) AS cosine
           FROM dots d JOIN norms nc ON d.vec_id = nc.vec_id
           JOIN norms np ON d.probe_id = np.vec_id
           WHERE d.dt / (nc.nrm * np.nrm) < 0.95)
         SELECT probe_id, rk, vec_id, cosine FROM (
           SELECT probe_id, vec_id, cosine,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY cosine DESC, vec_id) AS rk
           FROM band)
         WHERE rk <= 3""",
    "q55_langid" -> q55Sql,
    // fuzzy-linkage replay: same blocking, same integer edit distance,
    // same (dist, id) nearest tie-break
    "q283_fuzzy_match" ->
      """WITH p AS (SELECT p_partkey, p_name,
             string_split(p_name, ' ')[2] AS blk FROM part
           WHERE p_partkey % 8 = 0),
         pr AS (SELECT a.p_partkey, b.p_partkey AS oid,
             levenshtein(a.p_name, b.p_name) AS d
           FROM p a JOIN p b
           ON a.blk = b.blk AND a.p_partkey != b.p_partkey),
         f AS (SELECT * FROM pr WHERE d > 0 AND d <= 4),
         rk AS (SELECT *, row_number() OVER (PARTITION BY p_partkey
             ORDER BY d, oid) AS rn FROM f)
         SELECT p_partkey, count(*) AS n_near,
           CAST(max(CASE WHEN rn = 1 THEN oid END) AS BIGINT)
             AS nearest_id,
           CAST(max(CASE WHEN rn = 1 THEN d END) AS BIGINT)
             AS nearest_dist
         FROM rk GROUP BY 1""",
    // kappa replay: q55's prediction CTE verbatim, truth = the annotated
    // lang column, then the denominator-cleared integer formula
    "q280_cohens_kappa" ->
      s"""WITH pred AS (SELECT * FROM ($q55Sql) __p),
         pr AS (SELECT d.lang AS t, pred.lang_pred AS p
           FROM documents d JOIN pred USING (doc_id)),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN t = p THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree
           FROM pr),
         rowc AS (SELECT t AS c, count(*) AS rc FROM pr GROUP BY 1),
         colc AS (SELECT p AS c, count(*) AS cc FROM pr GROUP BY 1),
         src AS (SELECT coalesce(sum(CAST(rc AS HUGEINT) * cc), 0)
               AS src_h
           FROM rowc JOIN colc USING (c))
         SELECT n, n_agree, CAST(src_h AS BIGINT) AS sum_rc,
           CASE WHEN CAST(n AS HUGEINT) * n = src_h THEN NULL
                ELSE CAST((CAST(n AS HUGEINT) * n_agree - src_h) * 1000000
                     // (CAST(n AS HUGEINT) * n - src_h) AS BIGINT)
           END AS kappa_ppm
         FROM tot CROSS JOIN src""",

    // Fleiss replay: the same three CASE raters, the same
    // denominator-cleared integer form with m = 3 (HUGEINT widening)
    "q357_fleiss_kappa" ->
      """WITH r AS (SELECT doc_id,
             CASE WHEN len(string_split_regex(trim(text), '\s+')) < 40
                  THEN 0
                  WHEN len(string_split_regex(trim(text), '\s+')) < 55
                  THEN 1
                  WHEN len(string_split_regex(trim(text), '\s+')) < 70
                  THEN 2 ELSE 3 END AS r1,
             CASE WHEN n_chars < 220 THEN 0 WHEN n_chars < 300 THEN 1
                  WHEN n_chars < 380 THEN 2 ELSE 3 END AS r2,
             CASE WHEN length(replace(text, ' ', '')) < 180 THEN 0
                  WHEN length(replace(text, ' ', '')) < 250 THEN 1
                  WHEN length(replace(text, ' ', '')) < 320 THEN 2
                  ELSE 3 END AS r3
           FROM documents),
         lng AS (SELECT doc_id AS i, unnest([r1, r2, r3]) AS v FROM r),
         cells AS (SELECT i, v, count(*) AS c FROM lng GROUP BY 1, 2),
         a AS (SELECT CAST(count(DISTINCT i) AS HUGEINT) AS n_items,
             CAST(sum(c * c) AS HUGEINT) AS s2 FROM cells),
         b AS (SELECT CAST(sum(nc * nc) AS HUGEINT) AS sum_nc2
           FROM (SELECT v, CAST(sum(c) AS HUGEINT) AS nc FROM cells
                 GROUP BY 1))
         SELECT CAST(n_items AS BIGINT) AS n_items,
           CAST(s2 AS BIGINT) AS s2,
           CAST(sum_nc2 AS BIGINT) AS sum_nc2,
           CASE WHEN n_items * 3 * n_items * 3 - sum_nc2 = 0 THEN NULL
                ELSE CAST(((s2 - n_items * 3) * n_items * 3
                           - sum_nc2 * 2) * 1000000
                     // ((n_items * 3 * n_items * 3 - sum_nc2) * 2)
                     AS BIGINT) END AS kappa_ppm
         FROM a CROSS JOIN b""",

    // Neyman replay: identical integer moments, identical 2-dp sigma
    // (the cents-magnitude grid), identical e2-grid largest-remainder
    // arithmetic
    "q369_neyman_allocation" ->
      """WITH m AS (SELECT c_mktsegment AS stratum,
             CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
               AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(sum(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                 AS HUGEINT)
               * CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS HUGEINT) AS s2
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1),
         sig AS (SELECT stratum, nh,
             CASE WHEN nh < 1 THEN NULL ELSE
               round(sqrt(greatest(CAST(s2 AS DOUBLE) * nh
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0)
                 / (CAST(nh AS DOUBLE) * nh)), 2) END AS sigma
           FROM m),
         wts AS (SELECT stratum, nh, sigma,
             CAST(round(sigma * 100.0) AS HUGEINT) * nh AS w
           FROM sig),
         tot AS (SELECT CAST(sum(w) AS HUGEINT) AS tw FROM wts),
         based AS (SELECT stratum, nh, sigma,
             CAST(CAST(10000 AS HUGEINT) * w // nullif(tw, 0) AS BIGINT)
               AS base,
             (CAST(10000 AS HUGEINT) * w) % nullif(tw, 0) AS rem
           FROM wts CROSS JOIN tot),
         sh AS (SELECT CAST(10000 - sum(base) AS BIGINT) AS short
           FROM based)
         SELECT stratum, nh, sigma,
           base + CASE WHEN row_number() OVER (ORDER BY rem DESC,
             stratum) <= short THEN 1 ELSE 0 END AS alloc
         FROM based CROSS JOIN sh""",

    // JSD replay: identical union-vocab counts, identical p/q columns
    // and 12-dp term shape (a side's term vanishes at zero count)
    "q363_jsd_sources" ->
      """WITH tok AS (SELECT source = 'src0' AS a,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           FROM documents WHERE source IN ('src0', 'src1')),
         counts AS (SELECT w,
             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS nb
           FROM tok GROUP BY 1),
         tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
             CAST(sum(nb) AS BIGINT) AS tb FROM counts),
         wide AS (SELECT na, nb, ta, tb,
             CAST(na AS DOUBLE) / ta AS p,
             CAST(nb AS DOUBLE) / tb AS q
           FROM counts CROSS JOIN tot)
         SELECT max(ta) AS n_a, max(tb) AS n_b,
           CAST(count(*) AS BIGINT) AS vocab_union,
           round(CAST(sum(CAST(round(
               CASE WHEN na > 0
                    THEN p * log2(2.0 * p / (p + q)) ELSE 0.0 END
             + CASE WHEN nb > 0
                    THEN q * log2(2.0 * q / (p + q)) ELSE 0.0 END, 12)
             AS DECIMAL(30,12))) AS DOUBLE) / 2.0, 6) AS jsd_bits
         FROM wide""",

    // AUC replay: per-score tie groups, midrank prefix, the identical
    // doubled-integer rank-sum
    "q361_roc_auc" ->
      s"""WITH base AS (SELECT * FROM ($q219Sql) __b),
         pv AS (SELECT prob AS v, CAST(count(*) AS HUGEINT) AS c,
             CAST(sum(y) AS HUGEINT) AS pos
           FROM base GROUP BY 1),
         o AS (SELECT v, c, pos,
             coalesce(CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING) AS HUGEINT),
               CAST(0 AS HUGEINT)) AS below
           FROM pv),
         t AS (SELECT CAST(sum(pos) AS HUGEINT) AS np,
             CAST(sum(c - pos) AS HUGEINT) AS nn,
             CAST(sum(pos * (2 * below + c + 1)) AS HUGEINT) AS r2
           FROM o)
         SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           CASE WHEN np = 0 OR nn = 0 THEN NULL
                ELSE CAST((r2 - np * (np + 1)) * 1000000
                     // (2 * np * nn) AS BIGINT) END AS auc_ppm
         FROM t""",

    // LSH-eval replay: the identical md5-mod-p signature pipeline —
    // affine coefficients are closed forms of the hash index, band keys
    // are the comma-joined mins in index order, truth the co-shingle
    // Jaccard with cleared denominators
    "q358_lsh_index_eval" ->
      """WITH t0 AS (SELECT doc_id AS d,
             string_split_regex(trim(lower(text)), '\s+') AS w
           FROM documents),
         alltok AS (SELECT d, w FROM t0
           UNION ALL
           SELECT -d - 1, w[1:greatest(len(w) - 5, 1)] FROM t0),
         sh AS MATERIALIZED (SELECT DISTINCT d,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
           FROM alltok, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(w) - 2, 0))) AS i)),
         hh AS MATERIALIZED (SELECT d,
             CAST(list_reduce(list_transform(
               string_split(substr(md5(g), 1, 13), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (x, y) -> x * 16 + y) % 2147483647 AS BIGINT) AS h
           FROM sh),
         mins AS (SELECT d, i,
             min(((1299721 * (i + 1) % 2147483647) * h
                  + (104729 * (i + 1) % 2147483647)) % 2147483647) AS mh
           FROM hh CROSS JOIN
             (SELECT unnest(generate_series(0, 15)) AS i)
           GROUP BY 1, 2),
         bnd AS MATERIALIZED (SELECT d, i // 4 AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
           FROM mins GROUP BY 1, 2),
         cand AS MATERIALIZED (SELECT DISTINCT a.d AS x, b.d AS y
           FROM bnd a JOIN bnd b
           ON a.band = b.band AND a.key = b.key AND a.d < b.d),
         sz AS (SELECT d, count(*) AS n FROM sh GROUP BY 1),
         co AS (SELECT a.d AS x, b.d AS y, count(*) AS c
           FROM sh a JOIN sh b ON a.g = b.g AND a.d < b.d GROUP BY 1, 2),
         truth AS MATERIALIZED (SELECT x, y
           FROM co JOIN sz sa ON sa.d = co.x JOIN sz sb ON sb.d = co.y
           WHERE c * 2 >= (sa.n + sb.n - c) * 1),
         hit AS (SELECT count(*) AS n_hit
           FROM truth JOIN cand USING (x, y)),
         tt AS (SELECT count(*) AS n_truth FROM truth),
         cc AS (SELECT count(*) AS n_cand FROM cand)
         SELECT n_truth, n_cand, n_hit,
           CASE WHEN n_truth = 0 THEN NULL
                ELSE n_hit * 1000000 // n_truth END AS recall_ppm,
           CASE WHEN n_cand = 0 THEN NULL
                ELSE n_hit * 1000000 // n_cand END AS precision_ppm
         FROM tt CROSS JOIN cc CROSS JOIN hit""",

    // fertility replay: identical explicit punct class (RE2 reads the
    // same ASCII ranges Java does), identical whitespace split, exact
    // ppm floor division
    "q378_tokenizer_fertility" ->
      """WITH d AS (SELECT lang AS grp,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS w,
             CAST(len(string_split_regex(trim(regexp_replace(text,
               '([!-/:-@\[-`{-~])', ' \1 ', 'g')), '\s+')) AS BIGINT)
               AS t
           FROM documents)
         SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS ws_tokens,
           CAST(sum(t) AS BIGINT) AS sub_tokens,
           CASE WHEN sum(w) = 0 THEN NULL
             ELSE CAST(CAST(sum(t) AS HUGEINT) * 1000000
                  // CAST(sum(w) AS HUGEINT) AS BIGINT)
           END AS fertility_ppm
         FROM d GROUP BY 1""",

    // Kneser-Ney replay: identical count tables, identical discount
    // 0.75, the q154 8-dp ln/ln(2) term grid decimal-summed
    "q379_kneser_ney" ->
      """WITH t AS (SELECT doc_id,
           string_split_regex(trim(lower(text)), '\s+') AS toks
         FROM documents),
         bi AS MATERIALIZED (SELECT doc_id, bg['w1'] AS w1,
           bg['w2'] AS w2 FROM (
           SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
             i -> {'w1': toks[i+1], 'w2': toks[i+2]})) AS bg FROM t)),
         b12 AS MATERIALIZED (SELECT w1, w2, count(*) AS c12
           FROM bi GROUP BY 1, 2),
         b1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
         f AS (SELECT w1, count(*) AS n1f FROM b12 GROUP BY 1),
         bwd AS (SELECT w2, count(*) AS n1b FROM b12 GROUP BY 1),
         tt AS (SELECT count(*) AS nt FROM b12)
         SELECT doc_id, count(*) AS n_bigrams,
           round(CAST(sum(CAST(round(
             -ln((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
               + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
                 * CAST(n1b AS DOUBLE) / CAST(nt AS DOUBLE)) / ln(2), 8)
             AS DECIMAL(30,8))) AS DOUBLE) / count(*), 6) AS avg_nll_kn
         FROM bi JOIN b12 USING (w1, w2) JOIN b1 USING (w1)
           JOIN f USING (w1) JOIN bwd USING (w2) CROSS JOIN tt
         GROUP BY doc_id""",

    // Heaps replay: identical id-range slices, cumulative token/vocab
    // checkpoints, the q319 log-log OLS on the 8-dp grid
    "q380_heaps_law" ->
      """WITH tk AS MATERIALIZED (SELECT CAST(doc_id AS BIGINT) AS did,
             w AS tok
           FROM (SELECT doc_id, unnest(string_split_regex(
             trim(lower(text)), '\s+')) AS w FROM documents)
           WHERE w <> ''),
         bd AS (SELECT min(did) AS lo, max(did) AS hi FROM tk),
         tp AS (SELECT least(((did - lo) * 20) // (hi - lo + 1), 19)
             AS s, count(*) AS nt
           FROM tk CROSS JOIN bd GROUP BY 1),
         fv AS (SELECT tok, min(did) AS fd, min(lo) AS lo,
             min(hi) AS hi FROM tk CROSS JOIN bd GROUP BY 1),
         vp AS (SELECT least(((fd - lo) * 20) // (hi - lo + 1), 19)
             AS s, count(*) AS nv
           FROM fv GROUP BY 1),
         c AS (SELECT tp.s,
             sum(tp.nt) OVER (ORDER BY tp.s ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cn,
             sum(coalesce(vp.nv, 0)) OVER (ORDER BY tp.s ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
           FROM tp LEFT JOIN vp ON tp.s = vp.s),
         pts AS (SELECT
             CAST(round(ln(CAST(cn AS DOUBLE)), 8) AS DECIMAL(18,8))
               AS x,
             CAST(round(ln(CAST(cv AS DOUBLE)), 8) AS DECIMAL(18,8))
               AS y
           FROM c WHERE cn > 0 AND cv > 0),
         a AS (SELECT count(*) AS np, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS DECIMAL(19,8)) * CAST(y AS DECIMAL(19,8)))
               AS sxy,
             sum(CAST(x AS DECIMAL(19,8)) * CAST(x AS DECIMAL(19,8)))
               AS sxx FROM pts)
         SELECT CAST(np AS BIGINT) AS n_pts,
           CASE WHEN np < 2 OR np * sxx - sx * sx = 0 THEN NULL ELSE
             round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0
           END AS beta,
           CASE WHEN np < 2 OR np * sxx - sx * sx = 0 THEN NULL ELSE
             round((CAST(sy AS DOUBLE)
               - (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * CAST(sx AS DOUBLE)) / CAST(np AS DOUBLE), 6) + 0.0
           END AS log_k
         FROM a""",

    // temperature-mix replay: identical ln->exp declared grid, e4
    // integer weights, identical largest-remainder arithmetic
    "q381_temperature_mix" ->
      """WITH m AS (SELECT source AS src,
             CAST(sum(len(string_split_regex(trim(text), '\s+')))
               AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         w0 AS (SELECT src, n_tokens,
             CAST(round(round(exp(0.7 * round(ln(CAST(n_tokens
               AS DOUBLE)), 8)), 4) * 10000) AS HUGEINT) AS w
           FROM m WHERE n_tokens > 0),
         tw AS (SELECT CAST(sum(w) AS HUGEINT) AS tw FROM w0),
         based AS (SELECT src, n_tokens, w,
             CAST(CAST(1000000 AS HUGEINT) * w // nullif(tw, 0)
               AS BIGINT) AS base,
             (CAST(1000000 AS HUGEINT) * w) % nullif(tw, 0) AS rem
           FROM w0 CROSS JOIN tw),
         sh AS (SELECT CAST(1000000 - sum(base) AS BIGINT) AS short
           FROM based)
         SELECT src, n_tokens, CAST(w AS BIGINT) AS weight_e4,
           base + CASE WHEN row_number() OVER (ORDER BY rem DESC, src)
             <= short THEN 1 ELSE 0 END AS alloc
         FROM based CROSS JOIN sh""",

    // McNemar replay: the q55 langid argmax, the same one-lexicon
    // baseline, identical discordant counts and clamped continuity
    "q387_mcnemar" ->
      """WITH pa AS (SELECT doc_id, lang AS lang_pred FROM (
             SELECT doc_id, lang, row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rk
             FROM (
               SELECT doc_id, 'en' AS lang,
                 len(regexp_extract_all(lower(text),
                   '\b(the|a|of|and|to)\b')) AS score FROM documents
               UNION ALL SELECT doc_id, 'de',
                 len(regexp_extract_all(lower(text),
                   '\b(der|die|das|und|ist)\b')) FROM documents
               UNION ALL SELECT doc_id, 'es',
                 len(regexp_extract_all(lower(text),
                   '\b(el|la|que|los|una)\b')) FROM documents
               UNION ALL SELECT doc_id, 'fr',
                 len(regexp_extract_all(lower(text),
                   '\b(le|les|et|des|un)\b')) FROM documents
               UNION ALL SELECT doc_id, 'zh',
                 len(regexp_extract_all(lower(text),
                   '\b(zhong|wen|shi|bu|ren)\b')) FROM documents))
           WHERE rk = 1),
         j AS (SELECT d.doc_id,
             (pa.lang_pred = d.lang) AS ac,
             ((CASE WHEN len(regexp_extract_all(lower(d.text),
                 '\b(the|a|of|and|to)\b')) > 0 THEN 'en'
               ELSE 'zz' END) = d.lang) AS bc
           FROM documents d JOIN pa USING (doc_id)),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN ac AND NOT bc THEN 1
               ELSE 0 END), 0) AS BIGINT) AS b,
             CAST(coalesce(sum(CASE WHEN NOT ac AND bc THEN 1
               ELSE 0 END), 0) AS BIGINT) AS c
           FROM j)
         SELECT n, b, c,
           CASE WHEN b + c = 0 THEN NULL
             ELSE round(
               CAST(greatest(abs(b - c) - 1, 0) AS DOUBLE)
               * CAST(greatest(abs(b - c) - 1, 0) AS DOUBLE)
               / CAST(b + c AS DOUBLE), 6) END AS chi2
         FROM a""",

    // phash replay: the identical closed-form pixel function -> 2x2
    // floor pools -> dHash bits -> 16-bit bands -> the same capped
    // banding join and Hamming verify (no image codec needed — PNG is
    // lossless, so the Spark side's decode returns these exact values)
    "q382_image_phash_dedup" ->
      """WITH ds AS (SELECT CAST(doc_id AS BIGINT) AS d,
             doc_id // 10 AS f, doc_id % 10 AS m FROM documents),
         px AS MATERIALIZED (SELECT d, x, y,
             CASE WHEN m > 0 AND x = (m * 3) % 18 AND y = (m * 5) % 16
               THEN (((((f % 251) + x * 31 + y * 577) % 251)
                      * (((f % 251) + x * 31 + y * 577) % 251)
                      + 3 * (((f % 251) + x * 31 + y * 577) % 251))
                     % 251 + 97) % 251
               ELSE ((((f % 251) + x * 31 + y * 577) % 251)
                     * (((f % 251) + x * 31 + y * 577) % 251)
                     + 3 * (((f % 251) + x * 31 + y * 577) % 251)) % 251
               END AS g
           FROM ds,
             LATERAL (SELECT unnest(generate_series(0, 17)) AS x),
             LATERAL (SELECT unnest(generate_series(0, 15)) AS y)),
         pool AS MATERIALIZED (SELECT d, x // 2 AS qx, y // 2 AS qy,
             sum(g) // 4 AS p
           FROM px GROUP BY 1, 2, 3),
         bits AS (SELECT a.d, a.qx AS bx, a.qy AS qy,
             CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
           FROM pool a JOIN pool b
             ON a.d = b.d AND b.qx = a.qx + 1 AND b.qy = a.qy
           WHERE a.qx < 8),
         bands AS MATERIALIZED (SELECT d, qy // 2 AS bi,
             CAST(sum(bit * (1 << ((qy % 2) * 8 + bx))) AS BIGINT) AS bv
           FROM bits GROUP BY 1, 2),
         capped AS (SELECT bi, bv FROM bands GROUP BY bi, bv
           HAVING count(*) <= 10000),
         keyed AS (SELECT bands.d, bands.bi, bands.bv
           FROM bands JOIN capped USING (bi, bv)),
         cands AS MATERIALIZED (SELECT DISTINCT x.d AS a, y.d AS b
           FROM keyed x JOIN keyed y
             ON x.bi = y.bi AND x.bv = y.bv AND x.d < y.d),
         wide AS MATERIALIZED (SELECT d,
             sum(CASE WHEN bi = 0 THEN bv ELSE 0 END) AS h0,
             sum(CASE WHEN bi = 1 THEN bv ELSE 0 END) AS h1,
             sum(CASE WHEN bi = 2 THEN bv ELSE 0 END) AS h2,
             sum(CASE WHEN bi = 3 THEN bv ELSE 0 END) AS h3
           FROM bands GROUP BY 1),
         scored AS (SELECT cands.a, cands.b,
             CAST(bit_count(xor(wa.h0, wb.h0))
               + bit_count(xor(wa.h1, wb.h1))
               + bit_count(xor(wa.h2, wb.h2))
               + bit_count(xor(wa.h3, wb.h3)) AS BIGINT) AS hamming
           FROM cands JOIN wide wa ON cands.a = wa.d
             JOIN wide wb ON cands.b = wb.d)
         SELECT a AS doc_a, b AS doc_b, hamming FROM scored
         WHERE hamming <= 6""",

    // Gini replay: per-row strict ranks (tie order cannot change the
    // rank-weighted sum), top decile = the n//10 largest by value
    "q360_token_gini" ->
      """WITH x AS (SELECT len(string_split_regex(trim(text), '\s+'))
             AS v FROM documents),
         o AS (SELECT CAST(v AS HUGEINT) AS v,
             CAST(row_number() OVER (ORDER BY v) AS HUGEINT) AS rk
           FROM x),
         t AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             sum(v) AS s, sum(rk * v) AS w FROM o),
         dsc AS (SELECT v, row_number() OVER (ORDER BY v DESC) AS rd
           FROM x),
         td AS (SELECT CAST(sum(CASE WHEN rd <= (SELECT n // 10 FROM t)
               THEN v ELSE 0 END) AS HUGEINT) AS sa FROM dsc)
         SELECT CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS total_weight,
           CASE WHEN n <= 1 OR s = 0 THEN NULL
                ELSE CAST((2 * w - (n + 1) * s) * 1000000 // (n * s)
                  AS BIGINT) END AS gini_ppm,
           CASE WHEN s = 0 OR n // 10 = 0 THEN NULL
                ELSE CAST(sa * 1000000 // s AS BIGINT) END
             AS top_decile_share_ppm
         FROM t CROSS JOIN td""",
    "q56_text_quality" ->
      """SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_types,
         CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS ttr,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / length(text) AS digit_ratio,
         CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
           / length(text) AS ws_ratio,
         CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS mean_tok_len,
         CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b')) AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS stopword_ratio
         FROM documents""",
    "q57_fingerprint" ->
      """SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
           string_split_regex(trim(lower(text)), '\s+'))), ' ')) AS fp
         FROM documents""",
    "q58_multimodal_decode" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
         octet_length(encode(text)) % 640 + 1 AS width,
         (octet_length(encode(text)) * 7) % 480 + 1 AS height,
         3 AS channels
         FROM documents""",
    "q59_frame_sample" ->
      """SELECT doc_id, i AS frame_no,
         least(64, n - i * 64) AS frame_len
         FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
         LATERAL (SELECT unnest(generate_series(0,
           CAST(ceil(n / 64.0) AS BIGINT) - 1)) AS i)
         WHERE i % 2 = 0""",
    "q133_split" ->
      """WITH b AS (SELECT source, text,
           list_reduce(list_transform(
               string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 100 AS bucket
         FROM documents)
         SELECT source,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n,
           CAST(sum(CAST(length(text) AS DECIMAL(30,4))) AS DOUBLE)
             / count(*) AS avg_len
         FROM b GROUP BY 1, 2""",
    "q131_pii_scrub" ->
      """WITH w AS (SELECT doc_id,
           substr(text, 1, 40) || ' contact u' || doc_id ||
             '@example.com or 555-123-4567 at 10.0.0.' ||
             CAST(doc_id % 256 AS VARCHAR) AS t
         FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(t,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
           len(regexp_extract_all(t,
             '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS n_phone,
           regexp_replace(
             regexp_replace(
               regexp_replace(t,
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '[PHONE]', 'g') AS scrubbed
         FROM w""",
    "q126_repetition_clean" ->
      """WITH t AS (SELECT doc_id, text,
           string_split_regex(trim(text), '\s+') AS toks FROM documents),
         g AS (SELECT doc_id, text, toks,
           list_transform(range(len(toks) - 1),
             i -> toks[i+1] || ' ' || toks[i+2]) AS g2,
           list_transform(range(len(toks) - 2),
             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS g3
         FROM t),
         c AS (SELECT doc_id, g2, g3, len(toks) AS nt,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '<[^>]+>', ' ', 'g'),
                 'https?://[^ \t\n]+', ' ', 'g'),
               '[^ \t\n]+@[^ \t\n]+', ' ', 'g'),
             '\s+', ' ', 'g')) AS cleaned,
           len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS n_urls
         FROM g)
         SELECT doc_id,
           CASE WHEN nt >= 2 THEN
             1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END AS dup2,
           CASE WHEN nt >= 3 THEN
             1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END AS dup3,
           n_urls,
           length(cleaned) AS clean_len,
           substr(cleaned, 1, 60) AS clean60
         FROM c""",
    // representative-selection oracle: q142's recursive closure, then the
    // same (n_chars DESC, doc_id) ranking inside each family
    "q143_dedup_representatives" ->
      """WITH g0 AS (
           SELECT DISTINCT doc_id, md5(substr(text, p + 1, 40)) AS h
           FROM (SELECT doc_id, text,
                   unnest(generate_series(0, length(text) - 40, 10)) AS p
                 FROM documents WHERE length(text) >= 40)),
         d AS (SELECT h FROM g0 GROUP BY h
               HAVING count(*) >= 2 AND count(*) <= 1000),
         dup AS (SELECT g0.doc_id, g0.h FROM g0 JOIN d USING (h)),
         e AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
               FROM dup a JOIN dup b ON a.h = b.h AND a.doc_id <> b.doc_id),
         nodes AS (SELECT DISTINCT u AS id FROM e),
         reach AS (
           WITH RECURSIVE r(src, node) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT r.src, e.v FROM r JOIN e ON r.node = e.u)
           SELECT * FROM r),
         fam AS (SELECT node AS doc_id, min(src) AS cluster_id
                 FROM reach GROUP BY node),
         rk AS (SELECT f.cluster_id, f.doc_id, dd.n_chars,
                  row_number() OVER (PARTITION BY f.cluster_id
                    ORDER BY dd.n_chars DESC, f.doc_id) AS rn
                FROM fam f JOIN documents dd USING (doc_id))
         SELECT cluster_id, count(*) AS family_size,
           min(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
           min(CASE WHEN rn = 1 THEN n_chars END) AS keep_quality,
           count(*) - 1 AS dropped_docs
         FROM rk GROUP BY cluster_id""",
    // stratified-sampling oracle: identical md5-prefix bucket arithmetic
    "q144_stratified_sample" ->
      """WITH b AS (SELECT lang, source, n_chars,
           list_reduce(list_transform(
               string_split(substr(md5(CAST(doc_id AS VARCHAR) || '#strat'), 1, 6), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 10000 AS bucket
         FROM documents)
         SELECT lang, source, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM b
         WHERE bucket < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 5000
                                  WHEN 'zh' THEN 7500 ELSE 10000 END
         GROUP BY 1, 2""",
    // mixing oracle: same weights, same '#mix'-salted bucket, copies
    // replayed with generate_series
    "q145_source_mixing" ->
      """WITH w AS (SELECT doc_id, source,
           CASE source WHEN 'src0' THEN 25000 WHEN 'src1' THEN 5000
                       WHEN 'src2' THEN 0 WHEN 'src3' THEN 12500
                       ELSE 10000 END AS wbp,
           list_reduce(list_transform(
               string_split(substr(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 6), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 10000 AS bucket
         FROM documents),
         c AS (SELECT doc_id, source,
             wbp // 10000 +
               CASE WHEN bucket < wbp % 10000 THEN 1 ELSE 0 END AS copies
           FROM w),
         r AS (SELECT doc_id, source,
             unnest(generate_series(0, copies - 1)) AS copy
           FROM c WHERE copies > 0)
         SELECT source, copy, count(*) AS n,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM r GROUP BY 1, 2""",
    // packing oracle: the same token stream, cumsum'd by a plain window
    // (fine at oracle scale; the engine side uses the distributed scheme)
    "q146_seq_packing" ->
      """WITH t AS (SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
         FROM documents),
         c AS (SELECT doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS end_off
         FROM t)
         SELECT doc_id, n_tokens, end_off - n_tokens AS start_off, end_off,
           (end_off - n_tokens) // 1024 AS seq_first,
           CASE WHEN n_tokens > 0 THEN (end_off - 1) // 1024
                ELSE (end_off - n_tokens) // 1024 END AS seq_last,
           (end_off - n_tokens) % 1024 AS pos_in_seq
         FROM c""",
    // span-excision oracle: same windows, same island merge, complement
    // segments re-joined with an ordered string_agg
    "q156_span_excision" ->
      """WITH g AS (SELECT doc_id, p, md5(substr(text, p + 1, 40)) AS h
           FROM (SELECT doc_id, text,
               unnest(generate_series(0, length(text) - 40, 10)) AS p
             FROM documents WHERE length(text) >= 40)),
         d AS (SELECT h FROM g GROUP BY h
               HAVING count(DISTINCT doc_id) >= 2),
         dup AS (SELECT doc_id, p FROM g JOIN d USING (h)),
         mx AS (SELECT doc_id, p, max(p + 40) OVER (PARTITION BY doc_id
             ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS maxend
           FROM dup),
         isl AS (SELECT doc_id, p, sum(CASE WHEN maxend IS NULL OR
               p > maxend THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
             ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS island
           FROM mx),
         merged AS (SELECT doc_id, island, min(p) AS s, max(p) + 40 AS e
           FROM isl GROUP BY 1, 2),
         segs AS (
           SELECT doc_id, coalesce(lag(e) OVER (PARTITION BY doc_id
               ORDER BY s), 0) AS ks, s AS ke
           FROM merged
           UNION ALL
           SELECT m.doc_id, max(m.e), min(length(dd.text))
           FROM merged m JOIN documents dd ON m.doc_id = dd.doc_id
           GROUP BY m.doc_id),
         frags AS (SELECT s.doc_id, s.ks,
             substr(dd.text, s.ks + 1, s.ke - s.ks) AS frag
           FROM segs s JOIN documents dd ON s.doc_id = dd.doc_id
           WHERE s.ke > s.ks),
         cl AS (SELECT doc_id,
             string_agg(frag, '' ORDER BY ks) AS cleaned
           FROM frags GROUP BY doc_id)
         SELECT m.doc_id, count(*) AS n_spans,
           CAST(sum(e - s) AS BIGINT) AS chars_cut,
           length(coalesce(any_value(cl.cleaned), '')) AS clean_len,
           md5(coalesce(any_value(cl.cleaned), '')) AS clean_md5
         FROM merged m LEFT JOIN cl ON m.doc_id = cl.doc_id
         GROUP BY m.doc_id""",
    // perplexity oracle: same counts, same smoothing, same round-8 libm
    // terms, same decimal accumulation
    "q154_lm_perplexity" ->
      """WITH t AS (SELECT doc_id,
           string_split_regex(trim(lower(text)), '\s+') AS toks
         FROM documents),
         bi AS (SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
           SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
             i -> {'w1': toks[i+1], 'w2': toks[i+2]})) AS bg FROM t)),
         b12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
         b1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
         vv AS (SELECT count(*) AS v FROM b1)
         SELECT doc_id, count(*) AS n_bigrams,
           round(CAST(sum(CAST(round(
             ln((c1 + 0.5 * v) / (c12 + 0.5)) / ln(2), 8)
             AS DECIMAL(30,8))) AS DOUBLE) / count(*), 6) AS avg_nll
         FROM bi JOIN b12 USING (w1, w2) JOIN b1 USING (w1) CROSS JOIN vv
         GROUP BY doc_id""",
    // tf-idf oracle: identical tf/df/idf arithmetic and tie-break
    "q155_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
         FROM documents),
         dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
         tf AS (SELECT doc_id, term, count(*) AS tc FROM tok GROUP BY 1, 2),
         nn AS (SELECT count(*) AS n FROM dl),
         idf AS (SELECT term,
             round(ln(CAST(n AS DOUBLE) / count(DISTINCT doc_id)), 8) AS idf
           FROM tok CROSS JOIN nn GROUP BY term, n),
         sc AS (SELECT tf.doc_id, tf.term,
             round(tf.tc / dl.len * idf.idf, 6) AS score
           FROM tf JOIN dl USING (doc_id) JOIN idf USING (term))
         SELECT doc_id, rk, term, score FROM (
           SELECT doc_id, term, score, row_number() OVER (
             PARTITION BY doc_id ORDER BY score DESC, term) AS rk
           FROM sc) WHERE rk <= 3""",
    // padded-packing oracle: the greedy fill recurrence as a recursive
    // CTE stepping row-by-row inside each shard
    "q151_padded_packing" ->
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
           least(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT),
                 256) AS eff
         FROM documents),
         o AS (SELECT doc_id, shard, eff,
           row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
         FROM t),
         rec AS (
           WITH RECURSIVE r(shard, rn, doc_id, eff, seq, pos, endpos) AS (
             SELECT shard, rn, doc_id, eff, CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), eff
             FROM o WHERE rn = 1
             UNION ALL
             SELECT o.shard, o.rn, o.doc_id, o.eff,
               CASE WHEN r.endpos + o.eff > 256 THEN r.seq + 1 ELSE r.seq END,
               CASE WHEN r.endpos + o.eff > 256 THEN 0 ELSE r.endpos END,
               CASE WHEN r.endpos + o.eff > 256 THEN o.eff
                    ELSE r.endpos + o.eff END
             FROM r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1)
           SELECT * FROM r)
         SELECT doc_id, shard, eff, seq, pos FROM rec""",
    // cube oracle: DuckDB CUBE over the same token expression (NULL marks
    // the rolled-up level on both sides)
    "q161_corpus_cube" ->
      """SELECT lang, source, count(*) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\s+')))
             AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
         FROM documents
         GROUP BY CUBE (lang, source)""",
    // exact-sample oracle: the rank semantics stated directly
    "q150_exact_sample" ->
      """SELECT lang, doc_id, rn AS rank FROM (
           SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR) || '#exact'), doc_id) AS rn
           FROM documents) WHERE rn <= 20""",
    // SemDeDup oracle: normalize, one Lloyd round, final assign, then the
    // within-cluster lower-id prune — every fold index-ordered like Spark's
    "q148_semdedup" ->
      """WITH all0 AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000,
             list_transform(embedding, x -> CAST(x AS DOUBLE) * 2)
           FROM embeddings),
         nv AS (SELECT vec_id,
             list_transform(e, x -> x / sqrt(list_reduce(
               list_transform(e, y -> y * y), (a, b) -> a + b))) AS v
           FROM all0),
         c0 AS (SELECT vec_id AS cid, v AS c FROM nv WHERE vec_id < 4),
         d1 AS (SELECT nv.vec_id, c0.cid,
             list_reduce(list_transform(generate_series(1, 64),
               i -> (nv.v[i] - c0.c[i]) * (nv.v[i] - c0.c[i])),
               (x, y) -> x + y) AS d
           FROM nv CROSS JOIN c0),
         a1 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
             FROM d1) WHERE rk = 1),
         s1 AS (SELECT a1.cid, t.i AS pos,
             sum(CAST(nv.v[t.i] AS DECIMAL(30,12))) AS s, count(*) AS n
           FROM a1 JOIN nv USING (vec_id)
           CROSS JOIN generate_series(1, 64) t(i)
           GROUP BY 1, 2),
         c1 AS (SELECT c0.cid, coalesce(m.c, c0.c) AS c
           FROM c0 LEFT JOIN (SELECT cid,
               list(CAST(s AS DOUBLE) / n ORDER BY pos) AS c
             FROM s1 GROUP BY cid) m USING (cid)),
         d2 AS (SELECT nv.vec_id, c1.cid,
             list_reduce(list_transform(generate_series(1, 64),
               i -> (nv.v[i] - c1.c[i]) * (nv.v[i] - c1.c[i])),
               (x, y) -> x + y) AS d
           FROM nv CROSS JOIN c1),
         a2 AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
             FROM d2) WHERE rk = 1),
         prs AS (SELECT b.vec_id, b.cluster,
             list_reduce(list_transform(generate_series(1, 64),
               i -> va.v[i] * vb.v[i]), (x, y) -> x + y) AS cos
           FROM a2 a JOIN a2 b
             ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           JOIN nv va ON va.vec_id = a.vec_id
           JOIN nv vb ON vb.vec_id = b.vec_id)
         SELECT vec_id, cluster, round(max(cos), 6) + 0.0 AS max_cos
         FROM prs WHERE cos >= 0.95 GROUP BY 1, 2""",
    // quality-filter oracle: q56/q126's signal fragments + the same
    // thresholds
    "q149_quality_filter" ->
      """WITH t AS (SELECT doc_id, text,
           string_split_regex(trim(text), '\s+') AS toks FROM documents),
         m AS (SELECT doc_id, len(toks) AS nt,
           CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
             / len(toks) AS mtl,
           CAST(len(regexp_extract_all(lower(text),
             '\b(the|a|of|and|to)\b')) AS DOUBLE) / len(toks) AS sr,
           CASE WHEN len(toks) >= 2 THEN
             1.0 - CAST(len(list_distinct(list_transform(
               range(len(toks) - 1),
               i -> toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE)
               / (len(toks) - 1)
           ELSE 0.0 END AS dup2
         FROM t)
         SELECT doc_id,
           nt >= 30 AND nt <= 5000 AS ok_len,
           mtl >= 3.8 AND mtl <= 5.1 AS ok_tok_len,
           sr >= 0.02 AS ok_stopwords,
           dup2 <= 0.15 AS ok_repetition,
           nt >= 30 AND nt <= 5000 AND mtl >= 3.8 AND mtl <= 5.1
             AND sr >= 0.02 AND dup2 <= 0.15 AS keep
         FROM m""",
    // k-means oracle: both Lloyd iterations replayed in SQL — same seeds
    // (vec_id < 4), same index-ordered distance folds, same decimal sums
    // and cast-to-double means, same (d, cid) tie-break
    "q147_kmeans" ->
      s"""WITH $kmeansD3Sql
         SELECT vec_id, cid AS cluster, round(d, 6) AS d2 FROM (
           SELECT vec_id, cid, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
           FROM d3) WHERE rk = 1""",

    // silhouette replay: the identical 2-iteration centroid replay, own
    // + nearest-other distances per point, the same 8-dp score
    "q364_silhouette" ->
      s"""WITH $kmeansD3Sql,
         r AS (SELECT vec_id, cid, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
           FROM d3),
         ab AS (SELECT a.cid AS cluster, a.d AS a2, b.d AS b2
           FROM r a JOIN r b
           ON a.vec_id = b.vec_id AND a.rk = 1 AND b.rk = 2),
         s AS (SELECT cluster,
             CASE WHEN greatest(a2, b2) = 0 THEN 0.0
                  ELSE round((sqrt(b2) - sqrt(a2))
                       / sqrt(greatest(a2, b2)), 8) END AS sil
           FROM ab)
         SELECT cluster, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(sil AS DECIMAL(30,8))) AS DOUBLE)
             / count(*), 6) AS mean_silhouette
         FROM s GROUP BY 1""",

    // covariance replay: float products are exact doubles (24+24 < 53
    // mantissa bits), summed on the DECIMAL(30,12) grid in both engines,
    // then the identical final double expression
    "q239_pca_covariance" ->
      """WITH x AS (SELECT embedding AS v FROM embeddings),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM x),
         idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         m2 AS (SELECT p.i, p.j,
             sum(CAST(CAST(x.v[p.i] AS DOUBLE) * CAST(x.v[p.j] AS DOUBLE)
               AS DECIMAL(30,12))) AS s2
           FROM x, (SELECT a.i AS i, b.i AS j FROM idx a, idx b
                    WHERE b.i >= a.i) p
           GROUP BY 1, 2),
         s1 AS (SELECT i, sum(CAST(CAST(x.v[i] AS DOUBLE)
               AS DECIMAL(30,12))) AS s1
           FROM x, idx GROUP BY 1)
         SELECT m2.i - 1 AS i, m2.j - 1 AS j,
           round((CAST(m2.s2 AS DOUBLE)
               - CAST(sa.s1 AS DOUBLE) * CAST(sb.s1 AS DOUBLE) / nn.n)
             / (nn.n - 1), 6) + 0.0 AS cov
         FROM m2 JOIN s1 sa ON sa.i = m2.i
           JOIN s1 sb ON sb.i = m2.j, nn""",
    // PSI replay: identical fixed-grid binning, Laplace-smoothed ratios
    // as explicit DOUBLE arithmetic (DuckDB decimal literals would change
    // the division), 12-dp term grid summed in decimal
    "q240_drift_psi" ->
      """WITH c AS (
           SELECT event_type,
             CAST(least(greatest(floor(value / 50.0), 0), 9) AS INT) AS bin,
             (ts < TIMESTAMP '2024-01-16') AS ref, count(*) AS n
           FROM events GROUP BY 1, 2, 3),
         grid AS (SELECT DISTINCT event_type, b.bin
           FROM c, (SELECT unnest(generate_series(0, 9)) AS bin) b),
         wide AS (SELECT g.event_type, g.bin,
             coalesce(r.n, 0) AS nr, coalesce(u.n, 0) AS nc
           FROM grid g
           LEFT JOIN c r ON r.event_type = g.event_type
             AND r.bin = g.bin AND r.ref
           LEFT JOIN c u ON u.event_type = g.event_type
             AND u.bin = g.bin AND NOT u.ref),
         tot AS (SELECT event_type, sum(nr) AS tr, sum(nc) AS tc
           FROM wide GROUP BY 1),
         t AS (SELECT w.event_type, t.tr, t.tc,
             (CAST(w.nr AS DOUBLE) + CAST(0.5 AS DOUBLE))
               / (CAST(t.tr AS DOUBLE) + CAST(5.0 AS DOUBLE)) AS pr,
             (CAST(w.nc AS DOUBLE) + CAST(0.5 AS DOUBLE))
               / (CAST(t.tc AS DOUBLE) + CAST(5.0 AS DOUBLE)) AS pc
           FROM wide w JOIN tot t ON w.event_type = t.event_type)
         SELECT event_type, CAST(max(tr) AS BIGINT) AS n_ref,
           CAST(max(tc) AS BIGINT) AS n_cur,
           round(CAST(sum(CAST(round((pc - pr) * ln(pc / pr), 12)
             AS DECIMAL(30,12))) AS DOUBLE), 6) AS psi
         FROM t GROUP BY 1""",
    // PQ/ADC replay: codebook = sub-slices of vec_id<8; assignment is the
    // same strict-< argmin (ORDER BY d ASC, c ASC); every fold is the
    // kernel's left-to-right index order; scores fuse in sub-space order
    "q242_pq_adc" ->
      """WITH corp AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings),
         cb AS (SELECT vec_id AS c, v FROM corp WHERE vec_id < 8),
         sub AS (SELECT unnest(generate_series(0, 3)) AS j),
         dists AS (
           SELECT corp.vec_id, sub.j, cb.c,
             list_reduce(list_transform(generate_series(1, 16),
               i -> (corp.v[sub.j * 16 + i] - cb.v[sub.j * 16 + i])
                    * (corp.v[sub.j * 16 + i] - cb.v[sub.j * 16 + i])),
               (x, y) -> x + y) AS d
           FROM corp CROSS JOIN sub CROSS JOIN cb),
         codes AS (
           SELECT vec_id, j, c AS code FROM (
             SELECT vec_id, j, c, row_number() OVER (
               PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rk
             FROM dists) WHERE rk = 1),
         tabs AS (
           SELECT p.vec_id AS probe_id, sub.j, cb.c,
             list_reduce(list_transform(generate_series(1, 16),
               i -> p.v[sub.j * 16 + i] * cb.v[sub.j * 16 + i]),
               (x, y) -> x + y) AS t
           FROM corp p CROSS JOIN sub CROSS JOIN cb WHERE p.vec_id < 5),
         scores AS (
           SELECT tb.probe_id, co.vec_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(tb.t ORDER BY tb.j)), (x, y) -> x + y) AS score
           FROM codes co JOIN tabs tb ON tb.j = co.j AND tb.c = co.code
           GROUP BY 1, 2)
         SELECT probe_id, rk, vec_id, score FROM (
           SELECT probe_id, vec_id, score, row_number() OVER (
             PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rk
           FROM scores) WHERE rk <= 3""",
    // BM25 replay: idf's ln rounded to 8 dp at birth, per-term
    // contributions pivoted and added in fixed query order, score rounded
    // to 6 dp before the ranking — the engine's exact arithmetic
    "q243_bm25" ->
      """WITH tok AS (SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
         FROM documents),
         dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         st AS (SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dlen),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE term IN ('spark', 'window', 'merge') GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         contrib AS (SELECT tf.doc_id, tf.term,
             (round(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0), 8)
                * (tf * (1.2 + 1.0)))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl))) AS c
           FROM tf JOIN df USING (term) JOIN dlen USING (doc_id)
           CROSS JOIN st),
         agg AS (SELECT doc_id,
             max(CASE WHEN term = 'spark' THEN c END) AS t0,
             max(CASE WHEN term = 'window' THEN c END) AS t1,
             max(CASE WHEN term = 'merge' THEN c END) AS t2
           FROM contrib GROUP BY 1),
         sc AS (SELECT doc_id, round(COALESCE(t0, 0.0) + COALESCE(t1, 0.0)
             + COALESCE(t2, 0.0), 6) AS score FROM agg)
         SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
             AS rk, score
         FROM sc ORDER BY score DESC, doc_id LIMIT 10""",
    // RRF replay: the q243 CTEs at k=20 + the q54 cosine CTEs for probe 0
    // at k=20, fused by 1/(60+rank) with full-outer semantics
    "q244_hybrid_rrf" ->
      """WITH tok AS (SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
         FROM documents),
         dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         st AS (SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dlen),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE term IN ('spark', 'window', 'merge') GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         contrib AS (SELECT tf.doc_id, tf.term,
             (round(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0), 8)
                * (tf * (1.2 + 1.0)))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl))) AS c
           FROM tf JOIN df USING (term) JOIN dlen USING (doc_id)
           CROSS JOIN st),
         agg AS (SELECT doc_id,
             max(CASE WHEN term = 'spark' THEN c END) AS t0,
             max(CASE WHEN term = 'window' THEN c END) AS t1,
             max(CASE WHEN term = 'merge' THEN c END) AS t2
           FROM contrib GROUP BY 1),
         sc AS (SELECT doc_id, round(COALESCE(t0, 0.0) + COALESCE(t1, 0.0)
             + COALESCE(t2, 0.0), 6) AS score FROM agg),
         lex AS (SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rk
           FROM sc ORDER BY score DESC, doc_id LIMIT 20),
         norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         dots AS (
           SELECT c.vec_id,
             list_reduce(list_transform(
               generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id = 0) p),
         dense AS (SELECT vec_id AS doc_id, rk FROM (
             SELECT d.vec_id, row_number() OVER (
               ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id) AS rk
             FROM dots d JOIN norms nc ON d.vec_id = nc.vec_id
             JOIN norms np ON np.vec_id = 0)
           WHERE rk <= 20),
         fused AS (SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id,
             COALESCE(1.0 / (60.0 + l.rk), 0.0)
               + COALESCE(1.0 / (60.0 + de.rk), 0.0) AS rrf
           FROM lex l FULL OUTER JOIN dense de ON l.doc_id = de.doc_id)
         SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id)
             AS rk, rrf
         FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""",
    // segment-dedup replay: q199's window arithmetic at overlap 0, global
    // first occurrence by (doc_id, chunk_id) over the md5 segment key,
    // survivors re-joined in position order
    "q245_segment_dedup" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         n AS (
           SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         c AS (
           SELECT doc_id, toks, n,
             unnest(generate_series(0,
               CASE WHEN n <= 16 THEN 0 ELSE (n - 1) // 16 END)) AS chunk_id
           FROM n),
         seg AS (
           SELECT doc_id, chunk_id,
             array_to_string(list_slice(toks,
               chunk_id * 16 + 1, chunk_id * 16 + 16), ' ') AS seg_text
           FROM c),
         k AS (
           SELECT doc_id, chunk_id, seg_text,
             row_number() OVER (PARTITION BY md5(seg_text)
               ORDER BY doc_id, chunk_id) AS rk
           FROM seg)
         SELECT doc_id,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           string_agg(seg_text, ' ' ORDER BY chunk_id)
             FILTER (WHERE rk = 1) AS text_kept
         FROM k GROUP BY doc_id
         HAVING CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) > 0""",
    // IVF+PQ replay: q215's assignment + residual CTEs, q242's PQ
    // encode/ADC on the residuals (codebook = residuals of vec_id<8 in id
    // order), score = centroid dot + fixed-order table-lookup fold
    "q246_ivf_pq" ->
      """WITH norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         cdots AS (
           SELECT v.vec_id, c.vec_id AS cell_id,
             list_reduce(list_transform(
               generate_series(1, len(v.embedding)),
               i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings v
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) c),
         assign AS (
           SELECT vec_id, cell_id FROM (
             SELECT d.vec_id, d.cell_id,
               row_number() OVER (PARTITION BY d.vec_id
                 ORDER BY d.dt / (nv.nrm * nc.nrm) DESC, d.cell_id) AS rk
             FROM cdots d JOIN norms nv ON d.vec_id = nv.vec_id
             JOIN norms nc ON d.cell_id = nc.vec_id)
           WHERE rk = 1),
         res AS (
           SELECT a.vec_id, a.cell_id,
             list_transform(generate_series(1, len(v.embedding)),
               i -> CAST(v.embedding[i] AS DOUBLE)
                    - CAST(c.embedding[i] AS DOUBLE)) AS r
           FROM assign a JOIN embeddings v ON v.vec_id = a.vec_id
           JOIN embeddings c ON c.vec_id = a.cell_id),
         cb AS (SELECT vec_id AS cid, r FROM res WHERE vec_id < 8),
         sub AS (SELECT unnest(generate_series(0, 3)) AS j),
         dists AS (
           SELECT res.vec_id, sub.j, cb.cid AS c,
             list_reduce(list_transform(generate_series(1, 16),
               i -> (res.r[sub.j * 16 + i] - cb.r[sub.j * 16 + i])
                    * (res.r[sub.j * 16 + i] - cb.r[sub.j * 16 + i])),
               (x, y) -> x + y) AS d
           FROM res CROSS JOIN sub CROSS JOIN cb),
         codes AS (
           SELECT vec_id, j, c AS code FROM (
             SELECT vec_id, j, c, row_number() OVER (
               PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rk
             FROM dists) WHERE rk = 1),
         pr AS (
           SELECT a.vec_id AS probe_id, a.cell_id,
             list_transform(generate_series(1, len(v.embedding)),
               i -> CAST(v.embedding[i] AS DOUBLE)) AS pv
           FROM assign a JOIN embeddings v ON v.vec_id = a.vec_id
           WHERE a.vec_id < 5),
         cterm AS (
           SELECT p.probe_id,
             list_reduce(list_transform(generate_series(1, len(p.pv)),
               i -> p.pv[i] * CAST(c.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS ct
           FROM pr p JOIN embeddings c ON c.vec_id = p.cell_id),
         tabs AS (
           SELECT p.probe_id, sub.j, cb.cid AS c,
             list_reduce(list_transform(generate_series(1, 16),
               i -> p.pv[sub.j * 16 + i] * cb.r[sub.j * 16 + i]),
               (x, y) -> x + y) AS t
           FROM pr p CROSS JOIN sub CROSS JOIN cb),
         scores AS (
           SELECT p.probe_id, a.vec_id,
             any_value(ct.ct) + list_reduce(list_prepend(
               CAST(0.0 AS DOUBLE), list(tb.t ORDER BY tb.j)),
               (x, y) -> x + y) AS score
           FROM pr p
           JOIN assign a ON a.cell_id = p.cell_id
           JOIN codes co ON co.vec_id = a.vec_id
           JOIN tabs tb ON tb.probe_id = p.probe_id AND tb.j = co.j
             AND tb.c = co.code
           JOIN cterm ct ON ct.probe_id = p.probe_id
           GROUP BY 1, 2)
         SELECT probe_id, rk, vec_id, score FROM (
           SELECT probe_id, vec_id, score, row_number() OVER (
             PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rk
           FROM scores) WHERE rk <= 3""",
    // MMR replay: q54's cosine CTEs for the candidate stage (rk 2..9),
    // pairwise candidate sims with the same fold, then a recursive CTE
    // that re-picks greedily — each iteration carries the picked list and
    // selects the per-probe argmax of 0.5*rel - 0.5*max(sim to picked),
    // ties to the lowest vec_id (identical IEEE arithmetic to the engine)
    "q248_mmr_rerank" ->
      """WITH RECURSIVE norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         dots AS (
           SELECT p.vec_id AS probe_id, c.vec_id,
             list_reduce(list_transform(generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) p),
         cand AS (
           SELECT probe_id, vec_id, rel FROM (
             SELECT d.probe_id, d.vec_id, d.dt / (nc.nrm * np.nrm) AS rel,
               row_number() OVER (PARTITION BY d.probe_id
                 ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id) AS rk
             FROM dots d JOIN norms nc ON d.vec_id = nc.vec_id
             JOIN norms np ON np.vec_id = d.probe_id)
           WHERE rk <= 9 AND vec_id <> probe_id),
         pairsim AS (
           SELECT a.probe_id, a.vec_id AS a, b.vec_id AS b,
             list_reduce(list_transform(generate_series(1, len(va.embedding)),
               i -> CAST(va.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) / (na.nrm * nb.nrm) AS sim
           FROM cand a JOIN cand b ON a.probe_id = b.probe_id
           JOIN embeddings va ON va.vec_id = a.vec_id
           JOIN embeddings vb ON vb.vec_id = b.vec_id
           JOIN norms na ON na.vec_id = a.vec_id
           JOIN norms nb ON nb.vec_id = b.vec_id),
         sel AS (
           SELECT probe_id, 1 AS step, [vec_id] AS picked,
             0.5 * rel - 0.5 * 0.0 AS score
           FROM (SELECT probe_id, vec_id, rel, row_number() OVER (
               PARTITION BY probe_id
               ORDER BY 0.5 * rel - 0.5 * 0.0 DESC, vec_id) AS rn
             FROM cand) WHERE rn = 1
           UNION ALL
           SELECT probe_id, step, picked, score FROM (
             SELECT q.probe_id, q.step, list_append(q.picked, q.vec_id)
                 AS picked,
               q.score, row_number() OVER (PARTITION BY q.probe_id
                 ORDER BY q.score DESC, q.vec_id) AS rn
             FROM (
               SELECT r.probe_id, r.step + 1 AS step, r.picked, c.vec_id,
                 0.5 * c.rel - 0.5 * (SELECT max(ps.sim) FROM pairsim ps
                   WHERE ps.probe_id = r.probe_id AND ps.a = c.vec_id
                     AND list_contains(r.picked, ps.b)) AS score
               FROM sel r JOIN cand c ON c.probe_id = r.probe_id
                 AND NOT list_contains(r.picked, c.vec_id)
               WHERE r.step < 4) q) WHERE rn = 1)
         SELECT probe_id, step AS rk, picked[len(picked)] AS vec_id,
           score AS mmr
         FROM sel""",
    // token-budget replay: per-source token totals, exact BIGINT
    // floor-div epochs-in-bp, then the q145 copies law on the #mixtok salt
    "q249_token_budget_mix" ->
      """WITH t AS (SELECT doc_id, source,
           len(string_split_regex(trim(text), '\s+')) AS ntok,
           CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 3000
                       WHEN 'src3' THEN 2000 ELSE 0 END AS sbp,
           list_reduce(list_transform(
               string_split(substr(md5(CAST(doc_id AS VARCHAR) || '#mixtok'), 1, 6), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 10000 AS bucket
         FROM documents),
         tot AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS tok
           FROM t GROUP BY 1),
         e AS (SELECT t.*,
             (CAST(sbp AS BIGINT) * 50000) // tok AS ebp
           FROM t JOIN tot USING (source)),
         c AS (SELECT doc_id, source, ntok,
             ebp // 10000 +
               CASE WHEN bucket < ebp % 10000 THEN 1 ELSE 0 END AS copies
           FROM e),
         r AS (SELECT doc_id, source, ntok,
             unnest(generate_series(0, copies - 1)) AS copy
           FROM c WHERE copies > 0)
         SELECT source, copy, count(*) AS n,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(ntok) AS BIGINT) AS sum_toks
         FROM r GROUP BY 1, 2""",
    // incremental-dedup replay: q50's content key, batch keeper election,
    // anti-join against the existing-corpus key set
    "q252_incremental_dedup" ->
      """WITH ex AS (
           SELECT DISTINCT
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS k
           FROM documents WHERE source IN ('src0', 'src1')),
         inc AS (
           SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS k
           FROM documents WHERE source IN ('src2', 'src3')),
         f AS (SELECT k AS content_key, min(doc_id) AS keep_id,
             count(*) AS n_batch_dups
           FROM inc GROUP BY 1)
         SELECT content_key, keep_id, n_batch_dups FROM f
         WHERE content_key NOT IN (SELECT k FROM ex)""",
    // convex replay: the q244 lexical/dense CTEs carrying SCORES, each
    // side min-max normalized against its own 20-row list (constant list
    // -> 1.0), fused 0.5/0.5 with full-outer missing-side-0 semantics
    "q253_hybrid_convex" ->
      """WITH tok AS (SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
         FROM documents),
         dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         st AS (SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dlen),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE term IN ('spark', 'window', 'merge') GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         contrib AS (SELECT tf.doc_id, tf.term,
             (round(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0), 8)
                * (tf * (1.2 + 1.0)))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl))) AS c
           FROM tf JOIN df USING (term) JOIN dlen USING (doc_id)
           CROSS JOIN st),
         agg AS (SELECT doc_id,
             max(CASE WHEN term = 'spark' THEN c END) AS t0,
             max(CASE WHEN term = 'window' THEN c END) AS t1,
             max(CASE WHEN term = 'merge' THEN c END) AS t2
           FROM contrib GROUP BY 1),
         sc AS (SELECT doc_id, round(COALESCE(t0, 0.0) + COALESCE(t1, 0.0)
             + COALESCE(t2, 0.0), 6) AS score FROM agg),
         lex AS (SELECT doc_id, score
           FROM sc ORDER BY score DESC, doc_id LIMIT 20),
         norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         dots AS (
           SELECT c.vec_id,
             list_reduce(list_transform(
               generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id = 0) p),
         dense AS (SELECT vec_id AS doc_id, score FROM (
             SELECT d.vec_id, d.dt / (nc.nrm * np.nrm) AS score,
               row_number() OVER (
                 ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id) AS rk
             FROM dots d JOIN norms nc ON d.vec_id = nc.vec_id
             JOIN norms np ON np.vec_id = 0)
           WHERE rk <= 20),
         lstat AS (SELECT min(score) AS mn, max(score) AS mx FROM lex),
         dstat AS (SELECT min(score) AS mn, max(score) AS mx FROM dense),
         ln2 AS (SELECT doc_id, CASE WHEN mx = mn THEN 1.0
             ELSE (score - mn) / (mx - mn) END AS na
           FROM lex CROSS JOIN lstat),
         dn2 AS (SELECT doc_id, CASE WHEN mx = mn THEN 1.0
             ELSE (score - mn) / (mx - mn) END AS nb
           FROM dense CROSS JOIN dstat),
         fused AS (SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             0.5 * COALESCE(l.na, 0.0) + 0.5 * COALESCE(d.nb, 0.0) AS fused
           FROM ln2 l FULL OUTER JOIN dn2 d ON l.doc_id = d.doc_id)
         SELECT doc_id, row_number() OVER (ORDER BY fused DESC, doc_id)
             AS rk, fused
         FROM fused ORDER BY fused DESC, doc_id LIMIT 10""",
    // entropy replay: identical 8-dp-rounded c*log2(c) terms on the
    // decimal grid, then the same final-double expression
    "q259_word_entropy" ->
      """WITH counts AS (
           SELECT doc_id, w, count(*) AS c FROM (
             SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             FROM documents) GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           floor((round(log2(sum(c)), 8) -
             CAST(sum(CAST(round(c * log2(c), 8) AS DECIMAL(30,8)))
               AS DOUBLE) / sum(c)) * 1e6 + 0.5) / 1e6 AS entropy_bits
         FROM counts GROUP BY doc_id""",
    // power-of-two bucket replay: pow(2, ceil(log2 n)) is IEEE-exact for
    // every n here, so both engines agree on the bucket key
    "q260_length_buckets" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents),
         b AS (SELECT doc_id, n_tokens,
             CAST(power(2, ceil(log2(n_tokens))) AS BIGINT) AS bucket
           FROM t WHERE n_tokens > 0)
         SELECT bucket, count(*) AS n_docs,
           (count(*) + 31) // 32 AS n_batches,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           count(*) * bucket AS padded_slots,
           CAST(count(*) * bucket - sum(n_tokens) AS BIGINT) AS waste_tokens
         FROM b GROUP BY bucket""",
    // vocabulary-Jaccard replay: the pair join runs on distinct
    // (source, word); ppm by exact integer floor division
    "q261_vocab_overlap" ->
      """WITH v AS (SELECT DISTINCT source AS s,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           FROM documents),
         sz AS (SELECT s, count(*) AS n FROM v GROUP BY 1),
         inter AS (SELECT a.s AS src_a, b.s AS src_b, count(*) AS n_inter
           FROM v a JOIN v b ON a.w = b.w AND a.s < b.s GROUP BY 1, 2)
         SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_inter,
           (n_inter * 1000000) // (sa.n + sb.n - n_inter) AS jaccard_ppm
         FROM inter JOIN sz sa ON sa.s = src_a JOIN sz sb ON sb.s = src_b""",
    // classifier-eval replay: q219's GD chain verbatim feeds the
    // confusion counts; every stat is an integer ratio in ppm
    "q281_classifier_eval" ->
      s"""WITH base AS (SELECT * FROM ($q219Sql) __b),
         pr AS (SELECT CAST(y AS VARCHAR) AS t, CAST(pred AS VARCHAR) AS p
           FROM base),
         cls AS (SELECT DISTINCT t AS c FROM pr
           UNION SELECT DISTINCT p FROM pr),
         tpc AS (SELECT t AS c, count(*) AS tp FROM pr WHERE t = p
           GROUP BY 1),
         npc AS (SELECT p AS c, count(*) AS np FROM pr GROUP BY 1),
         ntc AS (SELECT t AS c, count(*) AS nt FROM pr GROUP BY 1),
         cm AS (SELECT cls.c,
             CAST(coalesce(tp, 0) AS BIGINT) AS tp,
             CAST(coalesce(np, 0) - coalesce(tp, 0) AS BIGINT) AS fp,
             CAST(coalesce(nt, 0) - coalesce(tp, 0) AS BIGINT) AS fn
           FROM cls LEFT JOIN tpc USING (c) LEFT JOIN npc USING (c)
           LEFT JOIN ntc USING (c))
         SELECT c, tp, fp, fn,
           CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) END
             AS precision_ppm,
           CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) END
             AS recall_ppm,
           CASE WHEN 2 * tp + fp + fn > 0
             THEN 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_ppm
         FROM cm""",
    // also-bought replay: same presence sets, same exact-ppb lift and
    // (lift, co, id) tie-break
    "q275_also_bought" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
           FROM lineitem WHERE l_orderkey % 10 = 0),
         cnt AS (SELECT i, count(*) AS n FROM bi GROUP BY 1),
         nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nbk FROM bi),
         co AS (SELECT a.i AS item, c.i AS rec_item, count(*) AS n_co
           FROM bi a JOIN bi c ON a.b = c.b AND a.i != c.i GROUP BY 1, 2),
         sc AS (SELECT co.item, co.rec_item, co.n_co,
             CAST((CAST(co.n_co AS HUGEINT) * nb.nbk * 1000000000)
               // (CAST(ca.n AS HUGEINT) * cb.n) AS BIGINT) AS lift_ppb
           FROM co JOIN cnt ca ON ca.i = co.item
           JOIN cnt cb ON cb.i = co.rec_item CROSS JOIN nb),
         rk AS (SELECT *, row_number() OVER (PARTITION BY item
             ORDER BY lift_ppb DESC, n_co DESC, rec_item) AS rk FROM sc)
         SELECT item, rec_item, n_co, lift_ppb, rk FROM rk WHERE rk <= 3""",
    // MRR replay: q54b's signature + bucket join (self excluded, ranks
    // cut at 10), brute-force non-self truth, LEFT-joined reciprocal
    // ranks on the ppm grid
    "q330_mrr" ->
      s"""WITH sigs AS (
           SELECT e2.vec_id, e2.embedding,
             sum(CASE WHEN list_reduce(list_transform(
                 generate_series(1, 64),
                 i -> CAST(e2.embedding[i] AS DOUBLE) * ($rhpSignsSql)[g.p + 1][i]),
                 (x, y) -> x + y) >= 0
               THEN (CAST(1 AS BIGINT) << g.p) ELSE 0 END) AS sig
           FROM embeddings e2, (SELECT unnest(generate_series(0, 7)) AS p) g
           GROUP BY 1, 2),
         norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         dots AS (
           SELECT p.vec_id AS probe_id, c.vec_id,
             list_reduce(list_transform(generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 50) p
           WHERE c.vec_id <> p.vec_id),
         truth AS (
           SELECT probe_id, vec_id AS true_id FROM (
             SELECT d.probe_id, d.vec_id,
               row_number() OVER (PARTITION BY d.probe_id
                 ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id) AS rk
             FROM dots d JOIN norms nc ON d.vec_id = nc.vec_id
             JOIN norms np ON d.probe_id = np.vec_id)
           WHERE rk = 1),
         cand AS (
           SELECT p.vec_id AS probe_id, c.vec_id,
             list_reduce(list_transform(generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM sigs c JOIN (SELECT * FROM sigs WHERE vec_id < 50) p
           ON c.sig = p.sig
           WHERE c.vec_id <> p.vec_id),
         lsh AS (
           SELECT probe_id, vec_id, arank FROM (
             SELECT d.probe_id, d.vec_id,
               CAST(row_number() OVER (PARTITION BY d.probe_id
                 ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id)
                 AS BIGINT) AS arank
             FROM cand d JOIN norms nc ON d.vec_id = nc.vec_id
             JOIN norms np ON d.probe_id = np.vec_id)
           WHERE arank <= 10)
         SELECT count(*) AS n_probes,
           CAST(sum(CASE WHEN l.arank IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_found,
           CAST(sum(COALESCE(1000000 // l.arank, 0)) AS BIGINT)
             // count(*) AS mrr_ppm
         FROM truth t LEFT JOIN lsh l
         ON l.probe_id = t.probe_id AND l.vec_id = t.true_id""",
    // MAP replay: q330's sigs/norms machinery, top-3 non-self truth,
    // precision@hit-rank sums on the ppm grid
    "q351_map_at_k" ->
      s"""WITH sigs AS (
           SELECT e2.vec_id, e2.embedding,
             sum(CASE WHEN list_reduce(list_transform(
                 generate_series(1, 64),
                 i -> CAST(e2.embedding[i] AS DOUBLE) * ($rhpSignsSql)[g.p + 1][i]),
                 (x, y) -> x + y) >= 0
               THEN (CAST(1 AS BIGINT) << g.p) ELSE 0 END) AS sig
           FROM embeddings e2, (SELECT unnest(generate_series(0, 7)) AS p) g
           GROUP BY 1, 2),
         norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         dots AS (
           SELECT p.vec_id AS probe_id, c.vec_id,
             list_reduce(list_transform(generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 50) p
           WHERE c.vec_id <> p.vec_id),
         truth AS (
           SELECT probe_id, vec_id AS rel_id FROM (
             SELECT d.probe_id, d.vec_id,
               row_number() OVER (PARTITION BY d.probe_id
                 ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id) AS trk
             FROM dots d JOIN norms nc ON d.vec_id = nc.vec_id
             JOIN norms np ON d.probe_id = np.vec_id)
           WHERE trk <= 3),
         cand AS (
           SELECT p.vec_id AS probe_id, c.vec_id,
             list_reduce(list_transform(generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM sigs c JOIN (SELECT * FROM sigs WHERE vec_id < 50) p
           ON c.sig = p.sig
           WHERE c.vec_id <> p.vec_id),
         lsh AS (
           SELECT probe_id, vec_id, arank FROM (
             SELECT d.probe_id, d.vec_id,
               CAST(row_number() OVER (PARTITION BY d.probe_id
                 ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id)
                 AS BIGINT) AS arank
             FROM cand d JOIN norms nc ON d.vec_id = nc.vec_id
             JOIN norms np ON d.probe_id = np.vec_id)
           WHERE arank <= 10),
         hits AS (
           SELECT t.probe_id, l.arank,
             CAST(row_number() OVER (PARTITION BY t.probe_id
               ORDER BY l.arank) AS BIGINT) AS hrk
           FROM truth t JOIN lsh l
           ON l.probe_id = t.probe_id AND l.vec_id = t.rel_id),
         ap AS (SELECT probe_id,
             CAST(sum(hrk * 1000000 // arank) AS BIGINT) // 3 AS ap_ppm
           FROM hits GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(COALESCE(ap.ap_ppm, 0)) AS BIGINT) // count(*)
             AS map_ppm
         FROM (SELECT vec_id AS probe_id FROM embeddings
               WHERE vec_id < 50) p
         LEFT JOIN ap USING (probe_id)""",

    // calibration replay: q219's scored frame, DECIMAL-exact sums,
    // same ppm/e12 grids, same ECE reduction
    "q342_calibration_ece" ->
      s"""WITH base AS (SELECT * FROM ($q219Sql) __b),
         pd AS (SELECT y, CAST(prob AS DECIMAL(10,6)) AS p,
             CAST(least(floor(prob * 10), 9) AS BIGINT) AS bucket FROM base),
         perb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS k, sum(p) AS sp,
             sum(CAST((p - y) * (p - y) AS DECIMAL(38,12))) AS sq
           FROM pd GROUP BY 1),
         r AS (SELECT bucket, n, k, k * 1000000 // n AS acc_ppm,
             CAST(CAST(sp * 1000000 AS HUGEINT) // n AS BIGINT)
               AS conf_ppm,
             CAST(sq * 1000000000000 AS BIGINT) AS sqerr_e12
           FROM perb),
         e AS (SELECT CAST(sum(n * abs(acc_ppm - conf_ppm)) // sum(n)
             AS BIGINT) AS ece_ppm FROM r)
         SELECT bucket, n, k, acc_ppm, conf_ppm, sqerr_e12, ece_ppm
         FROM r CROSS JOIN e""",

    // isotonic replay: same decile aggregate, same gridded minimax
    "q343_isotonic_fit" ->
      s"""WITH base AS (SELECT * FROM ($q219Sql) __b),
         perb AS (SELECT CAST(least(floor(prob * 10), 9) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS k
           FROM base GROUP BY 1),
         pre AS (SELECT bucket, n, k,
             CAST(sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
             CAST(sum(k) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS ck
           FROM perb),
         segs AS (SELECT j.bucket AS jb, kq.bucket AS kb,
             (kq.ck - (j.ck - j.k)) * 1000000
               // (kq.cn - (j.cn - j.n)) AS avg_ppm
           FROM pre j JOIN pre kq ON j.bucket <= kq.bucket),
         fitj AS (SELECT b.bucket, s.jb, min(s.avg_ppm) AS mn
           FROM pre b JOIN segs s
           ON s.jb <= b.bucket AND s.kb >= b.bucket
           GROUP BY 1, 2),
         fit AS (SELECT bucket, CAST(max(mn) AS BIGINT) AS fit_ppm
           FROM fitj GROUP BY 1)
         SELECT p.bucket, p.n, p.k, p.k * 1000000 // p.n AS raw_ppm,
           f.fit_ppm
         FROM perb p JOIN fit f USING (bucket)""",

    // stump replay: same per-value aggregates, same prefix thresholds,
    // same HUGEINT-exact ppb criterion and tiebreak
    "q341_decision_stump" ->
      """WITH f AS (
           SELECT 'quantity' AS feature, CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem WHERE l_quantity IS NOT NULL
           UNION ALL
           SELECT 'discount_pct',
             CAST(round(l_discount * 100, 0) AS BIGINT),
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
           FROM lineitem WHERE l_discount IS NOT NULL),
         a AS (SELECT feature, v, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS k
           FROM f GROUP BY 1, 2),
         t AS (SELECT feature, CAST(sum(n) AS BIGINT) AS tn,
             CAST(sum(k) AS BIGINT) AS tk FROM a GROUP BY 1),
         p AS (SELECT a.feature, a.v AS threshold,
             CAST(sum(a.n) OVER (PARTITION BY a.feature ORDER BY a.v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_left,
             CAST(sum(a.k) OVER (PARTITION BY a.feature ORDER BY a.v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS k_left,
             t.tn, t.tk
           FROM a JOIN t USING (feature)),
         sc AS (SELECT feature, threshold, n_left, k_left,
             tn - n_left AS n_right, tk - k_left AS k_right,
             CAST((CAST(k_left AS HUGEINT) * k_left
                 + CAST(n_left - k_left AS HUGEINT) * (n_left - k_left))
               * 1000000000 // n_left
             + (CAST(tk - k_left AS HUGEINT) * (tk - k_left)
                 + CAST((tn - n_left) - (tk - k_left) AS HUGEINT)
                   * ((tn - n_left) - (tk - k_left)))
               * 1000000000 // (tn - n_left) AS BIGINT) AS score_ppb
           FROM p WHERE n_left < tn)
         SELECT feature, threshold, n_left, k_left, n_right, k_right,
           score_ppb, k_left * 1000000 // n_left AS rate_left_ppm,
           k_right * 1000000 // n_right AS rate_right_ppm
         FROM sc ORDER BY score_ppb DESC, feature, threshold LIMIT 1""",

    // RAKE replay: same islands (p - row_number), same ppm word scores
    "q338_rake_keywords" ->
      """WITH base AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS ts
           FROM documents),
         tok AS (SELECT doc_id,
             unnest(generate_series(1, len(ts))) AS p, ts
           FROM base),
         ns AS (SELECT doc_id, p, ts[p] AS t FROM tok
           WHERE ts[p] NOT IN ('a', 'the')),
         runs AS (SELECT doc_id, p, t,
             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS run
           FROM ns),
         ph AS (SELECT string_agg(t, ' ' ORDER BY p) AS phrase,
             CAST(count(*) AS BIGINT) AS len
           FROM runs GROUP BY doc_id, run HAVING count(*) <= 3),
         mem AS (SELECT len, unnest(string_split(phrase, ' ')) AS w
           FROM ph),
         ws AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(len) AS BIGINT) AS deg FROM mem GROUP BY w),
         dp AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
             min(len) AS len FROM ph GROUP BY phrase),
         sc AS (SELECT d.phrase, d.n_occ, d.len,
             CAST(sum(ws.deg * 1000000 // ws.freq) AS BIGINT) AS score_ppm
           FROM (SELECT phrase, n_occ, len,
               unnest(string_split(phrase, ' ')) AS w FROM dp) d
           JOIN ws USING (w)
           GROUP BY 1, 2, 3)
         SELECT phrase, n_occ, len, score_ppm FROM sc
         ORDER BY score_ppm DESC, n_occ DESC, phrase LIMIT 20""",

    // containment replay: same rare-shingle blocking, same exact
    // array-intersect verification on the ppm grid
    "q339_containment_dedup" ->
      """WITH sh AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(0, greatest(len(ts) - 3, 0)),
             i -> array_to_string(ts[i + 1:i + 3], ' '))) AS sh
           FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS ts
             FROM documents)),
         post AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         rare AS (SELECT s FROM post GROUP BY s
           HAVING count(*) BETWEEN 2 AND 10),
         rp AS (SELECT p.doc_id, p.s FROM post p JOIN rare USING (s)),
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM rp a JOIN rp b ON a.s = b.s AND a.doc_id < b.doc_id),
         c AS (SELECT id_a, id_b,
             CAST(len(sa.sh) AS BIGINT) AS n_a,
             CAST(len(sb.sh) AS BIGINT) AS n_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter
           FROM pairs
           JOIN sh sa ON sa.doc_id = id_a
           JOIN sh sb ON sb.doc_id = id_b)
         SELECT id_a, id_b, n_a, n_b, inter,
           inter * 1000000 // n_a AS cont_a_ppm,
           inter * 1000000 // n_b AS cont_b_ppm
         FROM c
         WHERE greatest(inter * 1000000 // n_a, inter * 1000000 // n_b)
           >= 500000""",

    // winnowing replay: same 28-bit md5-prefix gram hash (hex fold),
    // same h*2^24+p packed selection key, same w-row min windows
    "q327_winnow" ->
      """WITH base AS (SELECT doc_id, text AS t FROM documents
           WHERE doc_id % 10 = 0 AND length(text) >= 12),
         pos AS (SELECT doc_id, t,
             unnest(generate_series(0, length(t) - 8)) AS p
           FROM base),
         g AS (SELECT doc_id, p,
             list_reduce(list_transform(
               string_split(substr(md5(substr(t, p + 1, 8)), 1, 7), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) * 16777216 + p AS key
           FROM pos),
         wm AS (SELECT doc_id,
             min(key) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS mk,
             count(*) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS cnt
           FROM g),
         fp AS (SELECT DISTINCT doc_id, mk FROM wm WHERE cnt = 5),
         fph AS (SELECT DISTINCT doc_id, mk // 16777216 AS h FROM fp),
         sh AS (SELECT h FROM fph GROUP BY h HAVING count(*) >= 2),
         a AS (SELECT doc_id, count(*) AS n_fps FROM fp GROUP BY 1),
         b AS (SELECT doc_id, count(*) AS shared_fps
           FROM fph JOIN sh USING (h) GROUP BY 1)
         SELECT a.doc_id, a.n_fps, COALESCE(b.shared_fps, 0) AS shared_fps
         FROM a LEFT JOIN b USING (doc_id)""",
    // collocation replay: same tokenization, adjacency via pos+1
    // self-pairing, identical HUGEINT lift and (lift, n, bigram) cut
    "q328_collocations" ->
      """WITH dt AS (SELECT row_number() OVER () AS rid,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS ts
           FROM documents),
         tk AS (SELECT rid, unnest(ts) AS tok,
             generate_subscripts(ts, 1) AS p FROM dt),
         uni AS (SELECT tok, count(*) AS n FROM tk GROUP BY 1),
         bi AS (SELECT a.tok AS t1, b.tok AS t2, count(*) AS n_xy
           FROM tk a JOIN tk b ON a.rid = b.rid AND b.p = a.p + 1
           GROUP BY 1, 2 HAVING count(*) >= 20),
         tot AS (SELECT CAST(sum(len(ts)) AS BIGINT) AS n_uni,
             CAST(sum(greatest(len(ts) - 1, 0)) AS BIGINT) AS n_bi
           FROM dt)
         SELECT t1, t2, n_xy,
           CAST((CAST(n_xy AS HUGEINT) * n_uni * n_uni * 1000000)
             // (CAST(n_bi AS HUGEINT) * ux.n * uy.n) AS BIGINT)
             AS lift_ppm
         FROM bi JOIN uni ux ON ux.tok = bi.t1
         JOIN uni uy ON uy.tok = bi.t2
         CROSS JOIN tot
         ORDER BY lift_ppm DESC, n_xy DESC, t1, t2 LIMIT 20""",
    // triangle replay: same canonical (lo,hi) edges, same (deg,id)
    // orientation, wedge + closing equi-join, 3-corner credit, and the
    // HUGEINT-widened truncating cc_ppm
    "q325_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem WHERE l_orderkey % 4 = 0),
         e0 AS (SELECT DISTINCT least(a.pk, b.pk) AS lo,
             greatest(a.pk, b.pk) AS hi
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dg FROM (
             SELECT lo AS n FROM e0 UNION ALL SELECT hi FROM e0) u
           GROUP BY 1),
         ori AS (SELECT
             CASE WHEN dl.dg < dh.dg OR (dl.dg = dh.dg AND lo < hi)
                  THEN lo ELSE hi END AS a,
             CASE WHEN dl.dg < dh.dg OR (dl.dg = dh.dg AND lo < hi)
                  THEN hi ELSE lo END AS b,
             CASE WHEN dl.dg < dh.dg OR (dl.dg = dh.dg AND lo < hi)
                  THEN dh.dg ELSE dl.dg END AS db
           FROM e0 JOIN deg dl ON dl.n = e0.lo
           JOIN deg dh ON dh.n = e0.hi),
         w AS (SELECT x.a AS t1, x.b AS t2, y.b AS t3
           FROM ori x JOIN ori y ON x.a = y.a
             AND (x.db < y.db OR (x.db = y.db AND x.b < y.b))),
         tr AS (SELECT t1, t2, t3
           FROM w JOIN ori o ON o.a = w.t2 AND o.b = w.t3),
         pn AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM (
             SELECT t1 AS n FROM tr UNION ALL SELECT t2 FROM tr
             UNION ALL SELECT t3 FROM tr) u GROUP BY 1)
         SELECT deg.n AS node, deg.dg AS degree,
           COALESCE(pn.tri, 0) AS triangles,
           CAST((CAST(COALESCE(pn.tri, 0) AS HUGEINT) * 2000000)
             // (CAST(deg.dg AS HUGEINT) * (deg.dg - 1)) AS BIGINT)
             AS cc_ppm
         FROM deg LEFT JOIN pn ON pn.n = deg.n
         WHERE deg.dg >= 2""",
    // PageRank replay: all 3 iterations chained in the same 1e12
    // fixed-point integer arithmetic (// TRUNCATES toward zero, exactly
    // like Spark's div and Java's / — see the q276 Holt contract; all
    // values here are positive anyway), LEFT-joined node universe
    "q273_pagerank" ->
      """WITH e AS (SELECT a.l_partkey AS s, b.l_partkey AS d
           FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey),
         nd AS (SELECT p_partkey AS part FROM part),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
             1000000000000 // CAST(count(*) AS BIGINT) AS r0fp,
             (1000000000000 * 3) // (20 * CAST(count(*) AS BIGINT))
               AS basefp
           FROM nd),
         deg AS (SELECT s, count(*) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT part, nn.r0fp AS rank_e12 FROM nd CROSS JOIN nn),
         c1 AS (SELECT e.d AS part,
             CAST(CAST(sum(CAST(r0.rank_e12 // deg.deg AS DECIMAL(38,0)))
               AS DECIMAL(38,0)) AS BIGINT) AS s
           FROM e JOIN r0 ON r0.part = e.s JOIN deg ON deg.s = e.s
           GROUP BY 1),
         r1 AS (SELECT nd.part,
             nn.basefp + (17 * COALESCE(c1.s, 0)) // 20 AS rank_e12
           FROM nd CROSS JOIN nn LEFT JOIN c1 ON c1.part = nd.part),
         c2 AS (SELECT e.d AS part,
             CAST(CAST(sum(CAST(r1.rank_e12 // deg.deg AS DECIMAL(38,0)))
               AS DECIMAL(38,0)) AS BIGINT) AS s
           FROM e JOIN r1 ON r1.part = e.s JOIN deg ON deg.s = e.s
           GROUP BY 1),
         r2 AS (SELECT nd.part,
             nn.basefp + (17 * COALESCE(c2.s, 0)) // 20 AS rank_e12
           FROM nd CROSS JOIN nn LEFT JOIN c2 ON c2.part = nd.part),
         c3 AS (SELECT e.d AS part,
             CAST(CAST(sum(CAST(r2.rank_e12 // deg.deg AS DECIMAL(38,0)))
               AS DECIMAL(38,0)) AS BIGINT) AS s
           FROM e JOIN r2 ON r2.part = e.s JOIN deg ON deg.s = e.s
           GROUP BY 1)
         SELECT nd.part,
           nn.basefp + (17 * COALESCE(c3.s, 0)) // 20 AS rank_e12
         FROM nd CROSS JOIN nn LEFT JOIN c3 ON c3.part = nd.part""",
    // ANN-recall replay: the q54 brute-force chain (rk<=10) as truth,
    // the q54c IVF chain (rk<=10) as approx, then the per-probe hit rate
    "q269_ann_recall" ->
      """WITH norms AS (
           SELECT vec_id, sqrt(list_reduce(list_transform(
             generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y)) AS nrm
           FROM embeddings),
         dots AS (
           SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
             list_reduce(list_transform(
               generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) p),
         truth AS (
           SELECT probe_id, vec_id FROM (
             SELECT d.probe_id, d.vec_id,
               row_number() OVER (PARTITION BY d.probe_id
                 ORDER BY d.dt / (nc.nrm * np.nrm) DESC, d.vec_id) AS rk
             FROM dots d JOIN norms nc ON d.vec_id = nc.vec_id
             JOIN norms np ON d.probe_id = np.vec_id)
           WHERE rk <= 10),
         cdots AS (
           SELECT v.vec_id, c.vec_id AS cell_id,
             list_reduce(list_transform(
               generate_series(1, len(v.embedding)),
               i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM embeddings v
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) c),
         assign AS (
           SELECT vec_id, cell_id FROM (
             SELECT d.vec_id, d.cell_id,
               row_number() OVER (PARTITION BY d.vec_id
                 ORDER BY d.dt / (nv.nrm * nc.nrm) DESC, d.cell_id) AS rk
             FROM cdots d JOIN norms nv ON d.vec_id = nv.vec_id
             JOIN norms nc ON d.cell_id = nc.vec_id)
           WHERE rk = 1),
         cand AS (
           SELECT p.vec_id AS probe_id, v.vec_id
           FROM (SELECT * FROM assign WHERE vec_id < 5) p
           JOIN assign v ON v.cell_id = p.cell_id),
         pd AS (
           SELECT ca.probe_id, ca.vec_id,
             list_reduce(list_transform(
               generate_series(1, len(ve.embedding)),
               i -> CAST(ve.embedding[i] AS DOUBLE) * CAST(pe.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dt
           FROM cand ca
           JOIN embeddings ve ON ve.vec_id = ca.vec_id
           JOIN embeddings pe ON pe.vec_id = ca.probe_id),
         approx AS (
           SELECT probe_id, vec_id FROM (
             SELECT d.probe_id, d.vec_id,
               row_number() OVER (PARTITION BY d.probe_id
                 ORDER BY d.dt / (nv.nrm * np.nrm) DESC, d.vec_id) AS rk
             FROM pd d JOIN norms nv ON d.vec_id = nv.vec_id
             JOIN norms np ON d.probe_id = np.vec_id)
           WHERE rk <= 10)
         SELECT t.probe_id,
           CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           (CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000) // 10 AS recall_ppm
         FROM truth t LEFT JOIN approx a
           ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id
         GROUP BY 1""",
    // weighted-sample replay: q144's md5→int fold builds the 24-bit
    // uniform; same -ln(u)/w key at 8 dp, same (key, id) top-50
    "q267_weighted_sample" ->
      """WITH h AS (SELECT doc_id, n_chars,
           list_reduce(list_transform(
               string_split(substr(md5(CAST(doc_id AS VARCHAR) || '#wsample'),
                 1, 6), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h24
         FROM documents),
         k AS (SELECT doc_id, n_chars,
             round(-ln((h24 + 0.5) / 16777216.0) / n_chars, 8) AS es_key
           FROM h)
         SELECT doc_id, n_chars, es_key,
           row_number() OVER (ORDER BY es_key, doc_id) AS draw_rank
         FROM k ORDER BY es_key, doc_id LIMIT 50""",
    // bigram-diversity replay: q52's gram construction per source
    "q265_ngram_diversity" ->
      """WITH t AS (SELECT source,
             string_split_regex(trim(lower(text)), '\s+') AS w
           FROM documents WHERE len(string_split_regex(trim(lower(text)),
             '\s+')) >= 2),
         ng AS (SELECT source, w[i] || ' ' || w[i+1] AS g
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i))
         SELECT source AS src, count(*) AS n_grams,
           count(DISTINCT g) AS n_distinct,
           (count(DISTINCT g) * 1000000) // count(*) AS diversity_ppm
         FROM ng GROUP BY 1""",
    // top-bigram-mass replay: modal gram by (count desc, gram asc), ppm
    // by exact integer division against the doc's char length
    "q266_top_ngram_mass" ->
      """WITH t AS (SELECT doc_id, length(text) AS n_chars,
             string_split_regex(trim(lower(text)), '\s+') AS w
           FROM documents WHERE len(string_split_regex(trim(lower(text)),
             '\s+')) >= 2),
         ng AS (SELECT doc_id, n_chars, w[i] || ' ' || w[i+1] AS g
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i)),
         c AS (SELECT doc_id, n_chars, g, count(*) AS n_occ
           FROM ng GROUP BY 1, 2, 3),
         rk AS (SELECT *, row_number() OVER
             (PARTITION BY doc_id ORDER BY n_occ DESC, g) AS rn FROM c)
         SELECT doc_id, g AS top_gram, n_occ,
           least(1000000, (n_occ * length(g) * 1000000) // n_chars)
             AS mass_ppm
         FROM rk WHERE rn = 1""",
    // query-likelihood replay: same 8-dp-rounded per-term logs, same
    // fixed term order, same (score desc, id) top-k
    "q263_query_likelihood" ->
      """WITH tokd AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM tokd GROUP BY 1),
         tot AS (SELECT CAST(sum(dl) AS DOUBLE) AS ctot FROM dl),
         terms(term, ord) AS (VALUES ('spark', 0), ('window', 1),
           ('merge', 2)),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tokd
           WHERE term IN ('spark', 'window', 'merge') GROUP BY 1, 2),
         cf AS (SELECT term, count(*) AS cf FROM tokd
           WHERE term IN ('spark', 'window', 'merge') GROUP BY 1),
         grid AS (SELECT m.doc_id, t.term, t.ord
           FROM (SELECT DISTINCT doc_id FROM tf) m CROSS JOIN terms t),
         c AS (SELECT g.doc_id, g.ord,
             round(ln((coalesce(tf.tf, 0) + 300.0 * cf.cf / tot.ctot) /
               (dl.dl + 300.0)), 8) AS c
           FROM grid g
           LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.term = g.term
           JOIN cf ON cf.term = g.term
           JOIN dl ON dl.doc_id = g.doc_id
           CROSS JOIN tot),
         score AS (SELECT doc_id,
             round(COALESCE(max(CASE WHEN ord = 0 THEN c END), 0.0) +
                   COALESCE(max(CASE WHEN ord = 1 THEN c END), 0.0) +
                   COALESCE(max(CASE WHEN ord = 2 THEN c END), 0.0), 6)
               AS score
           FROM c GROUP BY doc_id)
         SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
             AS rk, score
         FROM score ORDER BY score DESC, doc_id LIMIT 10""",
    // NDCG replay: q243's BM25 CTE chain feeds the judged top-10; gains
    // round to 8 dp on the decimal grid in both engines
    "q264_ndcg" ->
      """WITH tokd AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM tokd GROUP BY 1),
         stats AS (SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tokd
           WHERE term IN ('spark', 'window', 'merge') GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         contrib AS (SELECT tf.doc_id, tf.term,
             (round(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0), 8)
                * (tf * (1.2 + 1.0)))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl))) AS c
           FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats),
         agg AS (SELECT doc_id,
             max(CASE WHEN term = 'spark' THEN c END) AS t0,
             max(CASE WHEN term = 'window' THEN c END) AS t1,
             max(CASE WHEN term = 'merge' THEN c END) AS t2
           FROM contrib GROUP BY 1),
         score AS (SELECT doc_id, round(COALESCE(t0, 0.0) + COALESCE(t1, 0.0)
             + COALESCE(t2, 0.0), 6) AS score FROM agg),
         ranked AS (SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rk
           FROM score ORDER BY score DESC, doc_id LIMIT 10),
         dcg AS (SELECT sum(CAST(round(
             (power(2, coalesce(e.label, 0)) - 1.0) / log2(r.rk + 1.0), 8)
               AS DECIMAL(30,8))) AS dcg
           FROM ranked r LEFT JOIN embeddings e ON e.vec_id = r.doc_id),
         ideal AS (SELECT label,
             row_number() OVER (ORDER BY label DESC, vec_id) AS irk
           FROM embeddings ORDER BY label DESC, vec_id LIMIT 10),
         idcg AS (SELECT sum(CAST(round(
             (power(2, label) - 1.0) / log2(irk + 1.0), 8)
               AS DECIMAL(30,8))) AS idcg
           FROM ideal)
         SELECT 10 AS k, round(CAST(dcg AS DOUBLE), 6) AS dcg,
           round(CAST(idcg AS DOUBLE), 6) AS idcg,
           round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg
         FROM dcg CROSS JOIN idcg""",
    // cluster-balance replay: ONE Lloyd iteration of q147's bit-exact
    // k-means replay (same seeds, decimal sums, (d, cid) tie-break),
    // then the per-cluster (d, vec_id) rank against the min-size cap
    "q262_cluster_balance" ->
      """WITH c0 AS (SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
           FROM embeddings WHERE vec_id < 4),
         d1 AS (SELECT v.vec_id, c0.cid,
             list_reduce(list_transform(generate_series(1, 64),
               i -> (CAST(v.embedding[i] AS DOUBLE) - c0.c[i]) *
                    (CAST(v.embedding[i] AS DOUBLE) - c0.c[i])),
               (x, y) -> x + y) AS d
           FROM embeddings v CROSS JOIN c0),
         a1 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
             FROM d1) WHERE rk = 1),
         s1 AS (SELECT a1.cid, t.i AS pos,
             sum(CAST(CAST(v.embedding[t.i] AS DOUBLE) AS DECIMAL(30,12))) AS s,
             count(*) AS n
           FROM a1 JOIN embeddings v USING (vec_id)
           CROSS JOIN generate_series(1, 64) t(i)
           GROUP BY 1, 2),
         c1 AS (SELECT c0.cid, coalesce(m.c, c0.c) AS c
           FROM c0 LEFT JOIN (SELECT cid,
               list(CAST(s AS DOUBLE) / n ORDER BY pos) AS c
             FROM s1 GROUP BY cid) m USING (cid)),
         d2 AS (SELECT v.vec_id, c1.cid,
             list_reduce(list_transform(generate_series(1, 64),
               i -> (CAST(v.embedding[i] AS DOUBLE) - c1.c[i]) *
                    (CAST(v.embedding[i] AS DOUBLE) - c1.c[i])),
               (x, y) -> x + y) AS d
           FROM embeddings v CROSS JOIN c1),
         a2 AS (SELECT vec_id, cid, d FROM (
             SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
             FROM d2) WHERE rk = 1),
         sizes AS (SELECT cid, count(*) AS n FROM a2 GROUP BY 1),
         cap AS (SELECT min(n) AS cap FROM sizes),
         ranked AS (SELECT vec_id, cid,
             row_number() OVER (PARTITION BY cid ORDER BY d, vec_id) AS rk
           FROM a2)
         SELECT vec_id, cid AS cluster, rk, rk <= cap AS kept
         FROM ranked CROSS JOIN cap""",
    // HITS replay: two unrolled iterations of the same pull-normalize
    // chain; HUGEINT-widened numerators, // = the shared truncating div
    "q294_hits" ->
      """WITH e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS u,
             event_type AS t FROM events),
         h0 AS (SELECT u, CAST(1000000 AS BIGINT) AS h
           FROM (SELECT DISTINCT u FROM e)),
         a1r AS (SELECT t, CAST(sum(h) AS BIGINT) AS a
           FROM e JOIN h0 USING (u) GROUP BY 1),
         a1 AS (SELECT t, CAST((CAST(a AS HUGEINT) * 1000000)
             // mx AS BIGINT) AS a
           FROM a1r CROSS JOIN (SELECT max(a) AS mx FROM a1r)),
         h1r AS (SELECT u, CAST(sum(a) AS BIGINT) AS h
           FROM e JOIN a1 USING (t) GROUP BY 1),
         h1 AS (SELECT u, CAST((CAST(h AS HUGEINT) * 1000000)
             // mx AS BIGINT) AS h
           FROM h1r CROSS JOIN (SELECT max(h) AS mx FROM h1r)),
         a2r AS (SELECT t, CAST(sum(h) AS BIGINT) AS a
           FROM e JOIN h1 USING (u) GROUP BY 1),
         a2 AS (SELECT t, CAST((CAST(a AS HUGEINT) * 1000000)
             // mx AS BIGINT) AS a
           FROM a2r CROSS JOIN (SELECT max(a) AS mx FROM a2r)),
         h2r AS (SELECT u, CAST(sum(a) AS BIGINT) AS h
           FROM e JOIN a2 USING (t) GROUP BY 1),
         h2 AS (SELECT u, CAST((CAST(h AS HUGEINT) * 1000000)
             // mx AS BIGINT) AS h
           FROM h2r CROSS JOIN (SELECT max(h) AS mx FROM h2r))
         SELECT 'hub' AS role, u AS node, h AS score_ppm FROM h2
         UNION ALL
         SELECT 'auth' AS role, t AS node, a AS score_ppm FROM a2""",
    // CDC replay: the window-hash at char p (1-based) is the 8-term
    // polynomial sum with B^k mod P from a recursive powers table —
    // identical by construction to the kernel's incremental
    // h' = (h·B + c_in − c_out·B^w) mod P; cut after p when H % 64 = 0,
    // final cut at len, chunks dedup by md5 per source
    "q286_cdc_chunking" ->
      """WITH RECURSIVE pw(k, v) AS (
           SELECT 0, CAST(1 AS BIGINT) UNION ALL
           SELECT k + 1, v * 131 % 2147483647 FROM pw WHERE k < 7),
         d AS (SELECT doc_id, source, text, length(text) AS L
           FROM documents),
         pos AS (SELECT doc_id, text,
             unnest(generate_series(8, L)) AS p FROM d),
         hh AS (SELECT t.doc_id, t.p,
             sum(unicode(substr(t.text, t.p - pw.k, 1)) * pw.v)
               % 2147483647 AS H
           FROM pos t JOIN pw ON TRUE GROUP BY 1, 2),
         cuts AS (
           -- explicit DISTINCT: under WITH RECURSIVE scoping DuckDB does
           -- NOT dedup a plain UNION here (observed: a hash cut at L
           -- survived next to the forced final cut)
           SELECT DISTINCT doc_id, cut FROM (
             SELECT doc_id, p AS cut FROM hh WHERE H % 64 = 0
             UNION ALL
             SELECT doc_id, L FROM d)),
         chunks AS (SELECT doc_id, cut,
             coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0)
               AS start
           FROM cuts),
         hashed AS (SELECT d.source,
             md5(substr(d.text, c.start + 1, c.cut - c.start)) AS h,
             c.cut - c.start AS clen
           FROM chunks c JOIN d USING (doc_id))
         SELECT source,
           count(*) AS n_chunks,
           count(DISTINCT h) AS n_distinct,
           CAST(sum(clen) AS BIGINT) AS total_len,
           (count(*) - count(DISTINCT h)) * 1000000 // count(*) AS dup_ppm
         FROM hashed GROUP BY 1""",
    // readability replay: identical tokenization (q203's convention),
    // identical regexes, truncating integral divisions on both engines
    "q287_readability" ->
      """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           FROM documents),
         syl AS (SELECT doc_id,
             greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1) AS sy
           FROM w WHERE length(w) > 0),
         pd AS (SELECT doc_id, count(*) AS n_words,
             CAST(sum(sy) AS BIGINT) AS n_syllables FROM syl GROUP BY 1),
         sent AS (SELECT doc_id,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS n_sentences
           FROM documents)
         SELECT d.doc_id, pd.n_words, sent.n_sentences, pd.n_syllables,
           206835000 - (1015000 * pd.n_words) // sent.n_sentences
                     - (84600000 * pd.n_syllables) // pd.n_words
             AS flesch_micro
         FROM documents d JOIN pd USING (doc_id) JOIN sent USING (doc_id)""",

    // identical Carter-Wegman arithmetic over the same md5-prefix keys:
    // every sketch cell, and therefore every min-estimate, is bit-exact
    "q297_countmin_sketch" ->
      """WITH tk AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         ex AS (SELECT tok, count(*) AS n FROM tk GROUP BY 1),
         ky AS (SELECT tok, list_reduce(list_transform(
               string_split(substr(md5(tok), 1, 7), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h
           FROM ex),
         rw(j, a, b) AS (VALUES
           (CAST(0 AS BIGINT), CAST(1103515245 AS BIGINT), CAST(12345 AS BIGINT)),
           (1, 1664525, 1013904223),
           (2, 22695477, 1),
           (3, 69069, 362437)),
         sk AS (
           SELECT rw.j, ((rw.a * ky.h + rw.b) % 2147483647) % 512 AS cell,
             CAST(sum(ex.n) AS BIGINT) AS cnt
           FROM ex JOIN ky USING (tok) CROSS JOIN rw
           GROUP BY 1, 2),
         top AS (SELECT tok, n FROM ex ORDER BY n DESC, tok LIMIT 15)
         SELECT t.tok, t.n, min(sk.cnt) AS est,
           min(sk.cnt) - t.n AS over_cnt
         FROM top t JOIN ky USING (tok)
         CROSS JOIN rw
         JOIN sk ON sk.j = rw.j
           AND sk.cell = ((rw.a * ky.h + rw.b) % 2147483647) % 512
         GROUP BY 1, 2""",

    "q298_bottomk_sample" ->
      """SELECT source, rk, doc_id FROM (
           SELECT source, doc_id, row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= 5""",

    // exact string 3-grams here vs 64-bit hashed shingles on the Spark
    // side: set sizes agree w.h.p. (the q51/q52 convention)
    "q299_source_overlap" ->
      """WITH t AS (
           SELECT source, string_split_regex(trim(lower(text)), '\s+') AS w
           FROM documents),
         g AS (SELECT DISTINCT source,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
         sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
         co AS (SELECT a.source AS src_a, b.source AS src_b,
             count(*) AS inter
           FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
           GROUP BY 1, 2)
         SELECT src_a, src_b, inter,
           CAST(inter * 1000000 // (sa.n + sb.n - inter) AS BIGINT)
             AS jaccard_ppm
         FROM co JOIN sz sa ON sa.source = src_a
         JOIN sz sb ON sb.source = src_b""",

    "q304_vocab_encode" ->
      """WITH tk AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         c AS (SELECT tok, count(*) AS n FROM tk GROUP BY 1),
         top AS (SELECT tok, n,
             CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS id
           FROM c ORDER BY n DESC, tok LIMIT 20)
         SELECT id, tok, n FROM top
         UNION ALL
         SELECT 0, '<unk>',
           (SELECT count(*) FROM tk) - (SELECT CAST(sum(n) AS BIGINT) FROM top)""",

    // identical md5-prefix key, % bucket, and (h >> 20) & 1 parity sign
    "q305_feature_hashing" ->
      """WITH tk AS (
           SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         ky AS (SELECT doc_id, list_reduce(list_transform(
               string_split(substr(md5(tok), 1, 7), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h
           FROM tk)
         SELECT doc_id, h % 64 AS idx,
           CAST(sum(CASE WHEN ((h >> 20) & 1) = 0 THEN 1 ELSE -1 END)
             AS BIGINT) AS val
         FROM ky GROUP BY 1, 2"""
  )
}
