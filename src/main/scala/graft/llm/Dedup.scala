package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Deduplication operators for training-data pipelines, each designed
  * around its shuffle topology at 100 TB:
  *
  *  - exact: one shuffle on a 128-bit content hash (never on the text).
  *  - MinHash+LSH: signature is a projection; banding explodes b rows per
  *    doc and shuffles on (band, bandHash) — candidate pairs only form
  *    inside buckets, so cost is data-dependent, not O(n²).
  *  - SimHash: one explode + hash-agg; Hamming-close pairs via bucket keys.
  *  - n-gram Jaccard: exact verification join for LSH candidates (or small
  *    blocked pair sets).
  */
object Dedup {

  /** Canonical content key: md5 of normalized text. */
  def contentKey(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Exact dedup: keep the smallest id per content key; emit group size.
    * Equivalent plan to `dropDuplicates` but with an explicit deterministic
    * keeper and dup-count (ref `dataset.py:9967` drop_duplicates). */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.withColumn("content_key", contentKey(col(text)))
      .groupBy("content_key")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental (cross-snapshot) exact dedup — the ingestion verb: a new
    * batch joins an already-curated corpus, so a new document survives iff
    * (a) its content key is absent from the EXISTING corpus index and
    * (b) it is the first occurrence within its own batch. The existing
    * side travels as keys only (never text), so the index is the cheap
    * artifact a 100 TB corpus would persist between snapshots.
    *
    * Scale shape: one hash-agg electing the within-batch keeper, one
    * LEFT ANTI join on the 128-bit key against the index — both shuffle
    * on the key, nothing touches the existing corpus' text. (Fronting the
    * anti-join with [[bloomPrefilter]] is the q178 composition when the
    * index itself is too large to shuffle comfortably.) */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
                       id: String, text: String): DataFrame = {
    val index = existing
      .select(contentKey(col(text)).as("content_key")).distinct()
    incoming.withColumn("content_key", contentKey(col(text)))
      .groupBy("content_key")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_batch_dups"))
      .join(index, Seq("content_key"), "left_anti")
  }

  /** Segment-level exact dedup with document reassembly — the C4 /
    * RefinedWeb "line dedup" verb at sub-document granularity (C4 kept one
    * occurrence of any repeated three-sentence span corpus-wide; with no
    * line structure in the corpus the segment is a fixed `segTokens`-token
    * non-overlapping window, ref `c4_utils` line-dedup semantics). Each
    * distinct segment keeps exactly its globally-FIRST occurrence — the
    * smallest (doc, position) pair — every later occurrence is cut, and
    * the survivors re-concatenate in position order; documents that lose
    * every segment drop out.
    *
    * Scale shape: segmentation is a scan-stage explode (q199's chunker at
    * overlap 0); first-occurrence election is ONE shuffle — a window over
    * the 128-bit segment key (each key's partition is exactly its
    * duplicate set); reassembly is one hash aggregation on doc id whose
    * per-group state is bounded by the document's own segment count. No
    * join, no global window, nothing quadratic. */
  def segmentDedup(docs: DataFrame, id: String, text: String,
                   segTokens: Int): DataFrame = {
    val segs = TextAnalysis.chunkDocuments(docs, id, text, segTokens,
      overlap = 0)
      .withColumn("__k", md5(col("chunk_text")))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col(id), col("chunk_id"))
    segs.withColumn("__keep", row_number().over(w) === 1)
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("__keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        array_join(transform(filter(sort_array(collect_list(struct(
            col("chunk_id"),
            when(col("__keep"), col("chunk_text")).as("t")))),
          s => s.getField("t").isNotNull), s => s.getField("t")), " ")
          .as("text_kept"))
      .filter(col("n_kept") > 0)
  }

  /** Distinct hashed word k-shingles in one native pass (compiled loop;
    * byte-identical hashes to `transform(shingles(text,k), xxhash64)`). */
  def shingleIds(text: Column, k: Int): Column =
    graft.exprs.ShingleExprs.shingleHashes(
      TextAnalysis.tokens(lower(text)), k)

  /** Word k-shingles of a document. */
  def shingles(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    val n = size(toks)
    array_distinct(transform(sequence(lit(0), greatest(n - k, lit(0))),
      i => array_join(org.apache.spark.sql.functions.slice(toks, i + 1, lit(k)), " ")))
  }

  /** Pairwise n-gram Jaccard within a blocking key. Grams travel as 64-bit
    * hashes (longs, not strings) through the co-occurrence self-join.
    * `gramDfCap` is the stop-gram guard: a gram appearing in k docs of a
    * block emits k² rows in the self-join, so grams with document
    * frequency above the cap are anti-joined OUT of both sides (they carry
    * no discriminative signal — a gram shared by "everyone" moves
    * intersection and union together). Sizes (union denominators) keep the
    * FULL gram sets so only the intersection counts of capped grams are
    * lost, biasing scores down by at most capped-df/corpus. */
  def ngramJaccard(docs: DataFrame, id: String, text: String, block: String,
                   n: Int, gramDfCap: Long): DataFrame = {
    // pin the gram cache's width (round-robin REPARTITION_BY_NUM): the
    // cache feeds the quadratic co-occurrence self-join, and without a
    // pin cached-plan AQE coalescing (Parallelize.tuneShuffle)
    // materializes the few-MB gram frame at 1 partition and the join
    // serializes (measured +0.9 s at sf0.1, round 18). Deliberately NOT
    // keyed on `g`: a g-keyed pin lets the self-join REUSE the cache's
    // partitioning, which removes the join's own exchange — and with it
    // AQE's skew-join splitting, exactly where stop-gram keys
    // concentrate df² pair fan-out on one partition (measured: heap OOM
    // on the 30× replica with the keyed pin; completes keyed-free with
    // the join's ENSURE_REQUIREMENTS exchange skew-split in place).
    val ng = graft.util.QueryCache.persist(
      docs.select(col(id).as("doc_id"), col(block).as("source"),
        explode(shingleIds(col(text), n)).as("g"))
        .repartition(
          graft.util.Parallelize.computeWidth(docs.sparkSession)))
    val sizes = ng.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val hot = ng.groupBy("source", "g").agg(count(lit(1)).as("df"))
      .filter(col("df") > gramDfCap).select("source", "g")
    val joinable = ng.join(broadcast(hot), Seq("source", "g"), "left_anti")
    val co = joinable.as("a").join(joinable.as("b"),
      col("a.g") === col("b.g") && col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    co.join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
  }

  /** MinHash signature. Each shingle is hashed ONCE (xxhash64); the k hash
    * functions are affine transforms h_i = a_i*h + b_i over that long
    * (the classic universal-hashing construction) — k*|shingles| long
    * multiplications instead of k string hashes per doc. Pure projection. */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column = {
    minhashFromHashes(hashShingles(shingleCol), numHashes)
  }

  private val MersennePrime = 2147483647L // 2^31 - 1

  /** One xxhash64 per shingle, reduced mod 2^31-1. Materialize this ONCE
    * (its own projection) before fanning out to k hash functions —
    * substituting it into each transform would recompute the string hashes
    * k times. */
  def hashShingles(shingleCol: Column): Column =
    transform(shingleCol, s => pmod(xxhash64(s), lit(MersennePrime)))

  /** Carter-Wegman universal family mod the Mersenne prime 2^31-1:
    * h, a, b < 2^31 keeps a*h+b < 2^62 (no Long overflow -> safe under
    * Spark 4's default ANSI mode) while products wrap the modulus many
    * times, so the k functions are genuinely pairwise independent — an
    * affine family over a modulus >> h would degenerate to rank-of-h_min. */
  def minhashFromHashes(hashCol: Column, numHashes: Int): Column = {
    val rng = new scala.util.Random(0x5EED)
    val coefs = Seq.fill(numHashes)(
      (rng.nextInt(Int.MaxValue - 1).toLong + 1L,
        rng.nextInt(Int.MaxValue).toLong))
    // native one-pass kernel (same arithmetic as the declarative
    // k x array_min(transform(...)) form, which evaluates interpreted)
    graft.exprs.MinHashExprs.minhashCW(hashCol,
      coefs.map(_._1).toArray, coefs.map(_._2).toArray)
  }

  /** LSH banding: docs sharing any (band, hash-of-band-rows) bucket are
    * candidate near-dups. numHashes = bands * rowsPerBand. */
  def lshBuckets(df: DataFrame, id: String, sig: String,
                 bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands > 0 && rowsPerBand > 0,
      s"bands=$bands rowsPerBand=$rowsPerBand must both be positive " +
        "(detection threshold ~ (1/bands)^(1/rowsPerBand); signatures " +
        "must carry bands*rowsPerBand hashes or trailing bands hash " +
        "short slices)")
    val bandRows = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(org.apache.spark.sql.functions.slice(
          col(sig), b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }
    df.select(col(id), explode(array(bandRows: _*)).as("bb"))
      .select(col(id), col("bb.band"), col("bb.bucket"))
  }

  /** Candidate pairs from LSH buckets (a < b to dedupe the pair space).
    *
    * `maxBucket` ENFORCES the blocking-key sizing law (BENCH_SCALE.md):
    * a (band, bucket) block with k members emits k(k-1)/2 pairs, so one
    * degenerate hub value (empty docs, shared boilerplate) turns the
    * equi-join quadratic at corpus scale. Buckets deeper than the cap
    * are dropped from that band — a true near-dup pair still surfaces
    * through its other bands, which a hub value is exponentially
    * unlikely to also collide on — keeping total pair emission bounded
    * by Σ min(depth, cap)² whatever the data does. Same knob as
    * [[graft.llm.Multimodal.phashNearDupPairs]]'s; inactive below
    * `maxBucket` members per bucket (the test corpora peak ~tens). */
  def candidatePairs(buckets: DataFrame, id: String,
                     maxBucket: Int = 10000): DataFrame = {
    require(maxBucket > 1, s"maxBucket must exceed 1, got $maxBucket")
    val keyed = graft.util.QueryCache.persist(
      buckets.select(col("band"), col("bucket"), col(id)))
    val capped = keyed.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__depth"))
      .filter(col("__depth") <= maxBucket)
      .select("band", "bucket")
    val inCap = keyed.join(capped, Seq("band", "bucket"))
    val a = inCap.select(col("band"), col("bucket"), col(id).as("id_a"))
    val b = inCap.select(col("band"), col("bucket"), col(id).as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact word-shingle Jaccard for a pair table — the verification step
    * after LSH candidate generation. */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, id: String,
                    text: String, k: Int, threshold: Double): DataFrame =
    jaccardVerifyPre(pairs,
      docs.select(col(id), shingles(col(text), k).as("sh")), id, threshold)

  /** Verify against PRE-computed (and ideally persisted) shingle sets —
    * avoids recomputing the shingle projection once per join side. */
  def jaccardVerifyPre(pairs: DataFrame, sh: DataFrame, id: String,
                       threshold: Double): DataFrame = {
    pairs
      .join(sh.select(col(id).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(id).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 60-bit SimHash: per-token hash bits vote ±1; the sign vector is the
    * signature. The token hash is the first 15 hex digits of md5 — portable
    * across engines, so the signature is oracle-checkable in SQL. Computed
    * by the native one-pass [[graft.exprs.SimHash60]] kernel: a pure
    * projection, no explode, NO shuffle (the declarative form needed a
    * per-doc hash aggregation of 60 conditional sums). */
  /** Containment near-dup detection — the ASYMMETRIC sibling of Jaccard
    * (Broder 1997's "containment"): C(A→B) = |A∩B|/|A|. Catches
    * near-SUBSET duplication (a doc quoted or embedded inside a larger
    * one) that resemblance misses: a 50-shingle doc fully inside a
    * 500-shingle doc has Jaccard 0.1 but containment 1.0.
    *
    * Candidates are blocked on RARE shingles (document frequency in
    * [2, maxDf]), so a shingle contributes at most maxDf·(maxDf−1)/2
    * pair rows — the q52 stop-gram bound; docs sharing ONLY
    * boilerplate shingles (df > maxDf) are not candidates, which is the
    * deliberate recall trade every blocked dedup makes. Verification
    * joins each pair to its PRE-COMPUTED distinct shingle arrays and
    * computes both directions exactly on the ppm integer grid.
    *
    * @return pairs with max(C(a→b), C(b→a)) ≥ minContainPpm */
  def containmentDedup(docs: DataFrame, id: String, text: String, k: Int,
                       maxDf: Long, minContainPpm: Long): DataFrame = {
    val sh = graft.util.QueryCache.persist(
      graft.util.Parallelize.ensure(docs)
        .select(col(id), shingles(col(text), k).as("sh")))
    val postings = sh.select(col(id), explode(col("sh")).as("s"))
    val rare = postings.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("s")
    val rarePost = postings.join(rare, "s")
    val pairs = rarePost.select(col("s"), col(id).as("id_a"))
      .join(rarePost.select(col("s"), col(id).as("id_b")), "s")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      // pin the verify stage's width: pair rows are ~16 bytes but each
      // costs an array_intersect over the full shingle sets, so AQE's
      // byte-keyed coalescing collapses the stage to 1-3 tasks
      // (measured 13 s of task time on 3 tasks at sf0.1 — guide §2.5's
      // compute-vs-bytes partitioning lesson). An explicit-num
      // repartition is exempt from AQE coalescing; partition on the
      // deterministic PAIR hash, not id_a alone — a hub doc appearing
      // as id_a in many pairs would re-concentrate an id_a-keyed stage
      // (round-17 ADVICE skew exposure), while xxhash64(id_a, id_b)
      // spreads every distinct pair and, being a different expression
      // than the distinct's own hashpartitioning(id_a, id_b), is not
      // elided as redundant against it (repartitioning on the raw full
      // key WAS elided, then AQE re-coalesced to 1-3 tasks). Width
      // follows the session's data-keyed shuffle width.
      .repartition(graft.util.Parallelize.computeWidth(docs.sparkSession),
        xxhash64(col("id_a"), col("id_b")))
    pairs
      .join(sh.select(col(id).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(id).as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("inter"))
      .withColumn("cont_a_ppm", expr("inter * 1000000 div n_a"))
      .withColumn("cont_b_ppm", expr("inter * 1000000 div n_b"))
      .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm"))
        >= minContainPpm)
  }

  def simhash(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id),
      graft.exprs.ShingleExprs.simhash60(
        TextAnalysis.tokens(lower(col(text)))).as("simhash"))

  /** Hamming distance between two simhash longs (expression-only). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact substring-duplication spans (the suffix-array substring dedup
    * of Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"): slide a `gramLen`-char window at `stride` over every
    * document, key each window by its md5, and flag every window whose
    * exact content occurs in >= `minDocs` DISTINCT documents. Returns one
    * row per affected doc: (doc_id, dup_windows, first_dup_pos).
    *
    * A suffix array is inherently sequential; windowed hashing is its
    * distributed equivalent: one explode to ~len/stride rows per doc
    * (each carrying a 128-bit hash, never the text), one shuffle keyed by
    * window hash (partial-agg'd distinct-doc count), one shuffle back on
    * doc id. `stride` > 1 trades span granularity for an O(stride) row
    * reduction; boilerplate windows shared by the whole corpus concentrate
    * on single keys, but the per-key payload is a count, not a pair
    * blow-up — no k² term anywhere (contrast [[ngramJaccard]]). */
  /** (doc_id, p, h): 64-bit hash of every gramLen-char window at
    * `stride`. Docs shorter than gramLen contribute nothing. xxhash64,
    * not md5: every consumer uses `h` purely as an equality key, and the
    * 8-byte long keys make the window-space shuffle/sort ~4× narrower
    * than 32-char md5 hex strings (collision odds at 2^64 are
    * negligible next to the hash-based design itself). */
  private def windowGrams(docs: DataFrame, id: String, text: String,
                          gramLen: Int, stride: Int): DataFrame = {
    // ensure: the explode+substring+hash windowing is the heavy stage and
    // runs BEFORE any exchange — a narrow scan (one small file = one
    // partition) would serialize it.
    val base = graft.util.Parallelize.ensure(docs)
      .select(col(id).as("doc_id"), col(text).as("t"))
      .filter(length(col("t")) >= gramLen)
    base.select(col("doc_id"), col("t"),
        explode(sequence(lit(0), length(col("t")) - gramLen, lit(stride))).as("p"))
      .select(col("doc_id"), col("p"),
        xxhash64(expr(s"substring(t, p + 1, $gramLen)")).as("h"))
  }

  def duplicateSpans(docs: DataFrame, id: String, text: String,
                     gramLen: Int, stride: Int,
                     minDocs: Int = 2): DataFrame = {
    val grams = windowGrams(docs, id, text, gramLen, stride)
    val dupKeys = grams.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select("h")
    grams.join(dupKeys, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_windows"), min(col("p")).as("first_dup_pos"))
  }

  /** Excise duplicated spans — the ACTION step after [[duplicateSpans]]'s
    * detection (Lee et al. cut the flagged substrings out of the corpus):
    * duplicate `gramLen`-char windows are merged into maximal intervals
    * per doc (the classic gaps-and-islands window: overlapping/adjacent
    * [p, p+gramLen) runs coalesce), and the complement segments are
    * re-concatenated in order. Returns one row per AFFECTED doc:
    * (doc_id, n_spans, chars_cut, cleaned). All windows partition by
    * doc_id — bounded by a doc's window count, never corpus-global. */
  def exciseDuplicateSpans(docs: DataFrame, id: String, text: String,
                           gramLen: Int, stride: Int,
                           minDocs: Int = 2): DataFrame = {
    // Both the dup-key aggregation and the join probe consume the gram
    // stream; without materialization each re-runs the explode +
    // substring + xxhash64 windowing pass over the full corpus. The
    // cached form is 3 longs/row — far narrower than the text it derives
    // from — and query-scoped (the caller's QueryCache scope releases it).
    val grams = graft.util.QueryCache.persist(
      windowGrams(docs, id, text, gramLen, stride))
    // minDocs == 2 ("shared by ANY other doc", the default and the q156
    // shape) needs no distinct count: a gram hash is duplicated iff its
    // h-group spans more than one doc_id, i.e. min(doc_id) != max(doc_id).
    // Shape: partial+final hash agg (map-side combine collapses a
    // corpus-wide boilerplate gram to one row per map task — a window
    // over h would funnel ALL its rows into one task) + a join back that
    // AQE can broadcast when the dup-key set is small and skew-split
    // when it is not.
    val dup =
      if (minDocs == 2) {
        val dupKeys = grams.groupBy("h")
          .agg(min(col("doc_id")).as("__lo"), max(col("doc_id")).as("__hi"))
          .filter(col("__lo") =!= col("__hi")).select("h")
        grams.join(dupKeys, "h").select("doc_id", "p")
      } else {
        val dupKeys = grams.groupBy("h")
          .agg(count_distinct(col("doc_id")).as("df"))
          .filter(col("df") >= minDocs).select("h")
        grams.join(dupKeys, "h").select("doc_id", "p")
      }
    // Island-merge per doc in ONE aggregation: collect the doc's dup
    // window starts (bounded by the doc's own window count — a doc-local
    // quantity, never corpus-global), sort, and fold overlapping/touching
    // [p, p+gramLen) intervals into maximal spans with a single array
    // fold. One exchange on doc_id; the former two sort-window passes +
    // two grouped aggregations (same result, three extra stages) are gone.
    val collected = dup.groupBy("doc_id")
      .agg(array_sort(collect_list(col("p"))).as("ps"))
    val spans0 = collected.withColumn("spans", aggregate(
      col("ps"),
      // acc: closed spans so far + the open interval [s, e)
      struct(array().cast("array<struct<s:int,e:int>>").as("arr"),
        lit(-1).as("s"), lit(-1).as("e")),
      (acc, p) => {
        val open = acc.getField("s") >= 0
        val extend = open && p <= acc.getField("e")
        struct(
          when(extend || !open, acc.getField("arr"))
            .otherwise(concat(acc.getField("arr"), array(
              struct(acc.getField("s").as("s"), acc.getField("e").as("e")))))
            .as("arr"),
          when(extend, acc.getField("s")).otherwise(p).as("s"),
          when(extend, greatest(acc.getField("e"), p + gramLen))
            .otherwise(p + gramLen).as("e"))
      },
      acc => concat(acc.getField("arr"),
        array(struct(acc.getField("s").as("s"), acc.getField("e").as("e"))))))
    val spans = spans0.select(col("doc_id"),
      size(col("spans")).cast("long").as("n_spans"),
      aggregate(col("spans"), lit(0L),
        (a, sp) => a + (sp.getField("e") - sp.getField("s"))).as("chars_cut"),
      col("spans"))
    val base = docs.select(col(id).as("doc_id"), col(text).as("t"),
      length(col(text)).as("len"))
    // Rebuild each cleaned doc in ONE fold over its (disjoint, sorted)
    // span list: emit the text between the previous span's end and the
    // next span's start, then the tail after the last span. Replaces the
    // former segs/tails/frags union + two joins + re-aggregation (three
    // extra shuffles and a multi-consumer persist) with a single join.
    spans.join(base, "doc_id")
      .withColumn("cleaned", aggregate(
        col("spans"),
        struct(lit(0).as("prev"), lit("").as("acc")),
        (acc, sp) => struct(
          sp.getField("e").as("prev"),
          concat(acc.getField("acc"),
            col("t").substr(acc.getField("prev") + 1,
              sp.getField("s") - acc.getField("prev"))).as("acc")),
        acc => concat(acc.getField("acc"),
          col("t").substr(acc.getField("prev") + 1,
            col("len") - acc.getField("prev")))))
      .select("doc_id", "n_spans", "chars_cut", "cleaned")
  }

  /** Connected components over an undirected pair graph by iterative
    * min-label propagation (the map-reduce CC family of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"; label propagation
    * converges in O(diameter) rounds, each ONE shuffle): every node ends
    * with cluster_id = min node id in its component. Rounds materialize
    * eagerly (persist + count) so the driver loop sees convergence and
    * lineage stays shallow. Duplicate families in a dedup pipeline are
    * shallow (stars/chains of a few hops), so rounds ~ 2-4 in practice. */
  def connectedComponents(pairs: DataFrame, a: String, b: String): DataFrame = {
    val edges = graft.util.QueryCache.persist(
      pairs.select(col(a).as("u"), col(b).as("v"))
        .union(pairs.select(col(b).as("u"), col(a).as("v")))
        .distinct())
    var labels = graft.util.QueryCache.persist(
      edges.select(col("u").as("id")).distinct()
        .withColumn("cluster_id", col("id")))
    // Convergence witness: labels only ever DECREASE under min-propagation,
    // so the label sum is strictly monotone until fixpoint — one decimal
    // aggregate per round replaces a join-based change detector.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      // sum over an EMPTY frame is SQL NULL — an empty graph must read as
      // converged, not NPE in compareTo
      val s = df.agg(sum(col("cluster_id").cast(DecimalType(38, 0))))
        .collect()(0).getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // candidate label per node: min over (own, neighbours' labels)
      val nbr = edges
        .join(labels.select(col("id").as("v"), col("cluster_id").as("nl")), "v")
        .groupBy(col("u").as("id")).agg(min(col("nl")).as("nbl"))
      // registered with the query scope too: rounds unpersist their
      // predecessor below, but the FINAL labels frame is returned and
      // must be reclaimed by the enclosing scope, not leak session-wide
      val next = graft.util.QueryCache.persist(
        labels.join(nbr, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster_id"), coalesce(col("nbl"), col("cluster_id")))
              .as("cluster_id")))
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      rounds += 1
    }
    edges.unpersist()
    labels
  }

  /** Duplicate families: docs sharing any verbatim `gramLen`-char window
    * form an edge; the transitive closure groups A~B~C even when A and C
    * share nothing directly. Returns (doc_id, cluster_id = min doc id of
    * the family) for every doc in some family. Window df is bounded by
    * `maxDf` before pair expansion (the k-squared guard, same reasoning
    * as [[ngramJaccard]]'s gramDfCap). */
  def duplicateFamilies(docs: DataFrame, id: String, text: String,
                        gramLen: Int, stride: Int,
                        maxDf: Long = 1000L): DataFrame = {
    val grams = windowGrams(docs, id, text, gramLen, stride)
      .select("doc_id", "h").distinct()
    val df = grams.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf).select("h")
    val dup = grams.join(df, "h")
    val pairs = dup.select(col("h"), col("doc_id").as("id_a"))
      .join(dup.select(col("h"), col("doc_id").as("id_b")), "h")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "doc_id")
  }

  /** Canonical-document selection: collapse each duplicate family to ONE
    * representative — the doc maximizing `quality` (ties to the smallest
    * id) — and report what the collapse drops. This is the step after
    * [[duplicateFamilies]] in a dedup pipeline: clustering tells you WHO is
    * duplicated; this decides WHAT survives.
    *
    * `families` is (doc_id, cluster_id); the ranking window partitions by
    * cluster_id, which family sizes bound (no global window). Returns one
    * row per family: (cluster_id, family_size, keep_id, keep_quality,
    * dropped_docs). */
  def familyRepresentatives(docs: DataFrame, families: DataFrame,
                            id: String, quality: Column): DataFrame = {
    val joined = families
      .join(docs.select(col(id).as("doc_id"), quality.as("__q")), "doc_id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("__q").desc, col("doc_id"))
    joined.withColumn("__rk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("family_size"),
        min(when(col("__rk") === 1, col("doc_id"))).as("keep_id"),
        min(when(col("__rk") === 1, col("__q"))).as("keep_quality"),
        (count(lit(1)) - 1).as("dropped_docs"))
  }

  /** Benchmark decontamination (training-corpus hygiene; the n-gram
    * overlap check of GPT-3 appx. C / PaLM-style eval decontamination):
    * flag corpus docs sharing any verbatim `gramLen`-char window with a
    * benchmark/eval set. Returns (doc_id, bench_hits, first_hit_pos) for
    * affected corpus docs.
    *
    * Scale shape: the benchmark gram set is tiny next to the corpus, so
    * it BROADCASTS — corpus grams stream map-side against the broadcast
    * set and the only shuffle is the per-doc count. duplicateSpans keys
    * the shuffle by the corpus's own window space; this op never
    * shuffles the corpus at all. */
  def contamination(corpus: DataFrame, bench: DataFrame,
                    id: String, text: String,
                    gramLen: Int, stride: Int): DataFrame = {
    val cg = windowGrams(corpus, id, text, gramLen, stride)
    val bg = windowGrams(bench, id, text, gramLen, stride)
      .select("h").distinct()
    cg.join(broadcast(bg), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("bench_hits"), min(col("p")).as("first_hit_pos"))
  }

  /** Bloom-filter membership prefilter for cross-corpus dedup: build one
    * bloom over corpus A's content keys (a partial+final aggregate — the
    * filter, not the keys, ships to the driver), broadcast it inside the
    * `might_contain` expression, and keep only corpus B rows that might
    * collide. False POSITIVES pass through (callers verify exactly, e.g.
    * with [[exact]]'s key join on the survivors); false negatives cannot
    * happen, so no duplicate escapes. At 100 TB this turns "join B against
    * all of A" into "scan B against a few hundred MB of bits" — the
    * standard new-crawl-versus-historical-corpus topology. */
  def bloomPrefilter(reference: DataFrame, candidates: DataFrame,
                     text: String,
                     expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    // BloomFilterAggregate is the engine's own sketch (what Catalyst's
    // runtime join pruning inserts); it sizes by BITS, so derive them
    // from fpp via the standard m = -n·ln(p)/ln(2)^2
    val numBits = math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    // The aggregate SILENTLY clamps to the runtime-join-pruning conf caps
    // (4M items / 8 MB bits by default) — a saturated filter would pass
    // ~everything and quietly defeat the prefilter. Raise the caps on a
    // CLONED session (isolated SQL conf, shared context + cache) and run
    // the build there: concurrent queries on the caller's session keep
    // their caps, and concurrent builds can't race each other's restores.
    val spark = reference.sparkSession
    val build = GraftBridge.cloneSession(spark)
    build.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      math.max(expectedItems, 4000000L))
    build.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
      math.max(numBits, 67108864L))
    // the filter aggregates distributedly; only the finished bitset (KBs
    // to ~100s of MB, per numBits) returns to the driver and ships as a
    // plan literal — might_contain requires a CONSTANT bloom
    val bloomBytes = GraftBridge.inSession(
        reference.select(contentKey(col(text)).as("__k"))
          .agg(GraftBridge.column(new BloomFilterAggregate(
            GraftBridge.expression(xxhash64(col("__k"))),
            GraftBridge.expression(lit(expectedItems)),
            GraftBridge.expression(lit(numBits))).toAggregateExpression())
            .as("__bloom")), build)
      .collect()(0).getAs[Array[Byte]](0)
    candidates.withColumn("__ck", contentKey(col(text)))
      .filter(GraftBridge.column(BloomFilterMightContain(
        GraftBridge.expression(lit(bloomBytes)),
        GraftBridge.expression(xxhash64(col("__ck"))))))
      .drop("__ck")
  }

  /** Semantic dedup via embedding clusters (the SemDeDup recipe of Abbas
    * et al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): unit-normalize, cluster coarsely with
    * k-means (on unit vectors squared-L2 is monotone in cosine), then
    * inside each cluster drop every doc that has a LOWER-id doc with
    * cosine >= `threshold` — the keep-first greedy approximation, which is
    * one within-cluster self-join instead of a sequential scan. Returns
    * the PRUNED rows: (id, cluster, max_cos to a lower-id cluster member
    * — greedy approximation: the neighbor may itself be pruned, so this
    * prunes slightly more than true keep-first sequential SemDeDup).
    *
    * Scale: the self-join is quadratic per cluster, so k must scale with
    * the corpus (k ~ N/C bounds expected cluster population at C); the
    * cluster key partitions the join, so skew stays per-cluster. */
  def semDedup(vecs: DataFrame, id: String, vec: String,
               k: Int, iters: Int, threshold: Double): DataFrame = {
    // persist: the Lloyd loop makes iters+2 passes (init collect,
    // per-round assign+update, final assign) — without materialisation
    // each re-runs the normalization from the source scan. The caller's
    // QueryCache scope releases the entries, so they are query-scoped.
    val normed = graft.util.QueryCache.persist(
      graft.util.Parallelize.ensure(vecs)
        .select(col(id), Cluster.l2normalize(col(vec)).as("__nv")))
    val (km, n, dim) = Cluster.kmeansWithStats(normed, id, "__nv", k, iters)
    val assigned = graft.util.QueryCache.persist(
      km.select(col(id), col("__nv"), col("cluster")))
    val lo = assigned.select(col("cluster"), col(id).as("id_a"),
      col("__nv").as("__va"))
    val hi = assigned.select(col("cluster"), col(id).as("id_b"),
      col("__nv").as("__vb"))
    // Join strategy: a shuffle join on `cluster` has parallelism = k, and
    // SemDeDup runs are often configured with small k relative to cores
    // (the quadratic-per-cluster bound wants k ~ N/C, but pipelines tune k
    // down when clusters are cheap). When the whole assigned set fits a
    // broadcast (row count × dim come free from the Lloyd loop's own
    // per-dimension sums — no extra job), broadcast the build side: pair
    // generation then parallelizes over the PROBE side's partitions
    // instead of k join keys, with zero shuffle. Past the threshold (or
    // when iters == 0 left the stats empty) the cluster-partitioned
    // shuffle join is the only scale-correct shape, so it stays the
    // default.
    val approxBytes =
      if (n == 0L) Long.MaxValue else n * (dim.toLong * 8L + 24L)
    val joined =
      if (approxBytes <= (64L << 20)) lo.join(broadcast(hi), "cluster")
      else lo.join(hi, "cluster")
    joined.filter(col("id_a") < col("id_b"))
      .withColumn("cos", Cluster.dotFold(col("__va"), col("__vb")))
      .filter(col("cos") >= threshold)
      .groupBy(col("id_b").as(id), col("cluster"))
      .agg(max(col("cos")).as("max_cos"))
  }

  /** Blocked fuzzy record linkage (edit distance): per record, how many
    * OTHER records in its block sit within `maxDist` Levenshtein edits
    * (strictly > 0 — exact duplicates are [[exact]]'s job) and the
    * nearest such neighbor (ties: smaller distance, then smaller id).
    * Levenshtein is the same integer DP in every engine, so the profile
    * is oracle-exact. Candidate pairs are quadratic WITHIN a block —
    * the standard record-linkage cost — so the blocking key must keep
    * blocks bounded; the output is one row per record with a match. */
  def fuzzyNeighbors(df: DataFrame, id: String, name: String,
                     block: Column, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val keyed = graft.util.QueryCache.persist(
      df.select(col(id).as("__id"), col(name).as("__nm"),
        block.as("__blk")))
    val pairs = keyed.as("a")
      .join(keyed.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as(id), col("b.__id").as("__oid"),
        levenshtein(col("a.__nm"), col("b.__nm")).as("__d"))
      .filter(col("__d") > 0 && col("__d") <= maxDist)
    pairs.groupBy(col(id))
      .agg(count(lit(1)).as("n_near"),
        min(struct(col("__d"), col("__oid"))).as("__best"))
      .select(col(id), col("n_near"),
        col("__best.__oid").as("nearest_id"),
        col("__best.__d").as("nearest_dist"))
  }

  /** MinHash-LSH index quality: recall AND precision of the banded
    * bucket join's CANDIDATE pairs against the exact n-gram-Jaccard
    * ground truth at threshold tauNum/tauDen — the dedup-index eval
    * completing the ANN quartet (recall@k / NDCG / MRR / MAP judge the
    * vector index; this judges the text index). A tail-truncated
    * near-dup copy of every document is planted so the truth set is
    * dense at high Jaccard.
    *
    * Portability: unlike the production path's xxhash64 minhash (q51),
    * every hash in the CANDIDATE pipeline (signature/band/bucket) is
    * the 52-bit md5-prefix value reduced mod 2³¹−1 with affine
    * coefficients that are CLOSED FORMS of the hash index — an external
    * SQL engine replays that pipeline bit-for-bit, so the candidate SET
    * itself (not just the verified output) is gated. The TRUTH side's
    * co-shingle join is the one non-portable step: it travels as
    * xxhash64 keys (w.h.p. convention, see the inline note and the
    * gram-cardinality bound in BENCH_SCALE.md) while the oracle joins
    * the gram strings, so the oracle gate is exactly what verifies the
    * hashed join's equivalence.
    *
    * Scale shape: signatures are one hash-agg over distinct (doc,
    * shingle-hash); candidates an equi-join on (band, key); truth the
    * df-bounded co-shingle join of q52. The threshold test clears
    * denominators: c·tauDen >= (na+nb−c)·tauNum, exact integers. */
  def lshIndexEval(docs: DataFrame, id: String, text: String,
                   dropTail: Int = 5, n: Int = 3,
                   numHashes: Int = 16, bands: Int = 4,
                   tauNum: Int = 1, tauDen: Int = 2): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val p = 2147483647L // 2^31 - 1: a*h + b < 2^62, ANSI-safe
    val toks = TextAnalysis.tokens(lower(col(text)))
    val base = docs.select(col(id).cast("long").as("d"), toks.as("w"))
    val all = base.unionByName(base.select((-col("d") - 1).as("d"),
      org.apache.spark.sql.functions.slice(col("w"), lit(1),
        greatest(size(col("w")) - dropTail, lit(1))).as("w")))
    // n-gram shingles from the token array (sequence() runs BACKWARD
    // when empty — guard on size)
    val grams = when(size(col("w")) >= n,
      transform(sequence(lit(1), size(col("w")) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(k => element_at(col("w"), i + lit(k))): _*)))
      .otherwise(array())
    val sh = graft.util.QueryCache.persist(
      all.select(col("d"), explode(grams).as("g")).distinct())
    val hashed = sh.select(col("d"),
      pmod(expr("conv(substring(md5(g), 1, 13), 16, 10)").cast("long"),
        lit(p)).as("h"))
    val minCols = (0 until numHashes).map { i =>
      val a = (1299721L * (i + 1)) % p
      val b = (104729L * (i + 1)) % p
      min(pmod(col("h") * a + b, lit(p))).as(s"m$i")
    }
    val sig = hashed.groupBy(col("d")).agg(minCols.head, minCols.tail: _*)
    val bnd = sig.select(col("d"), explode(array((0 until bands).map {
      bd =>
        struct(lit(bd).as("band"),
          concat_ws(",", (0 until rows).map(r =>
            col(s"m${bd * rows + r}")): _*).as("key"))
    }: _*)).as("bk"))
      .select(col("d"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = graft.util.QueryCache.persist(
      bnd.as("a").join(bnd.as("b"),
          col("a.band") === col("b.band") &&
            col("a.key") === col("b.key") && col("a.d") < col("b.d"))
        .select(col("a.d").as("x"), col("b.d").as("y")).distinct())
    val sizes = sh.groupBy(col("d")).agg(count(lit(1)).as("nsz"))
    val truth = graft.util.QueryCache.persist(
      // the truth co-shingle join travels as 64-bit xxhash64 keys, not
      // gram STRINGS (the q51/q52 convention): the shuffle/sort runs
      // over 8-byte longs instead of ~20-char strings and equality is a
      // long compare — co-occurrence counts identical w.h.p. (~5e5
      // distinct grams at sf0.1 ⇒ collision odds ~7e-9); the oracle
      // still joins the strings, so the gate verifies the equivalence
      { val shH = sh.select(col("d"), xxhash64(col("g")).as("gh"))
        shH.as("s1").join(shH.as("s2"),
          col("s1.gh") === col("s2.gh") && col("s1.d") < col("s2.d"))
        .groupBy(col("s1.d").as("x"), col("s2.d").as("y"))
        .agg(count(lit(1)).as("c")) }
        .join(sizes.select(col("d").as("x"), col("nsz").as("na")), "x")
        .join(sizes.select(col("d").as("y"), col("nsz").as("nb")), "y")
        .filter(col("c") * tauDen >=
          (col("na") + col("nb") - col("c")) * tauNum)
        .select(col("x"), col("y")))
    val hit = truth.join(cand, Seq("x", "y"))
      .agg(count(lit(1)).as("n_hit"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit)
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        expr("""CASE WHEN n_truth = 0 THEN NULL
                ELSE n_hit * 1000000 div n_truth END""").as("recall_ppm"),
        expr("""CASE WHEN n_cand = 0 THEN NULL
                ELSE n_hit * 1000000 div n_cand END""").as("precision_ppm"))
  }
}
