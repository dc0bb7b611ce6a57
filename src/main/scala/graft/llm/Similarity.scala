package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.numerics.Numerics

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale paths:
  *  - [[bruteForceTopK]]: broadcast the (small) probe set; corpus streams
  *    once, per-partition top-k via window. Exact baseline; cost O(N·Q).
  *  - [[lshTopK]]: random-hyperplane signatures bucket the corpus; probes
  *    only score their own buckets — the 100 TB path (cost O(N + hits)).
  *  - IVF variant: coarse-quantize on a centroid table (here: per-label
  *    means as stand-in centroids), probe nearest cells only.
  */
object Similarity {

  /** Decimal-exact cosine (order-independent, reproducible across engines;
    * used where results are oracle-compared). */
  def cosine(a: Column, b: Column): Column =
    Numerics.dotDecimal(a, b) / (Numerics.normDecimal(a) * Numerics.normDecimal(b))

  /** Codegen'd cosine (native Catalyst expression, tight Java loop) — the
    * throughput path for large ANN sweeps. */
  def cosineFast(a: Column, b: Column): Column =
    graft.exprs.VectorExprs.cosineF32(a, b)

  /** Exact top-k: probes broadcast, one pass over the corpus.
    * Deterministic tie-break on corpus id. Scoring uses the codegen'd
    * sequential-fold cosine: deterministic for a given array, and a DuckDB
    * `list_reduce` fold reproduces it bit-exactly (no decimal needed). */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, id: String,
                     probeId: String, vec: String, k: Int): DataFrame = {
    val scored = corpus.select(col(id), col(vec).as("__cv"))
      .crossJoin(broadcast(probes.select(col(probeId), col(vec).as("__pv"))))
      .withColumn("cosine", cosineFast(col("__cv"), col("__pv")))
    val w = Window.partitionBy(col(probeId))
      .orderBy(col("cosine").desc, col(id))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(probeId), col("rk"), col(id), col("cosine"))
  }

  /** Deterministic ±1 sign matrix for the seeded random hyperplanes —
    * SHARED by the engine and the oracle generator, so the signature is
    * reproducible across engines (it's just literal arithmetic). */
  def rhpSigns(planes: Int, dim: Int, seed: Long = 0xC0FFEE): Array[Array[Int]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(planes, dim)(if (rng.nextBoolean()) 1 else -1)
  }

  /** Random-hyperplane signature: bit p = sign(v · r_p) with r_p a ±1
    * literal vector. Expression-only projection via the codegen'd dot
    * kernel — same index-ordered left fold as the HOF form, so a DuckDB
    * list_reduce replay matches bit-for-bit. */
  def rhpSignature(vec: Column, signs: Array[Array[Int]]): Column =
    signs.zipWithIndex.map { case (row, p) =>
      val sCol = array(row.map(v => lit(v.toDouble)): _*)
      val proj = graft.exprs.VectorExprs.dot(vec, sCol)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** LSH ANN: join probes to corpus on signature bucket, rank within
    * buckets. Probing multiple buckets (multi-probe) would flip signature
    * bits; single-probe shown. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, id: String,
              probeId: String, vec: String, signs: Array[Array[Int]],
              k: Int): DataFrame = {
    val cs = corpus.select(col(id), col(vec).as("__cv"),
      rhpSignature(col(vec), signs).as("__sig"))
    val ps = probes.select(col(probeId), col(vec).as("__pv"),
      rhpSignature(col(vec), signs).as("__sig"))
    val scored = cs.join(ps, "__sig")
      .withColumn("cosine", cosineFast(col("__cv"), col("__pv")))
    val w = Window.partitionBy(col(probeId))
      .orderBy(col("cosine").desc, col(id))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(probeId), col("rk"), col(id), col("cosine"))
  }

  /** Multi-probe LSH ANN: each probe searches its own bucket AND the
    * `planes` buckets at Hamming distance 1 (one flipped sign bit) — the
    * standard recall/cost knob: candidates grow ~(planes+1)x while the
    * corpus is still touched only via the bucket join, never scanned per
    * probe. */
  def lshTopKMultiProbe(corpus: DataFrame, probes: DataFrame, id: String,
                        probeId: String, vec: String,
                        signs: Array[Array[Int]], k: Int): DataFrame = {
    val planes = signs.length
    val cs = corpus.select(col(id), col(vec).as("__cv"),
      rhpSignature(col(vec), signs).as("__sig"))
    // materialize the signature ONCE before fanning into 1+planes probes
    // (a Column val substituted into each variant would recompute the
    // projection fold per variant)
    val ps = probes
      .select(col(probeId), col(vec).as("__pv"),
        rhpSignature(col(vec), signs).as("__sig0"))
      .select(col(probeId), col("__pv"),
        explode(array((lit(0L) +: (0 until planes).map(p =>
          shiftleft(lit(1L), p))).map(m =>
          col("__sig0").bitwiseXOR(m)): _*)).as("__sig"))
    val scored = cs.join(ps, "__sig")
      // one candidate may arrive via several probed buckets: dedupe before
      // ranking so row_number sees each (probe, candidate) pair once
      .select(col(probeId), col(id), col("__cv"), col("__pv"))
      .dropDuplicates(probeId, id)
      .withColumn("cosine", cosineFast(col("__cv"), col("__pv")))
    val w = Window.partitionBy(col(probeId))
      .orderBy(col("cosine").desc, col(id))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(probeId), col("rk"), col(id), col("cosine"))
  }

  /** Multi-cell IVF probing (the recall/cost knob of a real IVF index):
    * each probe scans its `nprobe` nearest cells instead of only the
    * home cell. Corpus rows live in exactly ONE cell, so the candidate
    * union needs no dedupe; cost is nprobe/cells of the corpus per
    * probe. Returns (probeId, vec, cellId) rows — one per probed cell. */
  def ivfProbeCells(probes: DataFrame, centroids: DataFrame, probeId: String,
                    vec: String, cellId: String, cellVec: String,
                    nprobe: Int): DataFrame = {
    val scored = probes.crossJoin(broadcast(centroids))
      .withColumn("__sim", cosineFast(col(vec), col(cellVec)))
    val w = Window.partitionBy(col(probeId))
      .orderBy(col("__sim").desc, col(cellId))
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= nprobe)
      .select(col(probeId), col(vec), col(cellId))
  }

  /** The shared IVF search tail (q54c / q157 / the ANN-recall eval):
    * candidates = corpus rows sharing a cell with the probe (`probes`
    * carries `probeId`, the probe vector as `__pv`, and `cellId` —
    * either its own assignment or an [[ivfProbeCells]] multi-probe
    * expansion), ranked by exact cosine within the per-probe group.
    * Returns (probeId, rk, id, cosine). */
  def ivfCandidateTopK(assigned: DataFrame, probes: DataFrame,
                       id: String, vec: String, probeId: String,
                       cellId: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(probeId))
      .orderBy(col("cosine").desc, col(id))
    assigned.join(probes, cellId)
      .withColumn("cosine", cosineFast(col(vec), col("__pv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(probeId), col("rk"), col(id), col("cosine"))
  }

  /** IVF-style coarse index: centroid per cell (provided), assign corpus
    * rows to nearest centroid once, probe only the nearest `nprobe` cells. */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame, id: String,
                vec: String, cellId: String, cellVec: String): DataFrame = {
    val scored = vecs.crossJoin(broadcast(centroids))
      .withColumn("__sim", cosineFast(col(vec), col(cellVec)))
    val w = Window.partitionBy(col(id)).orderBy(col("__sim").desc, col(cellId))
    scored.withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
      .select(col(id), col(vec), col(cellId))
  }

  /** Cell-bucketed mutual nearest neighbors between the two sides of an
    * assigned corpus (side 0 vs side 1) — the bitext-mining /
    * cross-encoder-pairing verb: a pair (a, b) survives iff b is a's
    * top-1 on the other side AND a is b's top-1, candidates restricted
    * to pairs sharing an IVF cell (the q148 SemDeDup bound: per-cell
    * pair fan-out, never all-pairs; at 100 TB the cell count scales
    * with the corpus so cells stay bounded). Exact cosine within the
    * cell, deterministic id tie-breaks on both directions. */
  def mutualNN(assigned: DataFrame, id: String, vec: String,
               cellId: String, sideCol: String): DataFrame = {
    val a = assigned.filter(col(sideCol) === 0)
      .select(col(cellId), col(id).as("a_id"), col(vec).as("__av"))
    val b = assigned.filter(col(sideCol) === 1)
      .select(col(cellId), col(id).as("b_id"), col(vec).as("__bv"))
    val scored = a.join(b, cellId)
      .withColumn("cosine", cosineFast(col("__av"), col("__bv")))
    val wa = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id"))
    val wb = Window.partitionBy(col("b_id"))
      .orderBy(col("cosine").desc, col("a_id"))
    scored
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .filter(col("ra") === 1 && col("rb") === 1)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  /** Exact L2 top-k (the other ANN metric): squared euclidean distance
    * via the codegen'd SumSqDiff kernel, ascending rank, deterministic
    * tie-break on corpus id. Same broadcast-probe contract as
    * [[bruteForceTopK]]. */
  def l2TopK(corpus: DataFrame, probes: DataFrame, id: String,
             probeId: String, vec: String, k: Int): DataFrame = {
    val scored = corpus.select(col(id), col(vec).as("__cv"))
      .crossJoin(broadcast(probes.select(col(probeId), col(vec).as("__pv"))))
      .withColumn("dist2",
        graft.exprs.VectorExprs.sumSqDiff(col("__cv"), col("__pv")))
    val w = Window.partitionBy(col(probeId))
      .orderBy(col("dist2"), col(id))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(probeId), col("rk"), col(id), col("dist2"))
  }

  /** Per-dimension (min, max) of the corpus as ONE row of aligned arrays —
    * the scalar-quantization codebook. One posexplode + hash-agg over dim
    * keys (dim is a constant ≤ a few thousand), then a single-row
    * collect_list; broadcast-joinable onto anything. */
  def sq8Stats(corpus: DataFrame, vec: String): DataFrame =
    corpus.select(posexplode(col(vec)).as(Seq("__p", "__x")))
      .groupBy("__p").agg(
        min(col("__x").cast("double")).as("mn"),
        max(col("__x").cast("double")).as("mx"))
      .agg(sort_array(collect_list(struct(col("__p"), col("mn"), col("mx"))))
        .as("__s"))
      .select(
        transform(col("__s"), e => e.getField("mn")).as("mns"),
        transform(col("__s"), e => e.getField("mx")).as("mxs"))

  /** SQ8 codes: per-dim affine quantization of `vec` to integers in
    * [0, 255] against the broadcast codebook — the 4x-compressed stored
    * representation of an embedding column (int8 vs float32). A constant
    * dimension maps to code 0. */
  def sq8Encode(vec: Column, mns: Column, mxs: Column): Column =
    transform(sequence(lit(1), size(vec)), i => {
      val x = element_at(vec, i).cast("double")
      val lo = element_at(mns, i); val hi = element_at(mxs, i)
      when(hi === lo, lit(0L))
        .otherwise(floor((x - lo) * 255.0 / (hi - lo) + 0.5))
    })

  /** Reconstruct the dequantized double vector from SQ8 codes. */
  def sq8Decode(codes: Column, mns: Column, mxs: Column): Column =
    transform(sequence(lit(1), size(codes)), i => {
      val lo = element_at(mns, i); val hi = element_at(mxs, i)
      lo + element_at(codes, i) * (hi - lo) / 255.0
    })

  /** IVF + SQ8 residual quantization (the FAISS "IVF,SQ8" index shape,
    * composed from [[ivfAssign]] and the SQ8 codec): corpus rows are
    * assigned to coarse cells, the RESIDUAL (vec − centroid) is
    * scalar-quantized against a per-dim residual codebook, and probes
    * score only their own cell's candidates against the reconstruction
    * centroid + dequant(residual codes). Storage per row = cell id + dim
    * bytes; centroids and the codebook are broadcast. Residuals are
    * computed in DOUBLE (exact for float inputs) so the whole pipeline is
    * replayable bit-for-bit. `assigned` is [[ivfAssign]]'s output;
    * `probes` carries (probeId, probeVec, cellId). */
  def ivfSq8TopK(assigned: DataFrame, centroids: DataFrame,
                 probes: DataFrame, id: String, vec: String,
                 cellId: String, cellVec: String, probeId: String,
                 probeVec: String, k: Int): DataFrame = {
    val withRes = assigned.join(broadcast(centroids), cellId)
      .withColumn("__res", zip_with(col(vec), col(cellVec),
        (x, y) => x.cast("double") - y.cast("double")))
    val stats = sq8Stats(withRes.select(col("__res").as("__v")), "__v")
    val recon = withRes.crossJoin(stats)
      .withColumn("__codes", sq8Encode(col("__res"), col("mns"), col("mxs")))
      .withColumn("__dq", sq8Decode(col("__codes"), col("mns"), col("mxs")))
      .withColumn("__recon", zip_with(col(cellVec), col("__dq"),
        (c, d) => c.cast("double") + d))
      .select(col(id), col(cellId), col("__recon"))
    val scored = recon.join(probes, cellId)
      .withColumn("score",
        graft.exprs.VectorExprs.dot(col("__recon"), col(probeVec)))
    val w = Window.partitionBy(col(probeId))
      .orderBy(col("score").desc, col(id))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(probeId), col("rk"), col(id), col("score"))
  }

  /** Product quantization + asymmetric-distance (ADC) top-k — the FAISS
    * "PQm" index shape next to SQ8 (q204) and IVF+SQ8 (q215): each corpus
    * vector is stored as `m` sub-space centroid ids (m small ints instead
    * of 4·dim float bytes), and probes score candidates by LOOKUP — the
    * per-probe distance tables t[j][c] = ⟨probe_j, centroid_{j,c}⟩ are
    * broadcast, and a candidate's inner product is the fixed-order fold
    * Σ_j t[j][codes_j]; query time never touches the corpus floats. The
    * codebook of sub-space j is the j-th slice of the first `ksub` corpus
    * rows (the registry's deterministic stand-in for trained centroids,
    * same convention as the IVF cells of q54c), so the whole index
    * replays in SQL. Assignment = argmin of the codegen'd SumSqDiff
    * kernel on sub-slices; a strict-< left fold breaks ties to the
    * lowest code on both engines. */
  // ---- PQ codec kernels shared by pqTopK and ivfPqTopK (the exact
  // fold/tie-break conventions here are pinned bit-for-bit by the q242
  // and q246 oracles — a change must stay identical for both) ----

  /** ONE broadcast row: the codebook vectors (from `rows`' (id, vecCol)
    * pairs) as a single array column `__cb`, id order. */
  private def pqCodebookRow(rows: DataFrame, id: String,
                            vecCol: String): DataFrame =
    rows.agg(sort_array(collect_list(struct(col(id), col(vecCol))))
        .as("__s"))
      .select(transform(col("__s"), e => e.getField(vecCol)).as("__cb"))

  private def pqSlice(v: Column, j: Int, sub: Int): Column =
    slice(v, j * sub + 1, sub)
  private def pqCbVec(c: Int): Column = element_at(col("__cb"), c + 1)

  /** Encode `vecCol` against the broadcast codebook: each of the m·ksub
    * sub-distances appears exactly ONCE (the materialized `__dists`
    * array — a Column reused in a fold would be textually duplicated per
    * step), then a strict-< argmin per sub-space (ties to the lowest
    * code). Adds `__codes`. */
  private def pqEncode(df: DataFrame, cbRow: DataFrame, vecCol: String,
                       m: Int, ksub: Int, sub: Int): DataFrame = {
    import graft.exprs.VectorExprs.sumSqDiff
    df.crossJoin(cbRow)
      .withColumn("__dists", array((0 until m).map(j =>
        array((0 until ksub).map(c =>
          sumSqDiff(pqSlice(col(vecCol), j, sub),
            pqSlice(pqCbVec(c), j, sub))): _*)): _*))
      .withColumn("__codes", transform(col("__dists"), ds =>
        aggregate(sequence(lit(1), lit(ksub - 1)), lit(0),
          (best, c) => when(element_at(ds, c + 1) < element_at(ds, best + 1),
            c.cast("int")).otherwise(best))))
  }

  /** Per-probe ADC tables `__t`: the m × ksub sub-slice inner products of
    * `vecCol` with the broadcast codebook. */
  private def pqAdcTables(df: DataFrame, cbRow: DataFrame, vecCol: String,
                          m: Int, ksub: Int, sub: Int): DataFrame = {
    import graft.exprs.VectorExprs.dot
    df.crossJoin(cbRow)
      .withColumn("__t", array((0 until m).map(j =>
        array((0 until ksub).map(c =>
          dot(pqSlice(col(vecCol), j, sub),
            pqSlice(pqCbVec(c), j, sub))): _*)): _*))
  }

  /** The candidate's inner product by table LOOKUP: the fixed-order fold
    * Σ_j `__t`[j][`__codes`[j]]. */
  private def pqAdcScore(m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, j) => acc + element_at(element_at(col("__t"), j + 1),
        element_at(col("__codes"), j + 1) + 1))

  def pqTopK(corpus: DataFrame, probes: DataFrame, id: String,
             probeId: String, vec: String, dim: Int, m: Int, ksub: Int,
             k: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    val sub = dim / m
    val cbRow = pqCodebookRow(corpus.filter(col(id) < ksub)
      .select(col(id), transform(col(vec), x => x.cast("double")).as("__cv")),
      id, "__cv")
    val coded = pqEncode(corpus
        .select(col(id), transform(col(vec), x => x.cast("double")).as("__v")),
      cbRow, "__v", m, ksub, sub)
      .select(col(id), col("__codes"))
    val tabbed = pqAdcTables(probes
        .select(col(probeId),
          transform(col(vec), x => x.cast("double")).as("__pv")),
      cbRow, "__pv", m, ksub, sub)
      .select(col(probeId), col("__t"))
    val scored = coded.crossJoin(broadcast(tabbed))
      .withColumn("score", pqAdcScore(m))
    val w = Window.partitionBy(col(probeId))
      .orderBy(col("score").desc, col(id))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(probeId), col("rk"), col(id), col("score"))
  }

  /** Hard-negative mining for contrastive training: for each anchor the
    * top-k MOST similar candidates that are NOT near-duplicates — rows
    * with cosine ≥ `dupCeil` are positives/duplicates (the anchor itself
    * scores 1 and is excluded by any ceiling < 1), everything below ranks
    * by similarity descending. Same broadcast-probe one-scan contract as
    * [[bruteForceTopK]]; the ceiling filter runs BEFORE the rank window,
    * so survivors are the band's true top-k. */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, id: String,
                    probeId: String, vec: String, k: Int,
                    dupCeil: Double): DataFrame = {
    val scored = corpus.select(col(id), col(vec).as("__cv"))
      .crossJoin(broadcast(probes.select(col(probeId), col(vec).as("__pv"))))
      .withColumn("cosine", cosineFast(col("__cv"), col("__pv")))
      .filter(col("cosine") < dupCeil)
    val w = Window.partitionBy(col(probeId))
      .orderBy(col("cosine").desc, col(id))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(probeId), col("rk"), col(id), col("cosine"))
  }

  /** IVF + PQ with residual codes — the FAISS "IVF{cells},PQ{m}" index,
    * the production shape for billion-scale ANN (coarse cells bound the
    * scan, PQ codes bound the memory): corpus rows are assigned to coarse
    * cells ([[ivfAssign]]), the RESIDUAL (vec − centroid) is
    * product-quantized against a cell-shared residual codebook (the
    * [[pqTopK]] codec on residuals), and probes score only their own
    * cell's candidates by pure table lookup —
    * score = ⟨probe, centroid⟩ + Σ_j t[j][codes_j] with the per-probe ADC
    * tables t[j][c] = ⟨probe_j, cb_{j,c}⟩ broadcast. Query time touches
    * per candidate only its m small ints; storage per row = cell id + m
    * codes. The residual codebook stand-in is the residuals of the first
    * `ksub` corpus rows in id order (the q54c/q242 trained-centroid
    * convention), so the whole index replays in SQL. `assigned` is
    * [[ivfAssign]]'s output; `probes` carries (probeId, probeVec, cellId).
    * All arithmetic is fixed-order IEEE double folds — bit-replayable. */
  def ivfPqTopK(assigned: DataFrame, centroids: DataFrame,
                probes: DataFrame, id: String, vec: String,
                cellId: String, cellVec: String, probeId: String,
                probeVec: String, dim: Int, m: Int, ksub: Int,
                k: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    val sub = dim / m
    import graft.exprs.VectorExprs.dot
    val withRes = assigned.join(broadcast(centroids), cellId)
      .withColumn("__res", zip_with(col(vec), col(cellVec),
        (x, y) => x.cast("double") - y.cast("double")))
    // ONE broadcast row: residuals of the ksub stand-in rows, id order
    val cbRow = pqCodebookRow(
      withRes.filter(col(id) < ksub).select(col(id), col("__res")),
      id, "__res")
    // encode residuals with the shared PQ kernel (q242 conventions)
    val coded = pqEncode(withRes, cbRow, "__res", m, ksub, sub)
      .select(col(id), col(cellId), col("__codes"))
    // probe side: per-cell centroid inner product + the m×ksub ADC tables
    val tabbed = pqAdcTables(probes
        .select(col(probeId), col(cellId),
          transform(col(probeVec), x => x.cast("double")).as("__pv"))
        .join(broadcast(centroids), cellId)
        .withColumn("__cterm", dot(col("__pv"), col(cellVec))),
      cbRow, "__pv", m, ksub, sub)
      .select(col(probeId), col(cellId), col("__cterm"), col("__t"))
    // candidates = the probe's own cell only (q215's single-probe
    // contract); the join key is the cell id, tables ride along broadcast
    val scored = coded.join(broadcast(tabbed), cellId)
      .withColumn("score", col("__cterm") + pqAdcScore(m))
    val w = Window.partitionBy(col(probeId))
      .orderBy(col("score").desc, col(id))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(probeId), col("rk"), col(id), col("score"))
  }

  /** SQ8 scalar-quantized ANN (the compressed-index scale path, asymmetric
    * distance: int8 corpus codes vs full-precision probes). The codebook
    * is 2·dim doubles (one broadcast row), corpus rows carry only their
    * codes, and scoring reconstructs each candidate once and runs the
    * codegen'd dot kernel. Ranking metric is the INNER PRODUCT (MIPS; on
    * unit-normalized embeddings this equals [[bruteForceTopK]]'s cosine
    * ranking), with quantization error bounded by half a step per dim —
    * recall stays high while the resident index shrinks 4x, which is what
    * lets a 100 TB embedding sweep fit in executor memory. */
  def sq8TopK(corpus: DataFrame, probes: DataFrame, id: String,
              probeId: String, vec: String, k: Int): DataFrame = {
    val stats = sq8Stats(corpus, vec)
    val quant = corpus.crossJoin(stats)
      .withColumn("__codes", sq8Encode(col(vec), col("mns"), col("mxs")))
      .withColumn("__dq", sq8Decode(col("__codes"), col("mns"), col("mxs")))
      .select(col(id), col("__dq"))
    val scored = quant
      .crossJoin(broadcast(probes.select(col(probeId), col(vec).as("__pv"))))
      .withColumn("score",
        graft.exprs.VectorExprs.dot(col("__dq"), col("__pv")))
    val w = Window.partitionBy(col(probeId))
      .orderBy(col("score").desc, col(id))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(probeId), col("rk"), col(id), col("score"))
  }
}
