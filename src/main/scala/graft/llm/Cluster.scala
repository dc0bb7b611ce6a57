package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding clustering — Lloyd's k-means, the workhorse behind
  * cluster-balanced data curation (SemDeDup-style pruning, topic-balanced
  * sampling) and IVF index training over a corpus's embedding column.
  *
  * Distributed shape per iteration (the map-reduce k-means):
  *  - ASSIGN: the k centroids broadcast as literals; nearest-centroid is a
  *    pure projection over the corpus (argmin of k squared-L2 folds) — no
  *    shuffle, the [[Similarity.ivfAssign]] topology.
  *  - UPDATE: per-dimension sums via posexplode + partial/final hash agg;
  *    only k*dim aggregate rows ever reach the driver.
  *
  * Determinism / portability: initialization is the k lowest-id vectors
  * (not random), per-dimension sums accumulate in DECIMAL (order-independent
  * — a double sum would vary with partial-agg order), and each new centroid
  * coordinate is `cast(sum as double) / n` — so an external engine (the
  * DuckDB oracle replays both iterations in SQL) reproduces the centroids,
  * assignments, and distances bit-for-bit. */
object Cluster {

  /** Dot product of two double-vector columns — on unit vectors this IS
    * cosine. The native codegen kernel runs the same index-ordered
    * sequential fold as `aggregate(zip_with(a,b,*), 0d, +)` (bit-identical,
    * SQL `list_reduce`-replayable) but as a tight Java loop — the
    * interpreted higher-order form costs one lambda call per element,
    * which dominates pair-scoring joins. */
  def dotFold(a: Column, b: Column): Column =
    graft.exprs.VectorExprs.dotF64(a, b)

  /** Squared L2 distance of `vec` to a literal centroid — the native
    * codegen kernel [[graft.exprs.SumSqDiff]], running the canonical
    * index-ordered left fold (bit-identical to the `zip_with` +
    * `aggregate` HOF form a SQL `list_reduce` replays, but one generated
    * loop instead of an interpreted lambda call per element). */
  private def dist2(vec: Column, c: Array[Double]): Column =
    graft.exprs.VectorExprs.sumSqDiff(vec, array(c.map(lit(_)): _*))

  /** Unit-normalize a vector column — native codegen kernel with the
    * canonical index-ordered double fold for the norm (an external
    * `list_reduce` replays it bit-for-bit). On unit vectors, k-means'
    * squared-L2 objective is monotone in cosine (d² = 2 − 2cosθ), which
    * is what SemDeDup-style semantic dedup clusters on. */
  def l2normalize(vec: Column): Column =
    graft.exprs.VectorExprs.l2normalize(vec)

  /** Nearest-centroid assignment: adds `cluster` (0-based centroid index,
    * ties to the lowest index) and `d2` (squared L2 to it). */
  def assign(vecs: DataFrame, vec: String,
             cents: Array[Array[Double]]): DataFrame = {
    // zero centroids (empty seed input): array() of no structs cannot be
    // typed — the assignment is the empty frame with the same columns
    if (cents.isEmpty)
      return vecs.filter(lit(false))
        .withColumn("cluster", lit(0))
        .withColumn("d2", lit(0.0))
    val scored = cents.zipWithIndex.map { case (c, j) =>
      struct(dist2(col(vec), c).as("d"), lit(j).as("cid"))
    }
    // struct ordering is lexicographic, so array_min((d, cid)) is
    // argmin-with-lowest-index-tiebreak in one expression
    vecs.withColumn("__best", array_min(array(scored: _*)))
      .withColumn("cluster", col("__best.cid"))
      .withColumn("d2", col("__best.d"))
      .drop("__best")
  }

  /** [[kmeans]] plus the stats its Lloyd loop already computed: total row
    * count and vector dim (from the last iteration's per-dimension sums;
    * 0/0 when `iters == 0` — the loop never ran). Lets callers size a
    * downstream broadcast WITHOUT an extra counting job. */
  def kmeansWithStats(vecs: DataFrame, id: String, vec: String,
                      k: Int, iters: Int): (DataFrame, Long, Int) = {
    val st = new Stats
    (kmeansImpl(vecs, id, vec, k, iters, st), st.n, st.dim)
  }

  private final class Stats { var n: Long = 0L; var dim: Int = 0 }

  /** Lloyd's k-means with deterministic init (the k lowest-id vectors) and
    * a fixed iteration count; returns the final assignment (input columns
    * + `cluster` + `d2`). A cluster that empties keeps its centroid. */
  def kmeans(vecs: DataFrame, id: String, vec: String,
             k: Int, iters: Int): DataFrame =
    kmeansImpl(vecs, id, vec, k, iters, new Stats)

  /** Simplified (centroid-based) silhouette per cluster: for each point
    * a = distance to its own centroid, b = distance to the nearest
    * OTHER centroid, s = (b − a) / max(a, b) ∈ [−1, 1] — the standard
    * clustering-quality score at the centroid approximation that keeps
    * the computation ONE broadcast-assign pass (the full silhouette's
    * all-pairs a_i is quadratic and adds nothing at corpus scale).
    * Distances take one sqrt each (IEEE-exact), s rounds to 8 dp, the
    * per-cluster mean accumulates in decimal (6 dp out). */
  def simplifiedSilhouette(vecs: DataFrame, id: String, vec: String,
                           k: Int, iters: Int): DataFrame = {
    val cents = lloydCents(vecs, id, vec, k, iters, new Stats)
    // fewer than 2 seedable centroids (input has < 2 rows): "nearest
    // OTHER centroid" is undefined — return the empty per-cluster frame
    // instead of an unresolvable slot-1 extraction
    if (cents.length < 2)
      return vecs.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cluster",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("mean_silhouette",
            org.apache.spark.sql.types.DoubleType))))
    val scored = cents.zipWithIndex.map { case (c, j) =>
      struct(dist2(col(vec), c).as("d"), lit(j).as("cid"))
    }
    // ascending (d, cid): slot 0 = own centroid, slot 1 = nearest other
    val ranked = vecs.withColumn("__ds", array_sort(array(scored: _*)))
      .select(
        col("__ds")(0).getField("cid").as("cluster"),
        col("__ds")(0).getField("d").as("a2"),
        col("__ds")(1).getField("d").as("b2"))
    ranked
      .withColumn("sil",
        when(greatest(col("a2"), col("b2")) === 0, lit(0.0))
          .otherwise(round((sqrt(col("b2")) - sqrt(col("a2"))) /
            sqrt(greatest(col("a2"), col("b2"))), 8)))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("sil").cast(DecimalType(30, 8))).cast("double") /
          count(lit(1)), 6).as("mean_silhouette"))
  }

  private def lloydCents(vecs: DataFrame, id: String, vec: String,
                         k: Int, iters: Int,
                         st: Stats): Array[Array[Double]] = {
    // TakeOrderedAndProject returns rows already in id order
    val init = vecs.orderBy(col(id)).limit(k).select(col(id), col(vec))
      .collect()
    var cents: Array[Array[Double]] = init
      .map(_.getAs[scala.collection.Seq[Any]](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      }.toArray)

    // no seedable rows at all: the Lloyd loop (and assign's per-centroid
    // struct array) cannot even be EXPRESSED over zero centroids —
    // return the empty centroid set for callers to contract on
    if (cents.isEmpty) return cents

    for (_ <- 1 to iters) {
      val assigned = assign(vecs, vec, cents)
      val sums = assigned
        .select(col("cluster"), posexplode(col(vec)).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(sum(col("x").cast("double").cast(DecimalType(30, 12))).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      st.n = 0L; st.dim = 0
      sums.foreach { r =>
        val j = r.getInt(0); val pos = r.getInt(1)
        next(j)(pos) = r.getDecimal(2).doubleValue() / r.getLong(3)
        if (pos == 0) st.n += r.getLong(3)
        if (pos + 1 > st.dim) st.dim = pos + 1
      }
      cents = next
    }
    cents
  }

  private def kmeansImpl(vecs: DataFrame, id: String, vec: String,
                         k: Int, iters: Int, st: Stats): DataFrame =
    assign(vecs, vec, lloydCents(vecs, id, vec, k, iters, st))

  /** Cluster-balanced downsample: cap every cluster at the SMALLEST
    * cluster's size, keeping each cluster's rows closest to its centroid
    * (ties on id) — the topic-rebalance step of cluster-proportional data
    * curation (over-represented clusters shed their periphery first).
    * One bounded-count window per cluster key + a 1-row min-size
    * aggregate broadcast onto the scan; every row is returned with its
    * in-cluster rank and a `kept` flag so callers can filter or audit. */
  def balancedDownsample(assigned: DataFrame, id: String,
                         cluster: String = "cluster",
                         d2: String = "d2"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persist: the cap aggregate and the ranked scan both consume the
    // assignment — unpersisted, an upstream kmeans assign() projection
    // would run twice (the caller's QueryCache scope releases it)
    val a = graft.util.QueryCache.persist(assigned)
    val sizes = a.groupBy(col(cluster)).agg(count(lit(1)).as("__n"))
    val cap = sizes.agg(min(col("__n")).as("__cap"))
    val w = Window.partitionBy(col(cluster)).orderBy(col(d2), col(id))
    a
      .withColumn("rk", row_number().over(w))
      .crossJoin(cap)
      .select(col(id), col(cluster), col("rk"),
        (col("rk") <= col("__cap")).as("kept"))
  }
}
