package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch over a token stream — the classic fixed-memory
  * heavy-hitter estimator for corpora whose vocabulary does not fit
  * anywhere (Cormode & Muthukrishnan, "An improved data stream summary:
  * the count-min sketch and its applications", J. Algorithms 2005).
  *
  * Scale shape: the sketch build is ONE scan — each token emits its d
  * (row, cell) coordinates into a partial+final hash aggregate whose
  * keyspace is bounded at d*w cells regardless of corpus size; the
  * shuffle carries at most d*w rows per partition. Point estimates join
  * the (tiny) probe set against the d*w-row sketch on (row, cell) —
  * broadcast-sized on both sides.
  *
  * Determinism contract (the repo-wide convention): the hash is the
  * PORTABLE md5-prefix key (28 bits) through fixed Carter-Wegman rows
  * mod p = 2^31-1 — a pure function of the token, so the same corpus
  * sketched on any cluster (or replayed by the DuckDB oracle) produces
  * bit-identical cells. a*h + b stays under 2^60: ANSI-safe.
  */
object Sketch {

  val P = 2147483647L // 2^31 - 1, Mersenne prime

  /** Fixed pairwise-independent row constants (a, b), a odd. */
  val cmRows: Seq[(Long, Long)] = Seq(
    (1103515245L, 12345L),
    (1664525L, 1013904223L),
    (22695477L, 1L),
    (69069L, 362437L))

  /** 28-bit integer key of a token: md5 hex prefix (7 nibbles), the
    * portable hash every oracle can replay. */
  def tokenKey(tok: Column): Column =
    conv(substring(md5(tok), 1, 7), 16, 10).cast("long")

  private def cell(h: Column, a: Long, b: Long, w: Int): Column =
    pmod(pmod(lit(a) * h + lit(b), lit(P)), lit(w))

  /** Long-form sketch of `tokCol` in `toks`: (row, cell, cnt) — d*w
    * bounded rows, one scan. */
  def countMin(toks: DataFrame, tokCol: String, w: Int,
               rows: Seq[(Long, Long)] = cmRows): DataFrame = {
    val h = tokenKey(col(tokCol))
    val coords = rows.zipWithIndex.map { case ((a, b), j) =>
      struct(lit(j).as("row"), cell(h, a, b, w).as("cell"))
    }
    toks.select(explode(array(coords: _*)).as("rc"))
      .groupBy(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** 28-bit keyspace of [[tokenKey]] (md5 hex prefix, 7 nibbles). */
  val KeySpace = 1L << 28

  /** KMV (k-minimum-values / bottom-k) distinct sketches per stratum
    * plus set-operation ESTIMATES for every stratum pair (Beyer et al.,
    * "On synopses for distinct-value estimation under multiset
    * operations", SIGMOD 2007).
    *
    * The per-stratum sketch is the k smallest [[tokenKey]] hashes of
    * the stratum's DISTINCT tokens — mergeable (bottom-k of a union =
    * bottom-k of the parts' bottom-k's), so sketches from independent
    * corpus drops combine without re-reading data. Estimates:
    * distinct(U) = (k−1)·2^28 div h_k (exact count when |U| < k),
    * Jaccard = |both ∩ bottom-k(U)| / |bottom-k(U)|, intersection via
    * their product — ALL on truncating integer division, so every
    * engine replays them bit-identically.
    *
    * Scale shape: the corpus-touching work is one distinct aggregate on
    * (stratum, hash) + one per-stratum bottom-k window; the pair stage
    * runs over sketch rows only (#strata·k), broadcast-sized by
    * construction. */
  def kmvPairs(toks: DataFrame, stratum: String, tokCol: String, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"kmvPairs needs k >= 2, got $k")
    val keys = toks
      .select(col(stratum).as("s"), tokenKey(col(tokCol)).as("h"))
      .distinct()
    // bottom-k per stratum: the window runs over (stratum, distinct
    // hash) rows, partitioned by stratum — never over raw tokens
    val sig = keys
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("s")).orderBy(col("h"))))
      .filter(col("rk") <= k)
      .select("s", "h")
    // pair grid: #strata² rows of stratum NAMES — data-independent and
    // tiny; the only non-equi join in the verb (whitelisted per query)
    val pairs = sig.select(col("s").as("s1")).distinct()
      .join(sig.select(col("s").as("s2")).distinct(),
        col("s1") < col("s2"))
    // union rows per pair as TWO equi-joins (s = s1, s = s2) — never an
    // OR condition (which would nested-loop); #pairs x (2k at most)
    val u = pairs.join(sig, col("s") === col("s1"))
      .unionByName(pairs.join(sig, col("s") === col("s2")))
      .groupBy(col("s1"), col("s2"), col("h"))
      .agg((countDistinct(col("s")) === 2).as("both"))
    val ranked = u.withColumn("rk", row_number().over(
      Window.partitionBy(col("s1"), col("s2")).orderBy(col("h"))))
      .filter(col("rk") <= k)
    ranked.groupBy("s1", "s2")
      .agg(count(lit(1)).as("m"), max(col("h")).as("hk"),
        sum(when(col("both"), 1L).otherwise(0L)).as("n_both"))
      .withColumn("union_est",
        when(col("m") < k, col("m"))
          .otherwise(expr(s"(${k - 1}L * $KeySpace) div hk")))
      .withColumn("jaccard_ppm", expr("n_both * 1000000L div m"))
      .withColumn("inter_est", expr("n_both * union_est div m"))
  }

  /** Equi-width histogram sketch + quantile estimates read off it —
    * the fixed-memory distributed-percentile shape (the exact-quantile
    * path shuffles values; this shuffles BIN COUNTS, bounded by the
    * value range / width regardless of row count, and histograms from
    * partial scans merge by cell addition).
    *
    * Exactness: bin = v div width (truncating integral div), the rank
    * target is ceil(q·N/100) = (q·N + 99) div 100, and the in-bin
    * interpolated estimate rides the ppm grid — est_ppm = lo·10⁶ +
    * (width·(target − cum_prev)·10⁶) div cnt — so every output cell is
    * an exact integer on every engine.
    *
    * @param df integral `valueCol` (put prices on the cents grid first)
    * @return one row per requested percentile: (q_pct, target_rank,
    *         bin, lo, est_ppm) */
  def histogramQuantile(df: DataFrame, valueCol: String, width: Long,
                        qPcts: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(width > 0 && qPcts.nonEmpty)
    val bins = df.select(expr(s"$valueCol div $width").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    // prefix over the aggregated bin frame — bounded by the histogram
    // width, not the data
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = bins.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("prev", col("cum") - col("cnt"))
    val tot = bins.agg(sum(col("cnt")).as("n"))
    cum.crossJoin(tot)
      .select(col("bin"), col("cnt"), col("cum"), col("prev"), col("n"),
        explode(array(qPcts.map(lit(_)): _*)).as("q_pct"))
      .withColumn("target", expr("(q_pct * n + 99) div 100"))
      .filter(col("cum") >= col("target"))
      .groupBy(col("q_pct"))
      .agg(min(struct(col("bin"), col("cnt"), col("prev"), col("target")))
        .as("__p"))
      .select(col("q_pct"), col("__p.target").as("target_rank"),
        col("__p.bin").as("bin"),
        (col("__p.bin") * width).as("lo"),
        (col("__p.bin") * width * lit(1000000L) +
          expr(s"($width * (__p.target - __p.prev) * 1000000L)" +
            " div __p.cnt")).as("est_ppm"))
  }

  /** Point estimates for the tokens in `probes(tokCol)`: est = min over
    * the d rows of the probed cell. CMS guarantees est >= true count,
    * with overcount bounded by (e/w)*N w.p. 1-(1/2)^d. `probes` is a
    * small frame (heavy-hitter candidates, an eval set) — the join is
    * (|probes|*d) x (d*w), both broadcast-scale. */
  def estimate(sketch: DataFrame, probes: DataFrame, tokCol: String,
               w: Int, rows: Seq[(Long, Long)] = cmRows): DataFrame = {
    val h = tokenKey(col(tokCol))
    val coords = rows.zipWithIndex.map { case ((a, b), j) =>
      struct(lit(j).as("row"), cell(h, a, b, w).as("cell"))
    }
    probes.select(col(tokCol), explode(array(coords: _*)).as("rc"))
      .select(col(tokCol), col("rc.row").as("row"), col("rc.cell").as("cell"))
      .join(sketch, Seq("row", "cell"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy(tokCol)
      .agg(min(col("cnt")).as("est"))
  }
}
