package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / mixing operators for training-data pipelines.
  *
  * Both are hash-threshold draws, not `rand()`: the keep/replicate decision
  * is a PURE FUNCTION of the row id, so a 100 TB corpus reprocessed
  * incrementally (or on a different cluster) reproduces the same sample
  * bit-for-bit, and no shuffle or seed plumbing is needed — the draw is a
  * scan-stage projection. Same rationale as [[Splits]]; the hash is the
  * portable md5 prefix so external systems (and the DuckDB oracle) can
  * replay the assignment.
  */
object Sampling {

  /** Deterministic bucket in [0, 10000) from the id's md5 prefix.
    * 24 hash bits against 10^4 buckets keeps the modulo bias < 0.06%.
    * `salt` decorrelates independent draws over the same ids (a sampling
    * draw and a mixing draw must not reuse the same coin). */
  def bucketBp(id: Column, salt: String): Column =
    pmod(conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 6),
      16, 10).cast("long"), lit(10000L))

  /** Stratified downsampling: keep a row iff its bucket falls under the
    * stratum's rate (basis points, 10000 = keep all). Strata absent from
    * `ratesBp` use `defaultBp`. One scan, no shuffle; expected stratum
    * sizes are rate-exact and the realized sample is reproducible. */
  def stratifiedSample(df: DataFrame, id: String, stratum: String,
                       ratesBp: Map[String, Int],
                       defaultBp: Int = 10000): DataFrame = {
    val rate = ratesBp.foldLeft(lit(defaultBp)) { case (acc, (k, v)) =>
      when(col(stratum) === k, lit(v)).otherwise(acc)
    }
    df.filter(bucketBp(col(id), "#strat") < rate)
  }

  /** Exactly-n-per-stratum deterministic sample: SEMANTICS are "rank every
    * row by md5(id) inside its stratum, keep the n smallest" — a pure
    * function of the ids, reproducible anywhere. A direct window over each
    * stratum would sort whole strata (billions of rows each at 100 TB), so
    * the IMPLEMENTATION is two-phase: a hash-PREFIX prefilter keeps rows
    * whose 16-bit hash prefix falls under ~4n/N of the hash space (~4n
    * expected rows per stratum; prefix order agrees with full-hash order,
    * so if >= n rows survive, the true top-n all survive), and the ranking
    * window runs on those O(n)-sized groups only. Strata whose survivor
    * count undershoots min(n, N) — Chernoff-rare, P ~ e^{-n/2} — fall back
    * to the unfiltered stratum, so the output is ALWAYS exactly the rank
    * semantics, never approximately. Driver state: one O(#strata) count
    * pair, collected because it picks the fallback strata (control flow,
    * not a prefix — unlike [[graft.model.Positions.bucketOffsets]]). */
  def exactStratifiedSample(df: DataFrame, id: String, stratum: String,
                            n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val hkey = md5(concat(col(id).cast("string"), lit("#exact")))
    val b16 = conv(substring(hkey, 1, 4), 16, 10).cast("long")
    // non-null join/grouping key so a NULL stratum forms its own stratum
    // instead of vanishing through null-rejecting equi-joins
    val skOf = coalesce(col(stratum).cast("string"), lit("\u0000null\u0000"))
    val keyed = df.withColumn("__sk", skOf)
    // ONE count job feeds both the driver maps and the broadcast side
    val countRows = keyed.groupBy(col("__sk")).agg(count(lit(1)).as("__N"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    import spark.implicits._
    val counts = countRows.toSeq.toDF("__sk", "__N")
    val joined = keyed.join(counts, "__sk")
    val cutoff = least(lit(65536.0), ceil(lit(262144.0) * n / col("__N")))
    // persist: the collect below materialises the cache; the final window
    // pass reads it. The caller's QueryCache scope releases it (eager
    // localCheckpoint here cost an extra blocking job — measured 2× on
    // this query).
    val pre = graft.util.QueryCache.persist(joined.filter(b16 < cutoff))
    val nBy = countRows.toMap
    val preBy = pre.groupBy(col("__sk")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val short = nBy.keys.filter(s =>
      preBy.getOrElse(s, 0L) < math.min(n.toLong, nBy(s))).toSeq
    val candidates =
      if (short.isEmpty) pre
      else pre.filter(!col("__sk").isin(short: _*))
        .unionByName(joined.filter(col("__sk").isin(short: _*)))
    val w = Window.partitionBy(col("__sk")).orderBy(hkey, col(id))
    candidates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .withColumnRenamed("__rn", "rank").drop("__N", "__sk")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006):
    * every row draws the exponential key `-ln(u)/w` from a DETERMINISTIC
    * uniform u (24-bit md5 bucket, shifted by +0.5 so u is never 0) and
    * the n smallest keys win — inclusion probability proportional to `w`
    * without replacement, reproducible anywhere. The top-n is
    * TakeOrdered (per-partition heaps + one k-row merge), never a global
    * sort; keys round to 8 dp (ties then break on id) so an external
    * engine replays the exact draw. Rows with non-positive weight have
    * no well-defined inclusion odds and are EXCLUDED from the draw (a
    * negative weight would otherwise produce a negative key that
    * deterministically wins). */
  def weightedSample(df: DataFrame, id: String, weight: Column,
                     n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(col(id).cast("string"),
      lit("#wsample"))), 1, 6), 16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(16777216.0)
    val key = round(-log(u) / weight, 8)
    val top = df.filter(weight > 0)
      .withColumn("__key", key)
      .orderBy(col("__key"), col(id)).limit(n)
    val w = Window.orderBy(col("__key"), col(id))
    top.withColumn("draw_rank", row_number().over(w))
      .withColumnRenamed("__key", "es_key")
  }

  /** Source mixing with fractional epochs (the data-mixture step of a
    * pretraining pipeline: weight 2.5 on wiki = every wiki doc appears
    * 2-3 times, deterministically). A weight of `wBp` basis points yields
    * `wBp div 10000` full copies per row plus one extra copy for rows
    * whose mixing bucket falls under `wBp mod 10000`. Emits a 0-based
    * `copy` index per replica (downstream shuffling/packing can salt on
    * it); rows drawn to zero copies disappear.
    *
    * Scale shape: pure scan-stage explode — the only data growth is the
    * intended epoch factor; no shuffle, no driver state. */
  def mixSources(df: DataFrame, id: String, source: String,
                 weightsBp: Map[String, Int],
                 defaultBp: Int = 10000): DataFrame = {
    val wBp = weightsBp.foldLeft(lit(defaultBp)) { case (acc, (k, v)) =>
      when(col(source) === k, lit(v)).otherwise(acc)
    }
    val extra = when(bucketBp(col(id), "#mix") < wBp % 10000, 1).otherwise(0)
    val copies = floor(wBp / 10000).cast("int") + extra
    // sequence(0, -1) would yield a DESCENDING [0,-1] in Spark — guard the
    // zero-copy case with an empty array so explode drops the row
    val reps = when(copies > 0, sequence(lit(0), copies - 1))
      .otherwise(array().cast("array<int>"))
    df.withColumn("copy", explode(reps))
  }

  /** Token-budget mixing — the pretraining-recipe verb: mixtures are
    * specified as TOKEN shares of a total budget (LLaMA / DoReMi style),
    * not document fractions, so each source's epoch factor is
    * `share · budget / sourceTokens`. Epochs are held as integer basis
    * points `epochsBp = (shareBp · budget) div tokens` (exact integral
    * floor-div — no float quotient to round differently across engines);
    * per document the [[mixSources]] law applies: `epochsBp div 10000`
    * whole copies plus one fractional draw against [[bucketBp]]. Sources
    * absent from `sharesBp` default to share 0 and drop out.
    *
    * Scale shape: ONE hash aggregation for the per-source token totals
    * (source cardinality is catalog-scale, broadcast back onto the scan),
    * then a scan-stage explode — the only data growth is the intended
    * epoch factor. */
  def mixToTokenBudget(df: DataFrame, id: String, source: String,
                       tokenCount: Column, sharesBp: Map[String, Int],
                       budgetTokens: Long, defaultBp: Int = 0): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val shareCol = sharesBp.foldLeft(lit(defaultBp)) { case (acc, (k, v)) =>
      when(col(source) === k, lit(v)).otherwise(acc)
    }
    val totals = df.groupBy(col(source))
      .agg(sum(tokenCount.cast("long")).as("__tok"))
    // exact integral floor-div via the SQL `div` operator — Column./ is
    // double division, and past 2^53 (shareBp·budget at real token
    // budgets) a float quotient can truncate off-by-one vs the oracle's
    // BIGINT //; `div` stays in long arithmetic
    val withE = df.join(broadcast(totals), source)
      .withColumn("__num", shareCol.cast("long") * lit(budgetTokens))
      .withColumn("__ebp", expr("__num div __tok"))
    val extra = when(
      bucketBp(col(id), "#mixtok") < col("__ebp") % 10000, 1).otherwise(0)
    val copies = expr("__ebp div 10000").cast("int") + extra
    val reps = when(copies > 0, sequence(lit(0), copies - 1))
      .otherwise(array().cast("array<int>"))
    withE.withColumn("copy", explode(reps))
      .drop("__tok", "__num", "__ebp")
  }

  /** Bottom-k deterministic sample: the k rows with the smallest
    * md5(id + salt) per stratum — a uniform without-replacement draw
    * that is a pure function of the ids, and MERGEABLE: the bottom-k of
    * a union is the bottom-k of the parts' bottom-k's (the KMV sketch
    * property), so incremental corpus drops re-sample consistently.
    * One partitioned window per stratum; no global window. */
  def bottomK(df: DataFrame, id: String, stratum: String, k: Int,
              salt: String = ""): DataFrame = {
    require(k > 0, s"bottomK needs k > 0, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratum))
      .orderBy(md5(concat(col(id).cast("string"), lit(salt))), col(id))
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Neyman-optimal sample allocation (Neyman 1934): split a total
    * budget B across strata proportional to N_h·σ_h — the
    * variance-minimizing design for a stratified mean, the
    * labeling-budget verb in front of [[exactStratifiedSample]].
    *
    * Exactness: σ_h is the ONE libm value (sqrt of the exact
    * integer-moment variance), rounded to 2 dp the moment it is
    * produced; the weight then rides an e2 integer grid and the
    * allocation is pure largest-remainder integer arithmetic —
    * base_h = B·w_h div Σw, the Σbase shortfall going to the largest
    * remainders (ties to the smaller stratum key, the deterministic
    * tie-break both engines share). Σ alloc = B exactly.
    *
    * Scale shape: one moments aggregate over the scan; everything
    * after runs on the STRATUM frame (windows included — bounded by
    * stratum cardinality, never data). */
  def neymanAllocation(df: DataFrame, stratum: String, valueFp: Column,
                       budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(budget > 0, s"budget $budget")
    val dec = DecimalType(38, 0)
    val m = df
      .select(col(stratum).as("stratum"), valueFp.cast("long").as("v"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("nh"),
        sum(col("v").cast(dec)).as("s1"),
        sum(col("v").cast(dec) * col("v")).as("s2"))
      // population variance from exact integer moments, ONE fixed IEEE
      // expression; sigma rounds at 2 dp, NOT the usual 8: at cents magnitudes
      // (~1e7) an 8-dp grid is below the double ulp and the engines'
      // rounding paths legitimately disagree — the grid must sit well
      // above the ulp (the "pick s so the value lands ON the grid"
      // rule from the round policy)
      .withColumn("sigma",
        when(col("nh") < 1, lit(null))
          .otherwise(round(sqrt(
            greatest((col("s2").cast("double") * col("nh") -
              col("s1").cast("double") * col("s1").cast("double")),
              lit(0.0)) / (col("nh").cast("double") * col("nh"))), 2)))
      // e2 integer weight: w = N_h * sigma * 100 (exact: sigma has
      // <= 2 dp, so *100 rounds to the integer it already is)
      .withColumn("w",
        round(col("sigma") * 100.0).cast(dec) * col("nh"))
    val tot = m.agg(sum(col("w")).cast(dec).as("tw"))
    val based = graft.util.QueryCache.persist(
      m.crossJoin(tot)
        .withColumn("base",
          expr(s"CAST($budget AS DECIMAL(38,0)) * w div nullif(tw, 0)")
            .cast("long"))
        .withColumn("rem",
          expr(s"(CAST($budget AS DECIMAL(38,0)) * w) % nullif(tw, 0)")))
    val short = based.agg((lit(budget) - sum(col("base"))).cast("long")
      .as("short"))
    // +1 to the `short` largest remainders — a window over the STRATUM
    // frame (bounded by stratum cardinality)
    val w2 = Window.orderBy(col("rem").desc, col("stratum"))
    based.crossJoin(short)
      .withColumn("rk", row_number().over(w2))
      .select(col("stratum"), col("nh"), col("sigma"),
        (col("base") + when(col("rk") <= col("short"), 1L).otherwise(0L))
          .as("alloc"))
  }

  /** Temperature-scaled source mixing (the mT5/XLM-R multilingual
    * recipe): sampling weight p_i ∝ c_i^τ flattens the source-size
    * distribution (τ < 1 up-samples small sources), then a `budget` of
    * tokens splits by exact largest-remainder division.
    *
    * Determinism: c^τ goes through the declared grid
    * round(exp(τ · round(ln c, 8)), 4) — ln rounded the moment libm
    * produces it, τ an exact shared literal, the 4-dp power re-scaled
    * to an e4 INTEGER weight — after which every division is integer
    * arithmetic (the [[neymanAllocation]] largest-remainder shape, one
    * window over the source frame). */
  def temperatureMix(df: DataFrame, source: String, tokenCount: Column,
                     budget: Long, tau: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(budget > 0, s"budget $budget")
    require(tau > 0 && tau <= 1, s"tau $tau")
    val dec = DecimalType(38, 0)
    val m = graft.util.QueryCache.persist(df
      .select(col(source).as("src"), tokenCount.cast("long").as("c"))
      .groupBy(col("src"))
      .agg(sum(col("c")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("w",
        round(round(exp(lit(tau) *
          round(log(col("n_tokens").cast("double")), 8)), 4) * 1e4)
          .cast(dec)))
    val tot = m.agg(sum(col("w")).cast(dec).as("tw"))
    val based = graft.util.QueryCache.persist(
      m.crossJoin(tot)
        .withColumn("base",
          expr(s"CAST($budget AS DECIMAL(38,0)) * w div nullif(tw, 0)")
            .cast("long"))
        .withColumn("rem",
          expr(s"(CAST($budget AS DECIMAL(38,0)) * w) % nullif(tw, 0)")))
    val short = based.agg((lit(budget) - sum(col("base"))).cast("long")
      .as("short"))
    val w2 = Window.orderBy(col("rem").desc, col("src"))
    based.crossJoin(short)
      .withColumn("rk", row_number().over(w2))
      .select(col("src"), col("n_tokens"),
        col("w").cast("long").as("weight_e4"),
        (col("base") + when(col("rk") <= col("short"), 1L).otherwise(0L))
          .as("alloc"))
  }
}
