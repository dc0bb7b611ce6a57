package graft.numerics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Poisson bootstrap (Hanley & MacGibbon 2006; Chamandy et al., "Estimating
  * Uncertainty for Massive Data Streams", Google 2012) — THE bootstrap that
  * works on a cluster: instead of resampling n rows with replacement
  * (which needs global coordination), every row independently receives a
  * Poisson(1) weight per replicate. Replicate sums are then one partial
  * aggregate per replicate — a single scan, map-side combined, shuffling
  * B rows per partition regardless of data size.
  *
  * Determinism contract: the weight is a PURE FUNCTION of (row id,
  * replicate) — an md5-prefix uniform on the 1e12 grid cut by the
  * Poisson(1) inverse-CDF thresholds below (integer constants shared
  * verbatim with the oracle SQL). No RNG state, no partition order
  * dependence: any engine replays the exact resample, and reprocessing a
  * subset reproduces its weights (the Splits.scala property applied to
  * resampling). */
object Bootstrap {

  /** floor(1e12 · P[Poisson(1) ≤ k]) for k = 0..8; u ≥ last ⇒ weight 9.
    * Shared with the oracle SQL via [[thresholdsSql]]. */
  val poissonCdf1e12: Seq[Long] = Seq(
    367879441171L, 735758882342L, 919698602928L, 981011843123L,
    996340153172L, 999405815182L, 999916758850L, 999989750803L,
    999998874797L)

  /** The CASE expression both engines share, over a u-in-[0,1e12) col. */
  def thresholdsSql(u: String): String =
    poissonCdf1e12.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 9 END")

  /** md5-prefix uniform on [0, 1e12): 13 hex chars (52 bits) mod 1e12. */
  def uniform1e12(key: Column): Column =
    pmod(conv(substring(md5(key), 1, 13), 16, 10).cast("long"),
      lit(1000000000000L))

  /** A&S 26.2.23 inverse normal of a LOWER-tail probability `p` (a
    * double-valued SQL fragment) — |error| < 4.5e-4, identical literal
    * constants in the Spark plan and any replaying engine (callers
    * round the result to a declared grid). */
  def invPhiSql(p: String): String = {
    def t(pp: String) = s"sqrt(-2.0 * ln($pp))"
    val pp = s"(CASE WHEN $p <= 0.5 THEN $p ELSE 1.0 - $p END)"
    s"""((CASE WHEN $p <= 0.5 THEN -1.0 ELSE 1.0 END) * (
          ${t(pp)}
          - (2.515517 + 0.802853 * ${t(pp)}
             + 0.010328 * (-2.0 * ln($pp)))
            / (1.0 + 1.432788 * ${t(pp)}
               + 0.189269 * (-2.0 * ln($pp))
               + 0.001308 * (-2.0 * ln($pp)) * ${t(pp)})))"""
  }

  /** A&S 26.2.17 forward normal CDF of `x` (a double-valued SQL
    * fragment; the [[graft.numerics.Stats.twoPropZBattery]] tail
    * polynomial, both signs). */
  def phiSql(x: String): String = {
    def tail(sign: String) =
      s"""(0.3989422804014327 * exp(-($x) * ($x) / 2.0)
           * ((1.0 / (1.0 $sign 0.2316419 * ($x)))
              * (0.319381530 + (1.0 / (1.0 $sign 0.2316419 * ($x)))
                 * (-0.356563782 + (1.0 / (1.0 $sign 0.2316419 * ($x)))
                    * (1.781477937 + (1.0 / (1.0 $sign 0.2316419 * ($x)))
                       * (-1.821255978 + (1.0 / (1.0 $sign 0.2316419
                          * ($x))) * 1.330274429))))))"""
    s"""(CASE WHEN $x >= 0.0 THEN 1.0 - ${tail("+")}
         ELSE ${tail("-")} END)"""
  }

  /** Poisson(1) weight from an ALREADY-MATERIALIZED uniform column —
    * the caller must bind [[uniform1e12]] with withColumn first, or the
    * md5 is textually duplicated (and recomputed) once per threshold. */
  def poissonWeight(u: Column): Column =
    poissonCdf1e12.zipWithIndex.foldRight(lit(9)) { case ((t, k), e) =>
      when(u < t, k).otherwise(e)
    }.cast("long")

  /** Percentile-bootstrap CI for the mean of an integer fixed-point
    * value: B replicate means (each `Σ w·v div Σ w` — exact truncating
    * integer division), CI endpoints as the (⌊αB⌋+1)-th and (B−⌊αB⌋)-th
    * order statistics of the B means, selected via sort_array on the
    * 1-row collect of the B-row replicate frame (B is a constant — no
    * window, no unbounded collect).
    *
    * @param id       stable row-identity column (hash input)
    * @param valueFp  integer fixed-point value column (e.g. cents)
    * @param reps     B, the replicate count
    * @param alphaPm  tail mass in per-mille (25 = 2.5% each side)
    * @return 1 row: (n_reps, mean_fp, lo_fp, hi_fp) */
  def meanCI(df: DataFrame, id: Column, valueFp: Column, reps: Int = 48,
             alphaPm: Int = 25): DataFrame = {
    require(reps >= 4 && reps <= 4096, s"reps $reps out of range")
    val cut = alphaPm * reps / 1000 // floor(alpha*B)
    require(cut * 2 < reps, s"alpha $alphaPm‰ too wide for B=$reps")
    // the md5 fan-out runs BEFORE the first exchange: a single-file
    // scan would serialize all B x rows hashes on one core without the
    // parallelism floor (no-op on already-wide inputs)
    // ONE scan: the full-data mean rides replicate 0's group as
    // conditional aggregates (every row appears in each __b group
    // exactly once, so Σ__v / count over the b=0 slice IS the full-data
    // mean — same decimal sum, same rows, bit-identical IntegralDivide)
    // instead of a second scan + broadcast of the base table.
    val means = graft.util.Parallelize.ensure(df)
      .select(id.cast("string").as("__id"), valueFp.cast("long").as("__v"))
      .withColumn("__b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("__u", uniform1e12(concat(col("__id"), lit("#"),
        col("__b").cast("string"))))
      .withColumn("__w", poissonWeight(col("__u")))
      .groupBy(col("__b"))
      // decimal(38,0) accumulation + IntegralDivide: exact at any scale
      // (long sums would wrap past 2^63; doubles lose cents past 2^53)
      .agg(expr("""sum(CAST(__w * __v AS DECIMAL(38,0)))
            div nullif(sum(__w), 0)""").as("__m"),
        expr("""sum(CASE WHEN __b = 0 THEN CAST(__v AS DECIMAL(38,0))
            END)""").as("__fs"),
        expr("count(CASE WHEN __b = 0 THEN 1 END)").as("__fn"))
    // a replicate whose Poisson weights are ALL zero yields a NULL mean
    // (the nullif guard): drop it BEFORE the aggregate, so n_reps and
    // collect_list agree — otherwise collect_list silently drops the
    // null while count still sees the row, and element_at indexes past
    // the short array (near-certain on tiny inputs: n=1 ⇒ ~37% of
    // replicates are all-zero). The n_reps === reps filter then
    // correctly EMPTIES the result for such degenerate inputs, same as
    // diffMeansCI's existing guard — and it also guarantees replicate 0
    // (the full-stat carrier) survived, so max(__fs)/max(__fn) below
    // always read b=0's values. Empty input ⇒ zero groups ⇒ the
    // count-0 aggregate row fails the filter ⇒ empty frame, no ANSI
    // throw (the EmptyInputSpec contract).
    means.filter(col("__m").isNotNull)
      .agg(count(lit(1)).as("n_reps"),
        sort_array(collect_list(col("__m"))).as("__ms"),
        max(col("__fs")).as("__fs"), max(col("__fn")).as("__fn"))
      .filter(col("n_reps") === reps)
      .select(col("n_reps"), expr("__fs div __fn").as("mean_fp"),
        element_at(col("__ms"), cut + 1).as("lo_fp"),
        element_at(col("__ms"), reps - cut).as("hi_fp"))
  }

  /** BCa (bias-corrected and accelerated) bootstrap CI for the mean —
    * the second-order-correct refinement of [[meanCI]]'s percentile
    * interval (Efron 1987): the same deterministic Poisson replicate
    * means, but the percentile RANKS adjust for median bias (z0, from
    * the fraction of replicates below the full-data mean) and for
    * skew-dependent acceleration (a, whose jackknife sum collapses in
    * closed form for the mean: θ̄_J − θ_i = (x_i − x̄)/(n−1), so
    * a = m3 / (6·m2^{3/2}) from the raw power sums — no jackknife
    * pass at all).
    *
    * Determinism: z0 and the endpoint probabilities go through the
    * Abramowitz–Stegun 26.2.23 inverse (and 26.2.17 forward) normal
    * polynomials on 8-dp grids — the identical constants any engine
    * replays; the endpoints are then order statistics of the SAME
    * integer replicate means at rank floor(B·p)+1 (clamped). NULL
    * adjusted bounds when every replicate lands on one side of the
    * mean (z0 undefined) or m2 = 0. */
  def meanCIBCa(df: DataFrame, id: Column, valueFp: Column,
                reps: Int = 48, alphaPm: Int = 25): DataFrame = {
    require(reps >= 4 && reps <= 4096, s"reps $reps out of range")
    require(alphaPm >= 1 && alphaPm < 500, s"alphaPm $alphaPm")
    // ONE scan: the full-data power sums ride replicate 0's group as
    // conditional aggregates (the meanCI convention — every row appears
    // in each __b group exactly once, so the b=0 slice sums ARE the
    // full-data sums, bit-identical decimal accumulation); __below is
    // then re-derived from the SAME sorted replicate array with the
    // identical `< __f` comparison (48 interpreted lambda steps on a
    // constant-size array, not a data pass).
    val means = graft.util.Parallelize.ensure(df)
      .select(id.cast("string").as("__id"), valueFp.cast("long").as("__v"))
      .withColumn("__b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("__u", uniform1e12(concat(col("__id"), lit("#"),
        col("__b").cast("string"))))
      .withColumn("__w", poissonWeight(col("__u")))
      .groupBy(col("__b"))
      .agg(expr("""sum(CAST(__w * __v AS DECIMAL(38,0)))
            div nullif(sum(__w), 0)""").as("__m"),
        expr("count(CASE WHEN __b = 0 THEN 1 END)").as("__gn"),
        expr("""sum(CASE WHEN __b = 0 THEN CAST(__v AS DECIMAL(38,0))
            END)""").as("__gs1"),
        expr("""sum(CASE WHEN __b = 0 THEN CAST(__v AS DECIMAL(38,0)) * __v
            END)""").as("__gs2"),
        expr("""sum(CASE WHEN __b = 0
            THEN CAST(__v AS DECIMAL(38,0)) * __v * __v END)""").as("__gs3"))
    def invPhi(p: String): String = invPhiSql(p)
    def phi(x: String): String = phiSql(x)
    val agg = means.filter(col("__m").isNotNull)
      .agg(count(lit(1)).as("n_reps"),
        sort_array(collect_list(col("__m"))).as("__ms"),
        max(col("__gn")).as("__n"),
        max(col("__gs1")).as("__s1"), max(col("__gs2")).as("__s2"),
        max(col("__gs3")).as("__s3"))
      .filter(col("n_reps") === reps)
      // n_reps = reps guarantees replicate 0 survived, so __n/__s* are
      // b=0's full-data stats and __n >= 1 (no ANSI div-by-zero)
      .withColumn("__f", expr("__s1 div __n"))
      .withColumn("__below", expr(
        "CAST(size(filter(__ms, m -> m < __f)) AS BIGINT)"))
      // central moments in ONE fixed IEEE expression from the decimal
      // power sums; z0 on the 8-dp grid; a on the 8-dp grid
      .withColumn("__m2d", expr(
        """CAST(__s2 AS DOUBLE) - CAST(__s1 AS DOUBLE)
           * CAST(__s1 AS DOUBLE) / CAST(__n AS DOUBLE)"""))
      .withColumn("__m3d", expr(
        """CAST(__s3 AS DOUBLE)
           - 3.0 * CAST(__s2 AS DOUBLE) * CAST(__s1 AS DOUBLE)
             / CAST(__n AS DOUBLE)
           + 2.0 * CAST(__s1 AS DOUBLE) * CAST(__s1 AS DOUBLE)
             * CAST(__s1 AS DOUBLE)
             / (CAST(__n AS DOUBLE) * CAST(__n AS DOUBLE))"""))
      .withColumn("z0_8", expr(
        s"""CASE WHEN __below = 0 OR __below = n_reps THEN NULL
            ELSE round(${invPhi(
          "(CAST(__below AS DOUBLE) / CAST(n_reps AS DOUBLE))")}, 8)
            END"""))
      .withColumn("a8", expr(
        """CASE WHEN __m2d <= 0.0 THEN NULL
           ELSE round(__m3d / (6.0 * __m2d * sqrt(__m2d)), 8) END"""))
    val aLo = s"(CAST($alphaPm AS DOUBLE) / 1000.0)"
    val aHi = s"(1.0 - CAST($alphaPm AS DOUBLE) / 1000.0)"
    def pAdj(zsideExpr: String): String =
      s"""round(${phi(s"""(z0_8 + (z0_8 + $zsideExpr)
            / (1.0 - a8 * (z0_8 + $zsideExpr)))""")}, 8)"""
    agg
      .withColumn("__plo", expr(
        s"""CASE WHEN z0_8 IS NULL OR a8 IS NULL THEN NULL
            ELSE ${pAdj(s"round(${invPhi(aLo)}, 8)")} END"""))
      .withColumn("__phi", expr(
        s"""CASE WHEN z0_8 IS NULL OR a8 IS NULL THEN NULL
            ELSE ${pAdj(s"round(${invPhi(aHi)}, 8)")} END"""))
      .select(col("n_reps"), col("__f").as("mean_fp"),
        col("z0_8"), col("a8"),
        expr(s"""CASE WHEN __plo IS NULL THEN NULL ELSE element_at(__ms,
            CAST(least(greatest(floor($reps * __plo) + 1, 1), $reps)
              AS INT)) END""").as("lo_fp"),
        expr(s"""CASE WHEN __phi IS NULL THEN NULL ELSE element_at(__ms,
            CAST(least(greatest(floor($reps * __phi) + 1, 1), $reps)
              AS INT)) END""").as("hi_fp"))
  }

  /** Percentile-bootstrap CI for the DIFFERENCE OF MEANS between two
    * groups (the A/B-test uncertainty verb): per replicate,
    * diff_b = mean_A(b) − mean_B(b) with both means the exact
    * truncating integer division over Poisson(1)-weighted sums; CI as
    * in [[meanCI]]. One scan: the group key rides the aggregate, the
    * weights stay the same pure function of (row id, replicate) —
    * reprocessing either arm alone reproduces its exact weights.
    *
    * @param isA boolean column selecting arm A (false ⇒ arm B; a NULL
    *            `isA` counts in arm B)
    * @return 1 row: (n_reps, diff_fp, lo_fp, hi_fp); diff_fp is the
    *         full-data mean_A − mean_B. */
  def diffMeansCI(df: DataFrame, id: Column, isA: Column, valueFp: Column,
                  reps: Int = 48, alphaPm: Int = 25): DataFrame = {
    require(reps >= 4 && reps <= 4096, s"reps $reps out of range")
    val cut = alphaPm * reps / 1000
    require(cut * 2 < reps, s"alpha $alphaPm‰ too wide for B=$reps")
    val diffs = graft.util.Parallelize.ensure(df)
      // normalize the arm ONCE at entry: a NULL isA used to fall into
      // arm B in the replicate means (CASE WHEN __a ... ELSE) but out of
      // BOTH arms in the full-data stats (__b = 0 AND NOT __a skips
      // NULL), so diff_fp and the CI were computed over different
      // populations on nullable arms (round-17 ADVICE). coalesce(false)
      // makes every aggregate see the same arm-B assignment.
      .select(id.cast("string").as("__id"),
        coalesce(isA, lit(false)).as("__a"),
        valueFp.cast("long").as("__v"))
      .withColumn("__b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("__u", uniform1e12(concat(col("__id"), lit("#"),
        col("__b").cast("string"))))
      .withColumn("__w", poissonWeight(col("__u")))
      .groupBy(col("__b"))
      .agg(expr("""sum(CASE WHEN __a THEN CAST(__w * __v AS DECIMAL(38,0))
               ELSE 0 END) div nullif(sum(CASE WHEN __a THEN __w
               ELSE 0L END), 0)""").as("__ma"),
        expr("""sum(CASE WHEN __a THEN 0 ELSE
               CAST(__w * __v AS DECIMAL(38,0)) END)
               div nullif(sum(CASE WHEN __a THEN 0L ELSE __w END), 0)""")
          .as("__mb"),
        // ONE scan (the meanCI convention): the full-data per-arm sums
        // ride replicate 0's group — bit-identical decimal sums over
        // the same rows, no second scan + broadcast of the base table
        expr("""sum(CASE WHEN __b = 0 AND __a
            THEN CAST(__v AS DECIMAL(38,0)) END)""").as("__fsa"),
        expr("count(CASE WHEN __b = 0 AND __a THEN 1 END)").as("__fna"),
        expr("""sum(CASE WHEN __b = 0 AND NOT __a
            THEN CAST(__v AS DECIMAL(38,0)) END)""").as("__fsb"),
        expr("count(CASE WHEN __b = 0 AND NOT __a THEN 1 END)")
          .as("__fnb"))
      .select(col("__b"), (col("__ma") - col("__mb")).as("__d"),
        col("__fsa"), col("__fna"), col("__fsb"), col("__fnb"))
      // an empty arm makes the replicate diff NULL (nullif guard):
      // drop such replicates so the CI frame is empty, never a throw.
      // n_reps = reps below then guarantees replicate 0 (the full-stat
      // carrier) survived with BOTH arms weight-nonempty, hence both
      // arm row counts >= 1 — the div below cannot hit zero.
      .filter(col("__d").isNotNull)
    diffs.agg(count(lit(1)).as("n_reps"),
        sort_array(collect_list(col("__d"))).as("__ds"),
        max(col("__fsa")).as("__fsa"), max(col("__fna")).as("__fna"),
        max(col("__fsb")).as("__fsb"), max(col("__fnb")).as("__fnb"))
      .filter(col("n_reps") === reps)
      .select(col("n_reps"),
        expr("(__fsa div __fna) - (__fsb div __fnb)").as("diff_fp"),
        element_at(col("__ds"), cut + 1).as("lo_fp"),
        element_at(col("__ds"), reps - cut).as("hi_fp"))
  }

  /** Percentile-bootstrap CI for the DIFFERENCE-IN-DIFFERENCES across
    * the (treated × post) 2×2 — the canonical panel causal estimate
    * did = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre), completing the
    * causal family next to the attribution verbs and [[diffMeansCI]]'s
    * plain A/B. Per replicate every cell mean is the exact truncating
    * integer division of Poisson(1)-weighted sums (the [[meanCI]]
    * grid); a replicate with ANY empty cell drops (nullif guard), and
    * the n_reps === reps filter then empties the result — the
    * documented degenerate-input behavior.
    *
    * @param isTreated boolean column: treatment group
    * @param isPost    boolean column: post-intervention period
    * @return 1 row: (n_reps, did_fp, lo_fp, hi_fp) */
  def didCI(df: DataFrame, id: Column, isTreated: Column, isPost: Column,
            valueFp: Column, reps: Int = 48,
            alphaPm: Int = 25): DataFrame = {
    require(reps >= 4 && reps <= 4096, s"reps $reps out of range")
    val cut = alphaPm * reps / 1000
    require(cut * 2 < reps, s"alpha $alphaPm‰ too wide for B=$reps")
    def cell(t: String, p: String): String =
      s"""sum(CASE WHEN $t AND $p THEN CAST(__w * __v AS DECIMAL(38,0))
             ELSE 0 END)
          div nullif(sum(CASE WHEN $t AND $p THEN __w ELSE 0L END), 0)"""
    val diffs = graft.util.Parallelize.ensure(df)
      .select(id.cast("string").as("__id"), isTreated.as("__t"),
        isPost.as("__p"), valueFp.cast("long").as("__v"))
      .withColumn("__b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("__u", uniform1e12(concat(col("__id"), lit("#"),
        col("__b").cast("string"))))
      .withColumn("__w", poissonWeight(col("__u")))
      .groupBy(col("__b"))
      .agg(expr(cell("__t", "__p")).as("m11"), (Seq(
        expr(cell("__t", "NOT __p")).as("m10"),
        expr(cell("NOT __t", "__p")).as("m01"),
        expr(cell("NOT __t", "NOT __p")).as("m00")) ++
        // ONE scan (the meanCI convention): the full-data per-cell sums
        // ride replicate 0's group — bit-identical decimal sums over
        // the same rows, no second scan + broadcast of the base table
        Seq(("11", "__t AND __p"), ("10", "__t AND NOT __p"),
          ("01", "NOT __t AND __p"), ("00", "NOT __t AND NOT __p"))
          .flatMap { case (tag, cond) => Seq(
            expr(s"""sum(CASE WHEN __b = 0 AND $cond
                THEN CAST(__v AS DECIMAL(38,0)) END)""").as(s"__fs$tag"),
            expr(s"count(CASE WHEN __b = 0 AND $cond THEN 1 END)")
              .as(s"__fn$tag"))
          }): _*)
      .select((col("__b") +:
        (col("m11") - col("m10") - col("m01") + col("m00")).as("__d") +:
        Seq("11", "10", "01", "00").flatMap(t =>
          Seq(col(s"__fs$t"), col(s"__fn$t")))): _*)
      // an empty cell makes the replicate did NULL: drop it so the CI
      // frame empties instead of throwing (the diffMeansCI contract).
      // n_reps = reps below then guarantees replicate 0 (the full-stat
      // carrier) survived with EVERY cell weight-nonempty, hence every
      // cell row count >= 1 — the divs below cannot hit zero.
      .filter(col("__d").isNotNull)
    diffs.agg(count(lit(1)).as("n_reps"),
        (sort_array(collect_list(col("__d"))).as("__ds") +:
        Seq("11", "10", "01", "00").flatMap(t => Seq(
          max(col(s"__fs$t")).as(s"__fs$t"),
          max(col(s"__fn$t")).as(s"__fn$t")))): _*)
      .filter(col("n_reps") === reps)
      .select(col("n_reps"),
        expr("""(__fs11 div __fn11) - (__fs10 div __fn10)
            - (__fs01 div __fn01) + (__fs00 div __fn00)""").as("did_fp"),
        element_at(col("__ds"), cut + 1).as("lo_fp"),
        element_at(col("__ds"), reps - cut).as("hi_fp"))
  }
}
