package graft.numerics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hypothesis-test verbs over grouped data — the A/B-readout layer a
  * pipeline needs next to its aggregations (xarray users reach for
  * scipy.stats here; these are the distributed equivalents).
  *
  * Exactness contract (the q40 power-sum convention): every data-touching
  * sum rides the DECIMAL grid (order-free), the final statistic is ONE
  * identical IEEE expression on both engines, rounded on a fixed grid
  * with the `+ 0.0` signed-zero normalization for negative-capable
  * statistics.
  */
object Stats {

  private def dec(c: Column) = c.cast(DecimalType(38, 6))

  /** Welch's two-sample t-test of `valueCol` between the `groupCol`
    * levels `a` and `b`: one scan of conditional decimal power sums →
    * a single-row (n_a, n_b, t, df) frame. t and df are the textbook
    * Welch expressions evaluated in one fixed IEEE order. */
  def welchT(df: DataFrame, groupCol: String, valueCol: String,
             a: String, b: String,
             tScale: Int = 8, dfScale: Int = 6): DataFrame = {
    val v = col(valueCol)
    val inA = col(groupCol) === a
    val inB = col(groupCol) === b
    val agg = df.filter(inA || inB).agg(
      sum(when(inA, 1L).otherwise(0L)).as("na"),
      sum(when(inB, 1L).otherwise(0L)).as("nb"),
      sum(when(inA, dec(v)).otherwise(lit(null))).as("sa"),
      sum(when(inB, dec(v)).otherwise(lit(null))).as("sb"),
      sum(when(inA, dec(v * v)).otherwise(lit(null))).as("saa"),
      sum(when(inB, dec(v * v)).otherwise(lit(null))).as("sbb"))
    // every division happens on DOUBLES (decimal division scale rules
    // differ between engines; the decimal grid is for the SUMS only)
    agg
      .withColumn("qa", expr(
        """((CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
              / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE))
           / CAST(na AS DOUBLE)"""))
      .withColumn("qb", expr(
        """((CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
              / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE))
           / CAST(nb AS DOUBLE)"""))
      .select(
        col("na"), col("nb"),
        (round(expr(
          """(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
              - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / sqrt(qa + qb)"""),
          tScale) + lit(0.0)).as("t_stat"),
        (round(expr(
          """pow(qa + qb, 2) /
             (pow(qa, 2) / CAST(na - 1 AS DOUBLE)
              + pow(qb, 2) / CAST(nb - 1 AS DOUBLE))"""), dfScale) + lit(0.0))
          .as("df_welch"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns: contingency counts in one scan, expected counts e = r·c/N
    * as identical IEEE doubles, per-cell terms (o−e)²/e rounded to 8 dp
    * onto the decimal grid, summed exactly. Returns one row
    * (n, dof, chi2). The per-cell frame never leaves the executor as
    * more than (#levels_x × #levels_y) rows. */
  def chi2Independence(df: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val cells = df.groupBy(xCol, yCol).agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(xCol).agg(sum("o").as("r"))
    val cols_ = cells.groupBy(yCol).agg(sum("o").as("c"))
    val n = cells.agg(sum("o").as("n"))
    val terms = cells
      .join(broadcast(rows), Seq(xCol))
      .join(broadcast(cols_), Seq(yCol))
      .crossJoin(n)
      .select(col("n"),
        round(expr("""pow(CAST(o AS DOUBLE) -
            CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 2) /
            (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"""),
          8).cast(DecimalType(28, 8)).as("term"))
    val dims = cells.agg(
      countDistinct(col(xCol)).as("nx"), countDistinct(col(yCol)).as("ny"))
    terms.groupBy(col("n")).agg(sum("term").as("__chi2"))
      .crossJoin(dims)
      .select(col("n"),
        ((col("nx") - 1) * (col("ny") - 1)).as("dof"),
        col("__chi2").cast("double").as("chi2"))
  }

  /** Two-sample Kolmogorov–Smirnov D between the `groupCol` levels `a`
    * and `b`: D = max_v |F_a(v) − F_b(v)| over the pooled support. On the
    * common denominator n1·n2 the statistic is an exact INTEGER —
    * d_num = max |cumA·n2 − cumB·n1|, D = d_num/(n1·n2) — so the whole
    * test is engine-divergence-free. Same value-level prefix shape as
    * [[mannWhitney]]. */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
             a: String, b: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inA = col(groupCol) === a
    val inB = col(groupCol) === b
    val perValue = df.filter(inA || inB)
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("ca"),
        sum(when(inB, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = perValue
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
    cum.crossJoin(cum.agg(sum(col("ca")).as("n1"), sum(col("cb")).as("n2")))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(col("cuma") * col("n2") - col("cumb") * col("n1")))
          .as("d_num"))
  }

  /** One-way ANOVA F across ALL levels of `groupCol`: per-group decimal
    * power sums in one scan, then SSB/SSW assembled in one fixed IEEE
    * expression over the k-row aggregate. Returns (k, n, f_stat). */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String,
             fScale: Int = 8): DataFrame = {
    val v = col(valueCol)
    val g = df.groupBy(groupCol).agg(
      count(lit(1)).as("ni"),
      sum(dec(v)).as("si"),
      sum(dec(v * v)).as("qi"))
    // per-group terms on a 4-dp decimal grid: si²/ni reaches ~1e8 at
    // sf0.1, and 8 dp there would need >17 significant digits — past
    // double's shortest-repr, where Spark's and DuckDB's round diverge
    // (the repo's round-grid lesson). 4 dp keeps total digits ≤ 14.
    val terms = g.select(
      col("ni"), col("si"),
      round(expr("""CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
          / CAST(ni AS DOUBLE)"""), 4).cast(DecimalType(28, 4)).as("gsq"),
      col("qi"))
    val agg = terms.agg(
      count(lit(1)).as("k"), sum(col("ni")).as("n"),
      sum(col("si")).as("s"), sum(col("qi")).as("q"),
      sum(col("gsq")).as("gs"))
    agg.select(col("k"), col("n"),
      (round(expr(
        """((CAST(gs AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)) /
           ((CAST(q AS DOUBLE) - CAST(gs AS DOUBLE))
            / CAST(n - k AS DOUBLE))"""), fScale) + lit(0.0)).as("f_stat"))
  }

  /** Kruskal–Wallis H across the named `levels` of `groupCol`
    * (rank-based one-way ANOVA), average-tie ranks, tie-corrected:
    * H = 12/(N(N+1))·Σ R_i²/n_i − 3(N+1),  H_c = H / (1 − Σ(t³−t)/(N³−N)).
    *
    * Rank sums use the [[mannWhitney]] VALUE-LEVEL prefix shape
    * generalized to k groups: one conditional-count aggregate per
    * distinct value, one running total over that aggregated frame, and
    * 2·R_i = Σ c_i(v)·(2·below(v) + ct(v) + 1) stays an exact BIGINT.
    * The k-group sum Σ R_i²/n_i is NOT a float aggregate (whose order
    * would be engine-dependent): `levels` is an explicit constant list,
    * so the statistic is ONE fixed left-to-right IEEE expression over
    * the single aggregate row — term order is syntactic on both
    * engines. */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String,
                    levels: Seq[String], hScale: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(levels.size >= 2, s"kruskalWallis needs >= 2 levels")
    val in = levels.map(l => col(groupCol) === l)
    val cnts = levels.zip(in).map { case (l, c) =>
      sum(when(c, 1L).otherwise(0L)).as(s"c_${l.toLowerCase}")
    }
    val perValue = df.filter(in.reduce(_ || _))
      .groupBy(col(valueCol).as("v"))
      .agg(cnts.head, cnts.tail: _*)
    val ct = levels.map(l => col(s"c_${l.toLowerCase}")).reduce(_ + _)
    // prefix over the aggregated distinct-value frame (small by
    // construction; a within-bucket prefix plus Positions.bucketOffsets
    // is the swap-in for genuinely high-cardinality metrics)
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perValue
      .withColumn("below", coalesce(sum(ct).over(w), lit(0L)))
      .withColumn("r2", lit(2) * col("below") + ct + 1)
    val aggCols = levels.map(l => sum(col(s"c_${l.toLowerCase}"))
        .as(s"n_${l.toLowerCase}")) ++
      levels.map(l => sum(col(s"c_${l.toLowerCase}") * col("r2"))
        .as(s"rx2_${l.toLowerCase}")) :+
      sum(ct * ct * ct - ct).as("tie3")
    val agg = ranked.agg(aggCols.head, aggCols.tail: _*)
    // Σ R_i²/n_i written out term by term: rx2 casts to double exactly
    // (< 2^53), each term is the same IEEE product/quotient, the sum is
    // fixed left-to-right. /4 folds the 2x-rank scaling once at the end.
    val sTerms = levels.map(_.toLowerCase).map(l =>
      s"""CAST(rx2_$l AS DOUBLE) * CAST(rx2_$l AS DOUBLE)
          / CAST(n_$l AS DOUBLE)""").mkString(" + ")
    val nExpr = levels.map(l => s"n_${l.toLowerCase}").mkString(" + ")
    agg.select(
      (levels.map(l => col(s"n_${l.toLowerCase}")) :+
        (round(expr(
          s"""(12.0 / (CAST($nExpr AS DOUBLE) * CAST(($nExpr) + 1 AS DOUBLE))
               * (($sTerms) / 4.0)
               - 3.0 * CAST(($nExpr) + 1 AS DOUBLE))
              / (1.0 - CAST(tie3 AS DOUBLE)
                 / (CAST($nExpr AS DOUBLE) * CAST($nExpr AS DOUBLE)
                    * CAST($nExpr AS DOUBLE) - CAST($nExpr AS DOUBLE)))"""),
          hScale) + lit(0.0)).as("h_stat")): _*)
  }

  /** Mann–Whitney U between the `groupCol` levels `a` and `b` on
    * `valueCol`, average-tie ranks, tie-corrected normal approximation.
    *
    * Rank sums come from VALUE-LEVEL prefix sums: one conditional count
    * aggregate per distinct value, a running total over that (small,
    * aggregated) frame, then 2·rank_avg(v) = 2·cntBelow(v) + cntEq(v) + 1
    * keeps everything integer. u1_x2/u2_x2 are exact; z is the one IEEE
    * expression, rounded with the signed-zero normalization. */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
                  a: String, b: String, zScale: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inA = col(groupCol) === a
    val inB = col(groupCol) === b
    val perValue = df.filter(inA || inB)
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("ca"),
        sum(when(inB, 1L).otherwise(0L)).as("cb"))
    // prefix over the aggregated value-level frame (cardinality = number
    // of DISTINCT metric values — 50 here; a within-bucket prefix plus
    // Positions.bucketOffsets is the swap-in for genuinely
    // high-cardinality metrics)
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perValue
      .withColumn("below", coalesce(sum(col("ca") + col("cb")).over(w), lit(0L)))
      .withColumn("r2", lit(2) * col("below") + (col("ca") + col("cb")) + 1)
    val agg = ranked.agg(
      sum(col("ca")).as("n1"), sum(col("cb")).as("n2"),
      sum(col("ca") * col("r2")).as("r1_x2"),
      // tie correction Σ(t³ − t) over tie-group sizes t
      sum((col("ca") + col("cb")) * (col("ca") + col("cb")) *
        (col("ca") + col("cb")) - (col("ca") + col("cb"))).as("tie3"))
    agg.select(col("n1"), col("n2"),
      expr("r1_x2 - n1 * (n1 + 1)").as("u1_x2"),
      expr("2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1))").as("u2_x2"),
      (round(expr(
        """(CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
             - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
           sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
             (CAST(n1 + n2 + 1 AS DOUBLE)
              - CAST(tie3 AS DOUBLE) /
                (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))"""),
        zScale) + lit(0.0)).as("z_stat"))
  }

  /** Two-proportion z battery: each `groupCol` level against THE REST of
    * the data — the screening stage in front of [[benjaminiHochberg]].
    * One scan builds (n_i, k_i) per group; the grand totals broadcast;
    * z is the pooled-variance textbook expression in one fixed IEEE
    * order, rounded at `zScale` (signed-zero-normalized). The two-sided
    * p rides the Abramowitz–Stegun 26.2.17 polynomial tail evaluated on
    * the ALREADY-ROUNDED z (so both engines start from the identical
    * double; exp() is the only libm call, handled by the repo's
    * round-at-8dp policy) and lands as DECIMAL(18,8) so the BH threshold
    * comparison downstream is exact decimal arithmetic, never float. */
  def twoPropZBattery(df: DataFrame, groupCol: String, succ: Column,
                      zScale: Int = 8): DataFrame = {
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(succ, 1L).otherwise(0L)).as("k"))
    val tot = g.agg(sum(col("n")).cast("long").as("__nn"),
      sum(col("k")).cast("long").as("__kk"))
    val z = g.crossJoin(tot)
      .withColumn("z8", round(expr(
        """(CAST(k AS DOUBLE) / n - CAST(__kk - k AS DOUBLE) / (__nn - n)) /
           sqrt((CAST(__kk AS DOUBLE) / __nn)
                * (1.0 - CAST(__kk AS DOUBLE) / __nn)
                * (1.0 / n + 1.0 / (__nn - n)))"""), zScale) + lit(0.0))
      .withColumn("__t", expr("1.0 / (1.0 + 0.2316419 * abs(z8))"))
    z.select(col("grp"), col("n"), col("k"), col("z8"),
      round(expr(
        """2.0 * (0.3989422804014327 * exp(-abs(z8) * abs(z8) / 2.0)
             * (__t * (0.319381530 + __t * (-0.356563782
                + __t * (1.781477937 + __t * (-1.821255978
                + __t * 1.330274429))))))"""), 8)
        .cast(DecimalType(18, 8)).as("p8"))
  }

  /** Wilson score interval per group (Wilson 1927) — the proportion CI
    * that behaves at small n and extreme rates, the one worth shipping
    * for per-slice success-rate dashboards. One scan builds (n, k) per
    * group; lo/hi are each ONE fixed IEEE expression over (n, k, z)
    * rounded at 8 dp (signed-zero-normalized); p_hat rides the exact ppm
    * integer grid. z defaults to the 97.5% normal quantile (95% CI). */
  def wilsonInterval(df: DataFrame, groupCol: String, succ: Column,
                     z: Double = 1.959963984540054): DataFrame =
    df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(succ, 1L).otherwise(0L)).as("k"))
      .select(col("grp"), col("n"), col("k"),
        expr("k * 1000000 div n").as("p_ppm"),
        (round(expr(
          s"""((CAST(k AS DOUBLE) / n + $z * $z / (2.0 * n))
               - $z * sqrt((CAST(k AS DOUBLE) / n)
                   * (1.0 - CAST(k AS DOUBLE) / n) / n
                   + $z * $z / (4.0 * n * n)))
              / (1.0 + $z * $z / n)"""), 8) + lit(0.0)).as("wilson_lo8"),
        (round(expr(
          s"""((CAST(k AS DOUBLE) / n + $z * $z / (2.0 * n))
               + $z * sqrt((CAST(k AS DOUBLE) / n)
                   * (1.0 - CAST(k AS DOUBLE) / n) / n
                   + $z * $z / (4.0 * n * n)))
              / (1.0 + $z * $z / n)"""), 8) + lit(0.0)).as("wilson_hi8"))

  /** Benjamini–Hochberg step-up FDR control at level
    * `alphaNum/alphaDen`: rank hypotheses by (p, id), find the largest k
    * with p_(k) <= (k/m)·α, reject ranks 1..k. The threshold test is the
    * denominator-cleared EXACT comparison p·alphaDen·m <= alphaNum·k on
    * the p column's decimal grid — no float boundary anywhere in the
    * procedure itself. The ranking window runs over the hypothesis frame
    * (one row per GROUP — bounded by group cardinality, not data); m and
    * k_max are 1-row broadcasts. */
  def benjaminiHochberg(hyp: DataFrame, idCol: String, pCol: String,
                        alphaNum: Int, alphaDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alphaNum > 0 && alphaDen > alphaNum,
      s"alpha $alphaNum/$alphaDen must be in (0, 1)")
    val m = hyp.agg(count(lit(1)).as("__m"))
    val w = Window.orderBy(col(pCol), col(idCol))
    val ranked = graft.util.QueryCache.persist(
      hyp.crossJoin(m)
        .withColumn("rank", row_number().over(w).cast("long")))
    val kmax = ranked
      .filter(col(pCol) * lit(alphaDen) * col("__m") <=
        lit(alphaNum) * col("rank"))
      .agg(coalesce(max(col("rank")), lit(0L)).as("__kmax"))
    ranked.crossJoin(kmax)
      .withColumn("rejected", col("rank") <= col("__kmax"))
      .drop("__m", "__kmax")
  }

  /** Experiment power planning per group: the minimum detectable
    * absolute effect (MDE) of a two-proportion test at alpha = 5%
    * (two-sided) / power = 80% given the group's CURRENT size split
    * into two equal arms, and the per-arm n required to detect a
    * target absolute lift — the PRE-experiment companion of
    * [[wilsonInterval]] (post) and [[benjaminiHochberg]] (screening).
    *
    *   mde  = (z_{α/2} + z_β) · sqrt(2·p(1−p) / n_arm)
    *   n_req = ceil((z_{α/2} + z_β)² · 2·p(1−p) / mde_target²)
    *
    * The two normal quantiles are literals (1.959963984540054,
    * 0.8416212335729143), p̂ rides the exact ppm grid, and each double
    * lands on the 8-dp grid via one fixed IEEE expression (the Wilson
    * convention).
    *
    * @param mdeTargetPm target absolute lift in permille (10 = 1 pt) */
  def powerMde(df: DataFrame, groupCol: String, succ: Column,
               mdeTargetPm: Int = 10): DataFrame = {
    val zSum = 1.959963984540054 + 0.8416212335729143
    val t = mdeTargetPm / 1000.0
    df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(succ, 1L).otherwise(0L)).as("k"))
      .select(col("grp"), col("n"), col("k"),
        expr("k * 1000000 div n").as("p_ppm"),
        (round(expr(
          s"""CASE WHEN n < 2 THEN NULL ELSE
             $zSum * sqrt(2.0 * (CAST(k AS DOUBLE) / n)
               * (1.0 - CAST(k AS DOUBLE) / n) / (n div 2)) END"""), 8)
          + lit(0.0)).as("mde8"),
        expr(
          s"""CAST(ceil($zSum * $zSum * 2.0 * (CAST(k AS DOUBLE) / n)
               * (1.0 - CAST(k AS DOUBLE) / n) / ($t * $t))
             AS BIGINT)""").as("n_req_per_arm"))
  }

  /** James–Stein shrinkage of per-group means toward the mean of group
    * means (Efron & Morris 1975 — the empirical-Bayes estimator that
    * dominates raw group means for k >= 4): with per-group sampling
    * variance v_g = s²_g/n_g averaged to v̄ and between-group spread
    * S = Σ(ȳ_g − m̄)²,
    *   shrink = max(0, 1 − (k−3)·v̄/S),
    *   js_g   = m̄ + shrink·(ȳ_g − m̄)
    * — the "small groups borrow strength" verb behind per-slice
    * dashboards that would otherwise chase noise in thin slices.
    *
    * Exactness: group moments are exact decimal integers; every
    * derived double lands on a declared grid the moment it is produced
    * (means 2 dp, variances 2 dp, shrink 8 dp, js 2 dp) via fixed IEEE
    * expressions, so both engines replay bit-for-bit. One moments scan;
    * everything after runs on the GROUP frame. */
  def jamesSteinMeans(df: DataFrame, groupCol: String,
                      valueFp: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val g = graft.util.QueryCache.persist(
      df.select(col(groupCol).as("grp"), valueFp.cast("long").as("v"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(dec)).as("s1"),
          sum(col("v").cast(dec) * col("v")).as("s2"))
        .filter(col("n") >= 2)
        .select(col("grp"), col("n"),
          round(col("s1").cast("double") / col("n"), 2).as("mean2"),
          // unbiased within-group variance of the MEAN: s²/(n(n−1))
          round(expr("""(CAST(s2 AS DOUBLE) * n
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n AS DOUBLE) * n * (n - 1))"""), 2).as("vmean2")))
    val hyper = g.agg(count(lit(1)).as("k"),
        round(avg(col("mean2")), 2).as("mbar2"),
        round(avg(col("vmean2")), 2).as("vbar2"))
      .select(col("k"), col("mbar2"), col("vbar2"))
    val withS = g.crossJoin(hyper)
      .select(col("grp"), col("n"), col("mean2"), col("k"),
        col("mbar2"), col("vbar2"),
        // per-group deviation term on the 2-dp grid (cents² magnitudes
        // sit far above the ulp there — the q369 grid rule), then an
        // exact decimal sum
        round((col("mean2") - col("mbar2")) *
          (col("mean2") - col("mbar2")), 2).as("dev2"))
    val sTot = withS.agg(sum(col("dev2")
      .cast(org.apache.spark.sql.types.DecimalType(38, 2)))
      .cast("double").as("ss"))
    withS.crossJoin(sTot)
      .select(col("grp"), col("n"), col("mean2"),
        expr("""CASE WHEN k <= 3 OR ss = 0 THEN 1.0 ELSE
            round(greatest(0.0, 1.0 - (k - 3) * vbar2 / ss), 8) END""")
          .as("shrink8"),
        expr("""CASE WHEN k <= 3 OR ss = 0 THEN mean2 ELSE
            round(mbar2 + round(greatest(0.0,
                1.0 - (k - 3) * vbar2 / ss), 8)
              * (mean2 - mbar2), 2) END""").as("js_mean2"))
  }

  /** Mutual information (bits) between two categorical columns — the
    * feature-selection / association strength next to [[chiSquare]]'s
    * significance: MI = Σ_xy (n_xy/N)·log2(N·n_xy / (n_x·n_y)).
    *
    * Scale shape: ONE contingency aggregate over the scan; the two
    * marginal frames and every join after run on the (|X|·|Y|) cell
    * grid, never data. Each libm term rides the 8-dp round + decimal
    * sum convention (order-independent, oracle-exact at 6 dp out). */
  /** Brown–Forsythe homogeneity-of-variance test (the robust Levene
    * variant): per-group MEDIAN absolute deviations fed to the exact
    * [[anovaF]] machinery. Medians double to stay integral (even-n
    * groups average two middles: med2 = lo + hi, exact in double while
    * values < 2^52), so z = |2v − med2| is a pure integer and the F
    * that follows inherits anovaF's decimal-moment exactness. One
    * group-median aggregate (exact percentile over each group's
    * value multiset), one broadcast join, one anovaF scan. */
  def brownForsythe(df: DataFrame, groupCol: String, valueCol: String,
                    fScale: Int = 8): DataFrame = {
    val v = col(valueCol).cast("long")
    val meds = df.groupBy(col(groupCol))
      .agg(round(expr(s"percentile($valueCol, 0.5)") * 2)
        .cast("long").as("__med2"))
    val z = df.join(broadcast(meds), groupCol)
      .select(col(groupCol),
        abs(v * 2 - col("__med2")).as("__z"))
    anovaF(z, groupCol, "__z", fScale)
  }

  /** Benford first-digit conformance of a positive integral column:
    * observed leading-digit counts vs n·log10(1+1/d), chi-square with
    * 8 dof. The nine expected proportions are PINNED 8-dp constants
    * (public math, identical literals in any replaying engine — no
    * libm call at query time); per-digit terms (o−e)²/e round to 8 dp
    * onto the decimal grid and sum exactly (the chi2Independence
    * discipline). Zero/negative/NULL values are excluded and counted. */
  def benford(df: DataFrame, value: Column): DataFrame = {
    // round(log10(1+1/d), 8) for d = 1..9 — pinned, not computed
    val exp8 = Seq(0.30103, 0.17609126, 0.12493874, 0.09691001,
      0.07918125, 0.06694679, 0.05799195, 0.05115252, 0.04575749)
    val spark = df.sparkSession
    import spark.implicits._
    val expDf = exp8.zipWithIndex.map { case (e, i) => (i + 1, e) }
      .toDF("d", "e8")
    val digits = df.select(value.cast("long").as("v"))
      .select(when(col("v") > 0,
        substring(col("v").cast("string"), 1, 1).cast("int"))
        .as("d"))
    val obs = digits.groupBy(col("d")).agg(count(lit(1)).as("o"))
    val tot = obs.filter(col("d").isNotNull)
      .agg(coalesce(sum(col("o")), lit(0L)).as("n"))
    val excluded = obs.filter(col("d").isNull)
      .agg(coalesce(sum(col("o")), lit(0L)).as("n_excluded"))
    val terms = expDf.join(obs, Seq("d"), "left")
      .crossJoin(tot)
      // the coalesce must land BEFORE the term expression sees `o` —
      // in one select the expr would read the pre-coalesce NULL and
      // silently drop every zero-count digit from the sum
      .select(col("d"), coalesce(col("o"), lit(0L)).as("o"), col("n"),
        col("e8"))
      .select(col("d"), col("o"), col("n"),
        round(expr("""CASE WHEN n = 0 THEN NULL ELSE
            (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * e8)
            * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * e8)
            / (CAST(n AS DOUBLE) * e8) END"""), 8)
          .cast(DecimalType(30, 8)).as("term"))
    terms.crossJoin(excluded)
      .agg(max(col("n")).as("nn"), max(col("n_excluded")).as("ne"),
        sum(col("term")).as("chi2d"))
      .select(col("nn").cast("long").as("n"),
        col("ne").cast("long").as("n_excluded"),
        when(col("nn") === 0, lit(null))
          .otherwise(round(col("chi2d").cast("double"), 6))
          .as("chi2"))
  }

  /** Cliff's delta rank effect size between the `groupCol` levels `a`
    * and `b`: δ = P(x_a > x_b) − P(x_a < x_b) = 2U₁/(n₁n₂) − 1, from
    * the same doubled-midrank value-level frame as [[mannWhitney]] —
    * δ_ppm = (u1_x2 − n₁·n₂)·10⁶ div (n₁·n₂), exact integers end to
    * end (u1_x2 is 2·U₁). The magnitude-not-significance companion of
    * q290's z. */
  def cliffsDelta(df: DataFrame, groupCol: String, valueCol: String,
                  a: String, b: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inA = col(groupCol) === a
    val inB = col(groupCol) === b
    val perValue = df.filter(inA || inB)
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("ca"),
        sum(when(inB, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perValue
      .withColumn("below",
        coalesce(sum(col("ca") + col("cb")).over(w), lit(0L)))
      .withColumn("r2", lit(2) * col("below") + (col("ca") + col("cb")) + 1)
    ranked.agg(
        sum(col("ca")).as("n1"), sum(col("cb")).as("n2"),
        sum(col("ca") * col("r2")).as("r1_x2"))
      .select(col("n1"), col("n2"),
        // divide the NONNEGATIVE u1_x2 first, then shift by −10⁶: the
        // quotient is floor semantics on both engines (a negative
        // dividend would split Spark's truncate-to-zero from floor)
        expr("""CASE WHEN n1 IS NULL OR n1 = 0 OR n2 = 0 THEN NULL
                ELSE CAST(r1_x2 - n1 * (n1 + 1) AS DECIMAL(38,0))
                     * 1000000
                     div (CAST(n1 AS DECIMAL(19,0)) * n2) - 1000000 END""")
          .cast("long").as("delta_ppm"))
  }

  /** McNemar's test on paired binary outcomes — THE classifier-vs-
    * classifier comparison on a shared eval set (same items, so
    * marginal accuracy differences reduce to the discordant counts):
    * b = A right & B wrong, c = A wrong & B right,
    * chi2 = max(|b−c|−1, 0)² / (b+c) (Edwards continuity correction,
    * clamped at zero so b = c reads as exactly no evidence). Pure
    * integer counts, one IEEE division at 6 dp; NULL when the
    * classifiers never disagree. */
  def mcnemar(df: DataFrame, aCorrect: Column,
              bCorrect: Column): DataFrame =
    df.agg(count(lit(1)).as("n"),
        sum(when(aCorrect && !bCorrect, 1L).otherwise(0L)).as("b"),
        sum(when(!aCorrect && bCorrect, 1L).otherwise(0L)).as("c"))
      .select(col("n"),
        coalesce(col("b"), lit(0L)).as("b"),
        coalesce(col("c"), lit(0L)).as("c"),
        expr("""CASE WHEN coalesce(b, 0) + coalesce(c, 0) = 0 THEN NULL
                ELSE round(
                  CAST(greatest(abs(b - c) - 1, 0) AS DOUBLE)
                  * CAST(greatest(abs(b - c) - 1, 0) AS DOUBLE)
                  / CAST(b + c AS DOUBLE), 6) END""").as("chi2"))

  def mutualInformation(df: DataFrame, x: Column, y: Column): DataFrame = {
    val cells = graft.util.QueryCache.persist(
      df.select(x.cast("string").as("xx"), y.cast("string").as("yy"))
        .groupBy(col("xx"), col("yy")).agg(count(lit(1)).as("nxy")))
    val mx = cells.groupBy(col("xx")).agg(sum(col("nxy")).as("nx"))
    val my = cells.groupBy(col("yy")).agg(sum(col("nxy")).as("ny"))
    val tot = cells.agg(sum(col("nxy")).cast("long").as("nn"))
    cells.join(mx, "xx").join(my, "yy").crossJoin(tot)
      .withColumn("term", round(col("nxy") *
        log2(col("nn").cast("double") * col("nxy") /
          (col("nx").cast("double") * col("ny"))), 8)
        .cast(DecimalType(30, 8)))
      .agg(max(col("nn")).as("n"), count(lit(1)).as("n_cells"),
        round(sum(col("term")).cast("double") / max(col("nn")), 6)
          .as("mi_bits"))
  }
}
