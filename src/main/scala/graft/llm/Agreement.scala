package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Annotation / prediction quality-assurance verbs — the eval side of a
  * labeling pipeline (Cohen 1960 inter-annotator agreement; per-class
  * precision/recall/F1). Every statistic here is a RATIO OF INTEGERS
  * reported in exact ppm via integer division — counts shuffle once on
  * the category key, nothing else moves, and no float rounding
  * convention exists to diverge between engines. */
object Agreement {

  /** Cohen's kappa between two categorical columns:
    * `κ = (p_o − p_e) / (1 − p_e)` cleared of denominators to the pure
    * integer form `(N·agree − Σ_c row_c·col_c) / (N² − Σ_c row_c·col_c)`
    * and reported in exact ppm (negative = worse than chance; truncating
    * division, identical in Spark and DuckDB). One scan into four
    * bounded aggregates (total, agreement, the two marginal tables);
    * the expected-agreement join runs on the CATEGORY key. */
  def cohensKappa(df: DataFrame, truth: Column, pred: Column): DataFrame = {
    val pairs = graft.util.QueryCache.persist(
      df.select(truth.cast("string").as("t"), pred.cast("string").as("p")))
    val tot = pairs.agg(count(lit(1)).as("n"),
      sum(when(col("t") === col("p"), 1L).otherwise(0L)).as("n_agree"))
    val rowc = pairs.groupBy(col("t").as("c")).agg(count(lit(1)).as("rc"))
    val colc = pairs.groupBy(col("p").as("c")).agg(count(lit(1)).as("cc"))
    // categories absent from one side contribute rc·0 = 0: inner join.
    // The marginal products widen to DECIMAL too — rc·cc alone overflows
    // Long at ~3e9 rows in one category
    val sumRc = rowc.join(colc, "c")
      .agg(coalesce(sum(col("rc").cast(
          org.apache.spark.sql.types.DecimalType(38, 0)) * col("cc")),
        lit(0L).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("sum_rc"))
    // DECIMAL-widened numerator/denominator (the LinkAnalysis lift
    // convention): n²·1e6 exceeds Long already at ~3M rows
    tot.crossJoin(broadcast(sumRc))
      .select(col("n"), col("n_agree"),
        col("sum_rc").cast("long").as("sum_rc"),
        expr("""CASE WHEN CAST(n AS DECIMAL(38,0)) * n = sum_rc THEN NULL
                ELSE (CAST(n AS DECIMAL(38,0)) * n_agree - sum_rc) * 1000000
                     div (CAST(n AS DECIMAL(38,0)) * n - sum_rc) END""")
          .cast("long").as("kappa_ppm"))
  }

  /** Krippendorff's alpha (nominal, complete data) across m >= 2 rater
    * columns — the multi-rater generalization of [[cohensKappa]]
    * (Krippendorff, "Content Analysis", ch. 12).
    *
    * Denominator-cleared integer form: per item, ordered DISAGREEING
    * rater pairs P_i = m(m−1) − Σ_c cnt_ic(cnt_ic − 1); with global
    * value marginals n_c, n = N·m and S_neq = n² − Σ_c n_c²,
    *   alpha_ppm = 10⁶ − (ΣP_i · (n−1) · 10⁶) div ((m−1) · S_neq)
    * — every quantity an exact integer (DECIMAL-widened products), the
    * one division the truncating integral div all engines share.
    *
    * Scale shape: one explode to (item, value) long form, two hash
    * aggregates (per-item, per-value), 1-row combine. */
  def krippendorffAlpha(df: DataFrame, item: Column,
                        raters: Seq[Column]): DataFrame = {
    require(raters.size >= 2, "krippendorffAlpha needs >= 2 raters")
    val m = raters.size
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val long_ = df.select(item.as("i"),
      explode(array(raters.map(_.cast("string")): _*)).as("v"))
    val cells = long_.groupBy(col("i"), col("v"))
      .agg(count(lit(1)).as("c"))
    val perItem = cells.groupBy(col("i"))
      .agg(sum(col("c") * (col("c") - 1)).as("agree"))
      .agg(count(lit(1)).as("n_items"),
        sum(lit(m.toLong * (m - 1)) - col("agree")).as("p_neq"))
    val marg = cells.groupBy(col("v")).agg(sum(col("c")).as("nc"))
      .agg(sum(col("nc")).as("n"),
        sum(col("nc").cast(dec) * col("nc")).as("sum_nc2"))
    perItem.crossJoin(broadcast(marg))
      .select(col("n_items"), col("n"), col("p_neq"),
        expr(s"""CASE WHEN CAST(n AS DECIMAL(38,0)) * n - sum_nc2 = 0
                 THEN NULL
                 ELSE 1000000 - (CAST(p_neq AS DECIMAL(38,0)) * (n - 1)
                      * 1000000)
                      div ((${m - 1}) * (CAST(n AS DECIMAL(38,0)) * n
                           - sum_nc2)) END""")
          .cast("long").as("alpha_ppm"))
  }

  /** Fleiss' kappa (Fleiss 1971) for m raters per item, nominal
    * categories — the FIXED-rater-count companion of
    * [[krippendorffAlpha]] (which handles the general pairable-values
    * form): chance agreement uses the squared GLOBAL category
    * proportions instead of Krippendorff's permutation expectation.
    *
    * Denominator-cleared integer form (N items, m raters,
    * S2 = Σ_i Σ_c n_ic², S_c = Σ_c n_c² with n_c the global category
    * marginals):
    *   P̄  − P̄e  ∝ A = (S2 − N·m)·N·m − S_c·(m−1)
    *   1 − P̄e   ∝ B = ((N·m)² − S_c)·(m−1)
    *   kappa_ppm = A·10⁶ div B
    * — every quantity an exact integer (DECIMAL-widened products), one
    * truncating division. Scale shape mirrors krippendorffAlpha: one
    * explode to (item, value) long form, two hash aggregates, a 1-row
    * combine. */
  def fleissKappa(df: DataFrame, item: Column,
                  raters: Seq[Column]): DataFrame = {
    require(raters.size >= 2, "fleissKappa needs >= 2 raters")
    val m = raters.size
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val long_ = df.select(item.as("i"),
      explode(array(raters.map(_.cast("string")): _*)).as("v"))
    val cells = graft.util.QueryCache.persist(
      long_.groupBy(col("i"), col("v")).agg(count(lit(1)).as("c")))
    val perItem = cells
      .groupBy(col("i")).agg(sum(col("c") * col("c")).as("s2i"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("s2i")).cast(dec).as("s2"))
    val marg = cells.groupBy(col("v")).agg(sum(col("c")).as("nc"))
      .agg(sum(col("nc").cast(dec) * col("nc")).as("sum_nc2"))
    perItem.crossJoin(broadcast(marg))
      .select(col("n_items"), col("s2").cast("long").as("s2"),
        col("sum_nc2").cast("long").as("sum_nc2"),
        expr(s"""CASE WHEN (CAST(n_items AS DECIMAL(38,0)) * $m
                       * n_items * $m - sum_nc2) = 0 THEN NULL
                 ELSE ((s2 - CAST(n_items AS DECIMAL(38,0)) * $m)
                       * n_items * $m - CAST(sum_nc2 AS DECIMAL(38,0))
                       * ${m - 1}) * 1000000
                      div ((CAST(n_items AS DECIMAL(38,0)) * $m
                            * n_items * $m - sum_nc2) * ${m - 1}) END""")
          .cast("long").as("kappa_ppm"))
  }

  /** ROC AUC by the Mann–Whitney rank-sum identity,
    * AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) with R⁺ the sum of AVERAGE
    * ranks of the positives — the threshold-free ranking quality of a
    * scorer, completing the eval set (P/R/F1 q281, calibration q342).
    * Ties (scores on a rounded grid) get the standard midrank: a tie
    * group at score v with c items, p of them positive, contributes
    * p·(below_v + (c+1)/2) to R⁺ — doubled to stay integral:
    *   auc_ppm = (Σ_v p_v·(2·below_v + c_v + 1) − n⁺(n⁺+1)) · 10⁶
    *             div (2·n⁺·n⁻)
    * — every quantity an exact integer on any engine.
    *
    * Rows whose label or score is NULL are dropped (skipna): a NULL
    * label is neither class, so it must not take a rank either.
    *
    * Scale shape: one hash-agg to the per-SCORE frame (bounded by the
    * score grid, not rows), a within-bucket prefix plus
    * [[graft.model.Positions.bucketOffsets]] (bounded by `bucketFn`'s
    * range — no global window over scores), one widened final aggregate.
    *
    * @param bucketFn monotone non-decreasing function of the score
    *                 column with bounded range (e.g. floor(p·64)) */
  def rocAuc(scored: DataFrame, y: Column, score: Column,
             bucketFn: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val pv = graft.util.QueryCache.persist(
      scored.select(y.cast("long").as("yy"), score.as("v"))
        .filter(col("yy").isNotNull && col("v").isNotNull)
        .groupBy(col("v"))
        .agg(count(lit(1)).as("c"), sum(col("yy")).as("pos"))
        .withColumn("b", bucketFn(col("v")).cast("long")))
    val wIn = Window.partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    graft.model.Positions.bucketOffsets(pv, "b", sum(col("c")).as("off"))
      .withColumn("below",
        col("off") + coalesce(sum(col("c")).over(wIn), lit(0L)))
      .agg(sum(col("pos")).cast(dec).as("np"),
        sum(col("c") - col("pos")).cast(dec).as("nn"),
        sum(col("pos").cast(dec) *
          (col("below") * 2 + col("c") + 1)).cast(dec).as("r2"))
      .select(col("np").cast("long").as("n_pos"),
        col("nn").cast("long").as("n_neg"),
        expr("""CASE WHEN np = 0 OR nn = 0 THEN NULL
                ELSE (r2 - np * (np + 1)) * 1000000
                     div (2 * np * nn) END""")
          .cast("long").as("auc_ppm"))
  }

  /** Per-class precision / recall / F1 from the confusion counts of a
    * (truth, pred) pair — exact ppm, NULL where a class has no
    * predictions (precision) or no truth rows (recall). The F1 clears
    * denominators to `2·tp / (2·tp + fp + fn)` — still a pure integer
    * ratio. Classes = values seen on either side. */
  def classReport(df: DataFrame, truth: Column, pred: Column): DataFrame = {
    val pairs = graft.util.QueryCache.persist(
      df.select(truth.cast("string").as("t"), pred.cast("string").as("p")))
    val classes = pairs.select(col("t").as("c")).distinct()
      .unionByName(pairs.select(col("p").as("c")).distinct()).distinct()
    val tp = pairs.filter(col("t") === col("p"))
      .groupBy(col("t").as("c")).agg(count(lit(1)).as("tp"))
    val predTot = pairs.groupBy(col("p").as("c")).agg(count(lit(1)).as("np"))
    val truthTot = pairs.groupBy(col("t").as("c")).agg(count(lit(1)).as("nt"))
    classes
      .join(tp, Seq("c"), "left").join(predTot, Seq("c"), "left")
      .join(truthTot, Seq("c"), "left")
      .select(col("c"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("np"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("nt"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      .select(col("c"), col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp > 0 THEN tp * 1000000 div (tp + fp) END")
          .as("precision_ppm"),
        expr("CASE WHEN tp + fn > 0 THEN tp * 1000000 div (tp + fn) END")
          .as("recall_ppm"),
        expr("""CASE WHEN 2 * tp + fp + fn > 0
                THEN 2 * tp * 1000000 div (2 * tp + fp + fn) END""")
          .as("f1_ppm"))
  }
}
