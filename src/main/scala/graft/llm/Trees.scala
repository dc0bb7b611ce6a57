package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Decision-stump training (one-level CART) — the interpretable
  * baseline classifier / feature-importance probe next to the
  * gradient-descent classifier (`Classifier`): pick the single
  * (feature, threshold) split minimizing Gini impurity over integer-grid
  * features.
  *
  * Criterion on the exact integer grid: minimizing weighted Gini is
  * equivalent to maximizing
  *
  *   score = (k_L² + (n_L−k_L)²)·1e9 div n_L
  *         + (k_R² + (n_R−k_R)²)·1e9 div n_R
  *
  * (squares in DECIMAL(38,0) so nothing overflows; the two truncating
  * divisions are the deterministic ppb grid both engines share; ties
  * break to the first feature name, then the smallest threshold).
  *
  * Scale shape: ONE scan per feature builds the per-distinct-value
  * (n, k) aggregate; candidate thresholds are prefix sums over that
  * value-bounded frame (the q290 aggregated-frame contract — for
  * continuous features, pre-grid or pre-bin them); the winner is a
  * 1-row TakeOrdered. */
object Trees {

  /** @param features (name, integer-grid expression) — each must be an
    *                 integral column (pre-grid doubles, e.g. percents)
    * @param label    boolean positive-class column
    * @return 1 row: (feature, threshold, n_left, k_left, n_right,
    *         k_right, score_ppb, rate_left_ppm, rate_right_ppm);
    *         left = value <= threshold. */
  def trainStump(df: DataFrame, label: Column,
                 features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "trainStump needs at least one feature")
    val splits = features.map { case (name, f) =>
      val agg = df
        .filter(f.isNotNull)
        .groupBy(f.cast("long").as("v"))
        .agg(count(lit(1)).as("n"),
          sum(when(label, 1L).otherwise(0L)).as("k"))
      // prefix over the AGGREGATED distinct-value frame (value-bounded)
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = agg.agg(sum(col("n")).as("__n"), sum(col("k")).as("__k"))
      agg
        .withColumn("nl", sum(col("n")).over(w).cast("long"))
        .withColumn("kl", sum(col("k")).over(w).cast("long"))
        .crossJoin(tot)
        .filter(col("nl") < col("__n")) // right side must be non-empty
        .select(lit(name).as("feature"), col("v").as("threshold"),
          col("nl").as("n_left"), col("kl").as("k_left"),
          (col("__n") - col("nl")).cast("long").as("n_right"),
          (col("__k") - col("kl")).cast("long").as("k_right"))
    }.reduce(_ union _)
    splits
      .withColumn("score_ppb", expr(
        """(CAST(k_left AS DECIMAL(38,0)) * k_left
            + CAST(n_left - k_left AS DECIMAL(38,0)) * (n_left - k_left))
           * 1000000000 div n_left
         + (CAST(k_right AS DECIMAL(38,0)) * k_right
            + CAST(n_right - k_right AS DECIMAL(38,0)) * (n_right - k_right))
           * 1000000000 div n_right""").cast("long"))
      .withColumn("rate_left_ppm", expr("k_left * 1000000 div n_left"))
      .withColumn("rate_right_ppm", expr("k_right * 1000000 div n_right"))
      .orderBy(col("score_ppb").desc, col("feature"), col("threshold"))
      .limit(1)
  }
}
