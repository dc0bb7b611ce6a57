package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution-drift monitoring between two event-time windows — the
  * data-quality gate a continuously-fed training pipeline runs before a
  * new snapshot is admitted (population stability index, the standard
  * risk-model drift score; PSI < 0.1 stable, > 0.25 shifted).
  *
  * Scale shape: ONE count aggregate over the scan (bin and side are pure
  * scan-stage expressions on a FIXED grid — no global sort, no
  * quantile pass), then arithmetic over (groups × bins) rows. The
  * empty-bin reinstatement joins are on that tiny grid, never on data.
  * At 100 TB the only data-sized cost is the one groupBy(group, bin,
  * side) count — the wordcount shape.
  *
  * Cross-engine exactness: Laplace-smoothed proportions are ratios of
  * exact integers (+0.5 halves — exact doubles), the per-bin PSI term is
  * rounded to the 12-dp grid, and the per-group total accumulates in
  * decimal (order-independent), rounded to 6 dp on output.
  */
object Drift {

  /** PSI of `valueCol` per `groupCol` between rows before and after
    * `splitIso` (event time), over `bins` equal-width buckets of
    * [lo, hi) with out-of-range values clamped to the edge bins.
    * Returns (group, n_ref, n_cur, psi). */
  def psi(df: DataFrame, groupCol: String, valueCol: String,
          tsCol: String, splitIso: String,
          bins: Int, lo: Double, hi: Double): DataFrame = {
    require(bins > 1 && hi > lo, s"bad grid: bins=$bins [$lo, $hi)")
    val w = (hi - lo) / bins
    val bin = least(greatest(
        floor((col(valueCol) - lit(lo)) / lit(w)), lit(0.0)),
      lit(bins - 1.0)).cast("int")
    val isRef = col(tsCol) < lit(splitIso).cast("timestamp")
    // the one data-sized aggregate: map-side combine collapses each
    // partition to <= groups x bins x 2 partial rows before the shuffle
    val counts = df
      .select(col(groupCol), bin.as("bin"), isRef.as("ref"))
      .groupBy(groupCol, "bin", "ref").agg(count(lit(1)).as("n"))
    // reinstate empty bins (the q17 pattern): PSI is defined over the
    // full grid — a bin observed on one side only still contributes
    val grid = counts.select(col(groupCol)).distinct()
      .select(col(groupCol), explode(sequence(lit(0), lit(bins - 1))).as("bin"))
    def side(v: Boolean, as: String) = counts.filter(col("ref") === v)
      .select(col(groupCol), col("bin"), col("n").as(as))
    val wide = grid
      .join(side(v = true, "nr"), Seq(groupCol, "bin"), "left")
      .join(side(v = false, "nc"), Seq(groupCol, "bin"), "left")
      .na.fill(0L, Seq("nr", "nc"))
    val tot = wide.groupBy(groupCol)
      .agg(sum("nr").as("tr"), sum("nc").as("tc"))
    wide.join(tot, groupCol)
      .withColumn("pr", (col("nr") + lit(0.5)) / (col("tr") + lit(0.5 * bins)))
      .withColumn("pc", (col("nc") + lit(0.5)) / (col("tc") + lit(0.5 * bins)))
      .withColumn("term",
        round((col("pc") - col("pr")) * log(col("pc") / col("pr")), 12)
          .cast(DecimalType(30, 12)))
      .groupBy(groupCol)
      .agg(max(col("tr")).as("n_ref"), max(col("tc")).as("n_cur"),
        round(sum(col("term")).cast("double"), 6).as("psi"))
  }

  /** Jensen–Shannon divergence (bits) between the item distributions
    * of two slices — PSI's BOUNDED, symmetric sibling (0 = identical,
    * 1 bit = disjoint), the drift score that never blows up on
    * vocabulary the other side lacks:
    *   JSD = Σ_w [p·log2(2p/(p+q)) + q·log2(2q/(p+q))] / 2
    * over the union vocabulary, with a side's term vanishing where its
    * count is zero (lim x→0 x·log x = 0 — no smoothing needed).
    *
    * Scale shape: the wordcount aggregate on (side, item), a pivot to
    * the per-item wide frame, two 1-row total broadcasts; per-item libm
    * terms round to 12 dp before the decimal sum (the [[psi]]
    * convention), output at 6 dp.
    *
    * @param isA boolean column selecting side A (false ⇒ side B) */
  def jsDivergence(df: DataFrame, isA: org.apache.spark.sql.Column,
                   item: org.apache.spark.sql.Column): DataFrame = {
    val counts = graft.util.QueryCache.persist(
      df.select(isA.as("a"), item.as("w"))
        .groupBy(col("w"))
        .agg(sum(when(col("a"), 1L).otherwise(0L)).as("na"),
          sum(when(col("a"), 0L).otherwise(1L)).as("nb")))
    val tot = counts.agg(sum(col("na")).cast("long").as("ta"),
      sum(col("nb")).cast("long").as("tb"))
    // an empty SIDE (ta or tb = 0) makes its distribution — and the
    // divergence — undefined: NULL out the ratio (ANSI division would
    // throw), which propagates to a NULL jsd_bits on the summary row
    counts.crossJoin(tot)
      .withColumn("p",
        col("na").cast("double") / when(col("ta") =!= 0, col("ta")))
      .withColumn("q",
        col("nb").cast("double") / when(col("tb") =!= 0, col("tb")))
      .withColumn("term", round(
        when(col("na") > 0,
          col("p") * log2(lit(2.0) * col("p") / (col("p") + col("q"))))
          .otherwise(lit(0.0)) +
        when(col("nb") > 0,
          col("q") * log2(lit(2.0) * col("q") / (col("p") + col("q"))))
          .otherwise(lit(0.0)), 12).cast(DecimalType(30, 12)))
      .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
        count(lit(1)).as("vocab_union"),
        round(sum(col("term")).cast("double") / 2.0, 6).as("jsd_bits"))
  }
}
