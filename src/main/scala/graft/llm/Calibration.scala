package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Probability-calibration diagnostics and repair for scored
  * classifiers — the evals that say whether predicted PROBABILITIES are
  * usable (reliability/ECE) and the monotone fit that repairs them
  * (isotonic regression), next to `Agreement.classReport`'s
  * verdict-level P/R/F1.
  *
  * Exactness: probabilities are summed in DECIMAL (never float
  * accumulation), rates live on the exact ppm grid, squared errors on
  * the e12 grid; everything an external engine replays verbatim. */
object Calibration {

  /** Reliability report over `buckets` equal-width probability bins:
    * per-bin accuracy vs mean confidence + squared error, with
    * ECE = Σ n_b·|acc_b − conf_b| div N as a constant column.
    * `scored` needs (y: 0/1, prob: double already rounded to ≤6 dp). */
  def eceReport(scored: DataFrame, buckets: Int = 10): DataFrame = {
    val pd = scored.select(col("y"),
      col("prob").cast(DecimalType(10, 6)).as("p"),
      // clamp the right edge: prob == 1.0 belongs to the TOP bin, not a
      // phantom (buckets+1)-th one — the standard reliability-diagram
      // half-open [lo, hi) binning with a closed last interval
      least(floor(col("prob") * buckets), lit(buckets - 1).cast("long"))
        .cast("long").as("bucket"))
    val perB = pd.groupBy("bucket").agg(
      count(lit(1)).as("n"), sum(col("y")).cast("long").as("k"),
      sum(col("p")).as("sp"),
      sum(((col("p") - col("y").cast(DecimalType(10, 6)))
        * (col("p") - col("y").cast(DecimalType(10, 6))))
        .cast(DecimalType(38, 12))).as("sq"))
      .select(col("bucket"), col("n"), col("k"),
        expr("k * 1000000 div n").as("acc_ppm"),
        expr("CAST(sp * 1000000 AS DECIMAL(38,0)) div n").as("conf_ppm"),
        expr("CAST(sq * 1000000000000 AS DECIMAL(38,0))").cast("long")
          .as("sqerr_e12"))
    val perBp = graft.util.QueryCache.persist(perB)
    val ece = perBp.agg(
      expr("sum(n * abs(acc_ppm - conf_ppm)) div sum(n)").as("ece_ppm"))
    perBp.crossJoin(ece)
  }

  /** Isotonic (non-decreasing) fit of per-bucket rates by PAVA's
    * minimax characterization fit_b = max_{j≤b} min_{k≥b} rate(j..k),
    * rates on the exact ppm grid (truncating div applied per segment —
    * the grid both engines share; monotonicity is preserved because the
    * minimax structure is). All joins run on the BUCKET aggregate
    * (bounded by the bin count, never data): B² segments, B³ join rows.
    * `perBucket` needs (bucket, n, k) with bucket orderable. */
  def isotonicFit(perBucket: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = graft.util.QueryCache.persist(perBucket
      .select(col("bucket"), col("n").cast("long").as("n"),
        col("k").cast("long").as("k"))
      .withColumn("cn", sum(col("n")).over(w).cast("long"))
      .withColumn("ck", sum(col("k")).over(w).cast("long")))
    val j = pre.select(col("bucket").as("jb"),
      (col("cn") - col("n")).as("nj0"), (col("ck") - col("k")).as("kj0"))
    val kk = pre.select(col("bucket").as("kb"), col("cn").as("nk"),
      col("ck").as("kk"))
    val segs = j.join(kk, col("jb") <= col("kb"))
      .select(col("jb"), col("kb"),
        expr("(kk - kj0) * 1000000 div (nk - nj0)").as("avg_ppm"))
    val bs = pre.select(col("bucket"), col("n"), col("k"),
      expr("k * 1000000 div n").as("raw_ppm"))
    val fit = bs.select(col("bucket"))
      .join(segs, col("jb") <= col("bucket") && col("kb") >= col("bucket"))
      .groupBy(col("bucket"), col("jb"))
      .agg(min(col("avg_ppm")).as("mn"))
      .groupBy(col("bucket")).agg(max(col("mn")).as("fit_ppm"))
    bs.join(fit, "bucket")
  }
}
