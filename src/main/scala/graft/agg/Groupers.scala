package graft.agg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Grouper vocabulary (ref `xarray/groupers.py`): each grouper maps a
  * coordinate column to a bucket expression; `groupBy(bucket)` then gives
  * partial+final hash aggregation for free (the analog of flox map-reduce,
  * ref `core/groupby.py:1064`).
  *
  * xarray semantics the plain groupBy misses: `BinGrouper`/`TimeResampler`
  * emit EMPTY buckets (NaN rows) for bins with no data; [[reinstate]] adds
  * them back with a left join FROM the generated bucket table
  * (SURVEY.md §3.2 step 5).
  */
object Groupers {

  /** UniqueGrouper (ref `groupers.py:210`): group by the column itself. */
  def unique(c: String): Column = col(c)

  /** BinGrouper (ref `groupers.py:344`, pd.cut semantics: right-closed
    * intervals (lo, hi]). Returns the 0-based bin index; values outside
    * [lo, hi] get NULL like pd.cut's NaN. */
  def bins(c: Column, lo: Double, hi: Double, n: Int): Column = {
    val width = (hi - lo) / n
    val raw = ceil((c - lit(lo)) / lit(width)).cast("long") - 1L
    when(c > lo && c <= hi, greatest(raw, lit(0L)))
  }

  /** TimeResampler bucket (ref `groupers.py:474`): calendar-aligned
    * `date_trunc`; sub-daily/arbitrary origins use [[resampleOrigin]]. */
  def resample(t: Column, unit: String): Column = date_trunc(unit, t)

  /** Arbitrary-frequency resample bucket with explicit origin:
    * floor((t - origin) / step) * step + origin (ref `resample_cftime.py`). */
  def resampleOrigin(t: Column, originEpochSec: Long, stepSec: Long): Column = {
    val sec = unix_timestamp(t)
    timestamp_seconds(floor((sec - lit(originEpochSec)) / lit(stepSec))
      .cast("long") * lit(stepSec) + lit(originEpochSec))
  }

  /** SeasonGrouper "DJF/MAM/JJA/SON" (ref `groupers.py:801`). */
  def season(t: Column): Column =
    when(month(t).isin(12, 1, 2), "DJF")
      .when(month(t).isin(3, 4, 5), "MAM")
      .when(month(t).isin(6, 7, 8), "JJA")
      .otherwise("SON")

  // --- SeasonResampler (ref `groupers.py:874`) -------------------------

  /** season_to_month_tuple (ref `groupers.py:682`): "DJFM" -> months
    * (12,1,2,3). Single-letter seasons disambiguate via the NEXT season's
    * first letter, exactly like the reference. */
  def seasonMonths(seasons: Seq[String]): Seq[Seq[Int]] = {
    val initials = "JFMAMJJASOND"
    val wrapped = initials + "J"
    val starts = (0 until 12)
      .map(i => s"${wrapped(i)}${wrapped(i + 1)}" -> (i + 1)).toMap
    val tuples = seasons.zipWithIndex.map { case (season, i) =>
      val suffix =
        if (season.length == 1)
          (if (i < seasons.length - 1) seasons(i + 1) else seasons.head).head
        else season(1)
      val start = starts(s"${season.head}$suffix")
      start +: (1 until season.length).map { k =>
        val e = start + k; if (e > 12) e - 12 else e
      }
    }
    // NOTE: overlap is allowed here (SeasonGrouper supports it); the
    // RESAMPLER path rejects it in [[seasonLabel]], mirroring the split
    // between `groupers.py:820` and `SeasonResampler.__post_init__:903`.
    tuples
  }

  /** SeasonResampler group LABEL: timestamp(year, first month of season, 1)
    * with the year WRAP — in a season containing "D" followed by more
    * months (DJF), the months after December belong to DECEMBER's year, so
    * Jan/Feb 2001 label 2000-12-01 (ref `groupers.py:940` "offset years
    * for seasons with December and January"). Months in no season -> NULL. */
  def seasonLabel(t: Column, seasons: Seq[String]): Column = {
    val tuples = seasonMonths(seasons)
    require(tuples.flatten.distinct.length == tuples.flatten.length,
      s"Overlapping seasons are not allowed. Received $seasons")
    val m = month(t)
    tuples.zip(seasons).foldLeft(lit(null).cast("timestamp")) {
      case (acc, (months, s)) =>
        val idxD = s.indexOf('D')
        val yr =
          if (idxD >= 0 && idxD < s.length - 1) {
            val afterDec = months.drop(idxD + 1)
            when(m.isin(afterDec: _*), year(t) - 1).otherwise(year(t))
          } else year(t)
        when(m.isin(months: _*),
          to_timestamp(format_string("%04d-%02d-01", yr, lit(months.head))))
          .otherwise(acc)
    }
  }

  /** Map a season label's month (= the season's FIRST month) to the
    * season's LAST month — the drop_incomplete completeness test. */
  def seasonLastMonth(labelMonth: Column, seasons: Seq[String]): Column =
    seasonMonths(seasons).foldLeft(lit(null).cast("int")) { (acc, months) =>
      when(labelMonth === months.head, lit(months.last)).otherwise(acc)
    }

  /** drop_incomplete (ref `groupers.py:1026`): remove the FIRST group when
    * the data's earliest in-season month isn't that season's first month,
    * and the LAST group when the latest month isn't its season's last —
    * partial boundary seasons would otherwise masquerade as totals. One
    * scalar min/max aggregate, broadcast back (no window, no collect of
    * data rows). `lab` must be the [[seasonLabel]] column name in `df`. */
  def seasonDropIncomplete(df: DataFrame, t: String, lab: String,
                           seasons: Seq[String]): DataFrame = {
    val b = df.filter(col(lab).isNotNull)
      .agg(min(struct(col(t), col(lab))).as("f"),
        max(struct(col(t), col(lab))).as("l"))
      .select(
        col("f").getField(t).as("__ft"), col("f").getField(lab).as("__fl"),
        col("l").getField(t).as("__lt"), col("l").getField(lab).as("__ll"))
    df.crossJoin(b)
      .filter(!(col(lab) === col("__fl") &&
        month(col("__ft")) =!= month(col("__fl"))))
      .filter(!(col(lab) === col("__ll") &&
        month(col("__lt")) =!= seasonLastMonth(month(col("__ll")), seasons)))
      .drop("__ft", "__fl", "__lt", "__ll")
  }

  /** Reinstate empty groups: left join the aggregated result back onto the
    * full bucket table so empty buckets appear as NULL rows — matching
    * xarray's `full_index` re-index (`groupby.py:976` `_maybe_reindex`). */
  def reinstate(buckets: DataFrame, agged: DataFrame, key: String): DataFrame =
    buckets.join(agged, Seq(key), "left")

  /** Generated bucket table for a time range (driver-side tiny, broadcast). */
  def timeBuckets(spark: SparkSession, startIso: String, endIso: String,
                  interval: String, key: String): DataFrame =
    spark.sql(
      s"""SELECT explode(sequence(timestamp'$startIso', timestamp'$endIso',
          interval $interval)) AS $key""")

  /** Quantile binning (pandas qcut; xarray groupby_bins with quantile
    * edges). Two passes at scale: one aggregation computes the k-1 interior
    * quantile boundaries, then a broadcast of that 1-row frame feeds a
    * when-chain bucket assign — no sort, no window. `bs` is the boundary
    * ARRAY column from the broadcast side; bins are right-closed like
    * pd.qcut: bin i = (b_{i-1}, b_i]. */
  def qcutAssign(v: Column, bs: Column, k: Int): Column =
    // NULL in ⇒ NULL bin (pd.qcut gives NaN for NaN); without the guard a
    // NULL comparison falls through every when() into the last bin.
    when(v.isNotNull,
      (k - 2 to 0 by -1).foldLeft(lit(k - 1)) { (acc, i) =>
        when(v <= bs.getItem(i), i).otherwise(acc)
      })
}
