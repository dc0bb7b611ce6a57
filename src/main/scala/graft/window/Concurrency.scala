package graft.window

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sweep-line concurrency — "how many sessions were open at once": +1 at
  * every session start, −1 at every end, running-sum the boundary stream,
  * take each day's max.
  *
  * Scale shape: the running sum is [[graft.model.Positions.runningSum]]
  * — a bucket-partitioned local window plus
  * [[graft.model.Positions.bucketOffsets]], NEVER a global window over
  * the boundary stream. Ties collapse first (one row per (instant,
  * side)), and at an instant ends apply before starts (key = 2·µs for
  * ends, 2·µs+1 for starts), so a back-to-back handoff never counts as
  * an overlap and the running key is unique — both engines replay the
  * identical total order. */
object Concurrency {

  /** Per-day peak concurrency, evaluated AT BOUNDARY INSTANTS of that
    * day only — the exact contract (both engines replay it): a day is
    * present iff at least one session starts or ends inside it, and its
    * peak is the max running level over those instants. A day that
    * falls entirely INSIDE a multi-day session emits no row, and a day
    * whose true peak is the level carried over midnight (before its
    * first boundary) reports the boundary-instant max instead —
    * sessions are assumed intra-day (true of gap-sessionized streams,
    * whose sessions can't outlive the gap). For multi-day sessions,
    * split rows at midnight upstream before calling this.
    *
    * @param sessions one row per session with timestamp columns
    * @return per day: boundary count and peak concurrency. */
  def dailyPeak(sessions: DataFrame, tStart: String,
                tEnd: String): DataFrame = {
    val b = sessions
      .select(unix_micros(col(tStart)).as("us"), lit(1L).as("d"))
      .union(sessions
        .select(unix_micros(col(tEnd)).as("us"), lit(-1L).as("d")))
    val agg = b.groupBy(col("us"), col("d"))
      .agg(sum(col("d")).cast("long").as("dd"))
      .withColumn("key",
        col("us") * 2 + when(col("d") === 1L, 1L).otherwise(0L))
    val run = graft.model.Positions.runningSum(agg, col("key"),
      col("dd"), "conc")
    run.groupBy(to_date(timestamp_micros(col("us"))).as("day"))
      .agg(count(lit(1)).as("n_boundaries"),
        max(col("conc")).cast("long").as("peak_concurrency"))
  }
}
