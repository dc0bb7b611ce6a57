package graft.model

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Positional index attachment for `isel` / `head` / `tail` / `thin` / `roll`
  * semantics (SURVEY.md §2.2): xarray selects by POSITION along a dimension
  * (ref `xarray/core/dataset.py:2801` `isel`); the long format has no row
  * order, so positions are derived from the dimension coordinate's sort
  * order.
  *
  * Scale note (100 TB): a naive `row_number() over (orderBy col)` uses ONE
  * window partition — a single-task bottleneck. `zipWithIndex` instead
  * range-partitions by the order columns, sorts within partitions, and
  * assigns contiguous ordinals via per-partition offsets (one extra O(P)
  * count job, no global shuffle to a single node). This is the same
  * partial-offsets scheme Spark's own `RDD.zipWithIndex` uses.
  */
object Positions {

  /** Attach a 0-based `posCol` ordinal ordered by `orderCols` (ties broken by
    * their sort order; pass a unique key suffix for determinism).
    *
    * Fully native (no RDD hop, stays in Tungsten): after the range exchange
    * + local sort, `monotonically_increasing_id` is `pid << 33 | rowInPart`
    * evaluated in partition iteration order — i.e. a partition-LOCAL ordinal
    * as a pure projection, no window. Per-partition counts (<= P rows) are
    * collected and broadcast-joined back as global offsets. The ranged frame
    * is persisted: the offsets job and every downstream consumer (count(),
    * pad/roll joins) reuse it instead of re-running the shuffle+sort. */
  def zipWithIndex(df: DataFrame, orderCols: Seq[Column], posCol: String): DataFrame = {
    // Dense-integer fast path: ordering by a single integral column whose
    // values are exactly {min..max} (generated ids, coordinate axes — the
    // common xarray dimension shape) admits pos = col - min as a PURE
    // PROJECTION. One (min, max, count, distinct) probe aggregate replaces
    // the range exchange + per-partition sort + offsets join outright —
    // at 100 TB that removes the whole shuffle, not just overhead.
    if (orderCols.length == 1) {
      try {
        val c = orderCols.head
        import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
        val dt = df.select(c).schema.head.dataType
        if (dt == LongType || dt == IntegerType ||
          dt == ShortType || dt == ByteType) {
          val r = df.agg(min(c).cast(LongType), max(c).cast(LongType),
            count(lit(1)), count_distinct(c)).collect()(0)
          if (!r.isNullAt(0) &&
            r.getLong(1) - r.getLong(0) + 1 == r.getLong(2) &&
            r.getLong(2) == r.getLong(3))
            return df.withColumn(posCol, c.cast(LongType) - r.getLong(0))
        }
      } catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    val spark = df.sparkSession
    val p = math.max(spark.sparkContext.defaultParallelism, 1)
    val ranged = graft.util.QueryCache.persist(df
      .repartitionByRange(p, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id()))
    val counts = ranged.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) =>
      (pid, acc + c)
    }.init.zip(counts).map { case ((_, off), (pid, _)) => (pid, off) }
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    ranged.join(broadcast(offDf), "__pid")
      .withColumn(posCol,
        col("__off") + (col("__mid") - shiftleft(col("__pid").cast(LongType), 33)))
      .drop("__pid", "__mid", "__off")
  }
}
