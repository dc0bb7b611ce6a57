package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Positional index attachment for `isel` / `head` / `tail` / `thin` / `roll`
  * semantics (SURVEY.md §2.2): xarray selects by POSITION along a dimension
  * (ref `xarray/core/dataset.py:2801` `isel`); the long format has no row
  * order, so positions are derived from the dimension coordinate's sort
  * order.
  *
  * Scale note (100 TB): a naive `row_number() over (orderBy col)` uses ONE
  * window partition — a single-task bottleneck. Every positional or
  * cumulative verb here (ordinals, running sums) instead splits the order
  * into bounded buckets — range partitions, or dense-id blocks — and adds
  * the exclusive prefix over per-bucket totals ([[bucketOffsets]]) to a
  * within-bucket prefix. This is the same partial-offsets scheme Spark's
  * own `RDD.zipWithIndex` uses (and dask's cross-chunk cumulative scan).
  */
object Positions {

  /** Attach a 0-based `posCol` ordinal ordered by `orderCols` (ties broken by
    * their sort order; pass a unique key suffix for determinism).
    *
    * Fully native (no RDD hop, stays in Tungsten): after the range exchange
    * + local sort, `monotonically_increasing_id` is `pid << 33 | rowInPart`
    * evaluated in partition iteration order — i.e. a partition-LOCAL ordinal
    * as a pure projection, no window. Per-partition counts (<= P rows) are
    * collected and broadcast-joined back as global offsets — the one
    * driver-side prefix left: [[bucketOffsets]]' window would put a Window
    * into every rank plan, which PlanSpec holds to none. The ranged frame
    * is persisted: the offsets job and every downstream consumer (count(),
    * pad/roll joins) reuse it instead of re-running the shuffle+sort. */
  def zipWithIndex(df: DataFrame, orderCols: Seq[Column], posCol: String): DataFrame = {
    // Dense-integer fast path: a single integral order column whose values
    // are exactly {min..max} (generated ids, coordinate axes — the common
    // xarray dimension shape) admits pos = col - min as a PURE PROJECTION
    // — at 100 TB that removes the whole shuffle, not just overhead.
    val dense = if (orderCols.length == 1) denseRange(df, orderCols.head) else None
    if (dense.nonEmpty)
      return df.withColumn(posCol, orderCols.head.cast(LongType) - dense.get._1)
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
    ranged.join(offDf, "__pid")
      .withColumn(posCol,
        col("__off") + (col("__mid") - shiftleft(col("__pid").cast(LongType), 33)))
      .drop("__pid", "__mid", "__off")
  }

  /** Attach `sumCol` = running total of `valCol` in `orderCol` order
    * (INCLUSIVE of the current row): partition-LOCAL running sums (a
    * window partitioned by bucket — bounded) plus [[bucketOffsets]]. No
    * global window, no single-task bottleneck.
    *
    * Dense-integer fast path: when `orderCol` is an integral column whose
    * values are exactly {min..max} — generated doc ids, the common packing
    * shape — the row's bucket is a PURE PROJECTION `(id - min) div block`,
    * which replaces the range-partitioner's sampling job and the pinned-
    * partition-id persist outright. Buckets are perfectly balanced by
    * density, so no skew risk. Non-dense or non-integral order keys fall
    * back to sampled range partitioning (pinned partition ids). */
  def runningSum(df: DataFrame, orderCol: Column, valCol: Column,
                 sumCol: String): DataFrame = {
    val spark = df.sparkSession
    val p = math.max(spark.sparkContext.defaultParallelism, 1)
    // persist: the probe aggregate, the offsets branch and the final plan
    // all consume this frame — without materialisation each re-runs the
    // (often expensive) valCol from the source scan. The caller's
    // QueryCache scope releases the entry, so it is query-scoped.
    // An eager localCheckpoint here cost an extra blocking job and cut
    // the plan off from AQE (measured 2-4× on the packing queries).
    val narrow = graft.util.QueryCache.persist(
      df.withColumn("__v", valCol.cast(LongType)))
    val bucketed = denseRange(narrow, orderCol) match {
      case Some((mn, n)) =>
        val block = math.max(1L, (n + p - 1) / p)
        // exact integral floor-div: Column./ is DOUBLE division; subtract
        // the remainder first so the quotient is an exact multiple
        val diff = orderCol.cast(LongType) - mn
        narrow.withColumn("__b", ((diff - pmod(diff, lit(block))) / block)
          .cast(LongType))
      case None =>
        graft.util.QueryCache.persist(narrow
          .repartitionByRange(p, orderCol)
          .sortWithinPartitions(orderCol)
          .withColumn("__b", spark_partition_id()))
    }
    // explicit ROWS frame: the default RANGE frame sums all PEERS of a
    // tied order value into every tied row, breaking the per-row running
    // total (ties then share arithmetic, not just arbitrary order)
    val localW = Window.partitionBy("__b").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // coalesce: a bucket whose __v are all null must contribute 0, not a
    // null that poisons the running offsets
    bucketOffsets(bucketed, "__b",
        coalesce(sum(col("__v")), lit(0L)).as("__off"))
      .withColumn(sumCol, col("__off") + sum(col("__v")).over(localW))
      .drop("__b", "__off", "__v")
  }

  /** Join each row of `df` to the exclusive prefix, in `bucket` order, of
    * the per-bucket `totals` — aggregate columns, each aliased to the name
    * of the offset column it becomes (a bucket's offset is the sum of the
    * totals of every lower bucket; the first bucket's is 0).
    *
    * The prefix stays IN-PLAN: an unpartitioned window over the per-bucket
    * AGGREGATE (one row per bucket — bounded by the caller's bucket
    * range, or by the partition count when buckets are partition ids),
    * broadcast-joined back, so it runs inside the caller's action instead
    * of as a driver collect while the query is built. Rows whose bucket is
    * NULL get no offset row and drop out of the join; the buckets must be
    * stable across the two reads of `df` (persist a frame whose bucket is
    * a partition id). */
  def bucketOffsets(df: DataFrame, bucket: String, totals: Column*): DataFrame = {
    val perBucket = df.filter(col(bucket).isNotNull)
      .groupBy(col(bucket)).agg(totals.head, totals.tail: _*)
    val below = Window.orderBy(col(bucket))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket.select(col(bucket) +:
      perBucket.columns.tail.toSeq.map(t =>
        coalesce(sum(col(t)).over(below), lit(0)).as(t)): _*)
    df.join(broadcast(offsets), bucket)
  }

  /** `Some((min, count))` when `c` is an integral column whose values are
    * exactly {min..max} with no NULL or repeat — one probe aggregate. */
  private def denseRange(df: DataFrame, c: Column): Option[(Long, Long)] =
    try {
      val dt = df.select(c).schema.head.dataType
      if (dt != LongType && dt != IntegerType && dt != ShortType &&
          dt != ByteType) None
      else {
        val r = df.agg(min(c).cast(LongType), max(c).cast(LongType),
          count(lit(1)), count_distinct(c)).collect()(0)
        if (!r.isNullAt(0) &&
            r.getLong(1) - r.getLong(0) + 1 == r.getLong(2) &&
            r.getLong(2) == r.getLong(3)) Some((r.getLong(0), r.getLong(2)))
        else None
      }
    } catch { case _: org.apache.spark.sql.AnalysisException => None }
}
