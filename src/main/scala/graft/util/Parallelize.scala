package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical._

/** The partitions-∝-data law as ENGINE behavior (BENCH_SCALE.md's
  * round-15/16 conclusion, promoted from per-call-site tuning):
  *
  *  - [[ensure]] widens narrow compute-heavy SCAN stages to
  *    `max(defaultParallelism, inputBytes / EnsureTargetBytes)` —
  *    on a laptop-scale input the cluster-parallelism floor wins
  *    (identical to the old behavior); on a 100 TB scan the byte term
  *    wins and the width follows the data with no hand tuning.
  *  - [[tuneShuffle]] keys AQE's `initialPartitionNum` to the total
  *    bytes of the tables under a data directory, so HEAVY AGGREGATE
  *    reduce stages start partitions-∝-data (the q239 0.67×-at-30×
  *    control) while AQE coalescing still shrinks small stages back to
  *    the parallelism floor.
  *  - [[withFixedShuffle]] scopes a FIXED width for round-bounded
  *    iterative verbs: their per-round eager `localCheckpoint`
  *    materializes at the raw partition count, outside AQE's
  *    coalescing reach, so a data-keyed width would multiply their
  *    per-round task count for no benefit (measured 1.7–2.2× at 30×;
  *    BENCH_SCALE.md "Deployment guidance").
  */
object Parallelize {

  /** On-disk bytes per widened scan partition: parquet text decompresses
    * ~4×, so ≈64 MiB of in-flight rows per task. */
  val EnsureTargetBytes: Long = 16L << 20
  /** Scanned input bytes per reduce partition, sized so the 30× replica
    * lands at the empirically-best ~96-partition width. */
  val ShuffleTargetBytes: Long = 8L << 20
  /** Width cap: a 100 TB input keys to the cap, not to millions of tasks. */
  val MaxPartitions: Int = 65536
  val InitialPartitionNumKey =
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** True iff the plan is narrow scan-shaped: no node that introduces an
    * exchange. Only such plans need (or can cheaply measure) a widen —
    * anything with a join/aggregate/window/repartition already runs its
    * downstream stages at the shuffle width, and calling `.rdd` on it
    * under AQE would eagerly execute its shuffle stages. */
  private def scanShaped(df: DataFrame): Boolean =
    !df.queryExecution.analyzed.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort |
           _: RepartitionOperation | _: Distinct | _: Deduplicate => true
      case _ => false
    }

  /** Total on-disk bytes of the plan's FILE-SOURCE leaves. Non-file
    * leaves (LocalRelation, LogicalRDD, in-memory caches) count as 0 —
    * their `stats.sizeInBytes` is the Long.MaxValue UNKNOWN sentinel
    * before materialization, which would key every width to the cap
    * (measured: a 65536-task shuffle of an empty test RDD). For those
    * the parallelism floor is the only honest answer. */
  def inputBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        BigInt(lr.relation.sizeInBytes)
      case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        v2.stats.sizeInBytes
      case _ => BigInt(0)
    }.map(b => if (b >= BigInt(Long.MaxValue) / 2) BigInt(0) else b)
      .sum.min(BigInt(Long.MaxValue)).toLong

  /** The data-keyed width: `bytes / target`, floored at `floor` (the
    * cluster's default parallelism), capped at `cap`. */
  def widthFor(floor: Int, bytes: Long, target: Long, cap: Int): Int =
    math.max(floor.toLong, math.min(bytes / math.max(1L, target), cap.toLong))
      .toInt

  /** `df`, repartitioned to the data-keyed width iff it is a narrow scan
    * whose partition count is lower. Frames that already contain an
    * exchange are returned untouched. At local test scale the byte term
    * is ~0 and this reduces to the old defaultParallelism floor. */
  def ensure(df: DataFrame): DataFrame = ensure(df, EnsureTargetBytes)

  private[graft] def ensure(df: DataFrame, target: Long): DataFrame = {
    if (!scanShaped(df)) return df
    val want = widthFor(df.sparkSession.sparkContext.defaultParallelism,
      inputBytes(df), target, MaxPartitions)
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** The session's data-keyed shuffle width (what [[tuneShuffle]] set),
    * falling back to the cluster parallelism floor. For REPARTITION_BY_NUM
    * call-sites that must pin a stage's width explicitly: AQE's
    * byte-based partition coalescing under-parallelizes stages whose
    * per-row COMPUTE dwarfs their bytes (array intersections over
    * small pair keys collapse to 1-3 tasks at 1 MiB minPartitionSize —
    * measured 13 s of task time on 3 tasks in q339's verify stage), and
    * an explicit numPartitions is exactly the shape AQE leaves alone. */
  def computeWidth(spark: SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism,
      spark.conf.getOption(InitialPartitionNumKey)
        .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(1))

  /** Sum of regular-file bytes under `dir` (recursing into table dirs). */
  def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  val CachedPlanAqeKey =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** Keys the session's initial shuffle width to the bytes under the
    * data directory: heavy aggregate stages inherit partitions ∝ data,
    * AQE coalescing shrinks everything else back to the floor. Explicit
    * `spark.sql.shuffle.partitions`-style scoping (streaming verbs,
    * [[withFixedShuffle]]) still overrides per query.
    *
    * Also lets AQE apply its byte-keyed partition coalescing to CACHED
    * plans (`canChangeCachedPlanOutputPartitioning=true`; off upstream
    * by default): with it off, every `persist` materializes at the raw
    * initial shuffle width and every downstream scan of the cache — and
    * every per-round localCheckpoint whose parent is the cache — pays
    * that width in task scheduling. The round-18 profile of the
    * iterative verbs (q294 HITS: 36 jobs of 32-task stages with ~0 task
    * time; q356 k-core rounds at 64 tasks × ~90 ms fixed cost) was
    * exactly this (the A/B that motivated the flip was not recorded).
    * Scale-safe by construction: a 100 TB cached frame coalesces to
    * advisory-sized (not tiny) partitions, and compute-heavy-tiny-byte
    * frames keep their explicit REPARTITION_BY_NUM pins, which AQE
    * never coalesces. */
  def tuneShuffle(spark: SparkSession, dir: String): Int =
    tuneShuffle(spark, dir, ShuffleTargetBytes)

  private[graft] def tuneShuffle(spark: SparkSession, dir: String,
                                 target: Long): Int = {
    val width = widthFor(spark.sparkContext.defaultParallelism,
      dirBytes(dir), target, MaxPartitions)
    spark.conf.set(InitialPartitionNumKey, width.toString)
    spark.conf.set(CachedPlanAqeKey, "true")
    width
  }

  /** Runs `body` with BOTH shuffle-width knobs pinned to `n`, restoring
    * the previous values after. For round-bounded iterative verbs whose
    * per-round eager localCheckpoint materializes at the raw width. */
  def withFixedShuffle[T](spark: SparkSession, n: Int)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions", InitialPartitionNumKey)
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, n.toString))
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
