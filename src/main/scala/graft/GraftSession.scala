package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.SparkFiles
import org.apache.spark.sql.SparkSession

/** The shipped session: every main and the test suite build from here, so
  * the benchmark, the oracle dump and the tests run queries on one
  * configuration. `local[cpus]` with one shuffle partition per core, AQE
  * on, UTC, the UI off, parquet TIMESTAMP(NANOS) columns read as INT64
  * (see [[io.Tables.events]]); then [[util.Parallelize.tuneShuffle]] keys
  * the initial shuffle width to the bytes under `dataDir` and lets AQE
  * coalesce cached plans.
  *
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, else every core of the box — a
  * fixed small default once ran CPU-parallel verbs (bootstraps, md5
  * fan-outs) 3-4x slow while totals looked normal. */
object GraftSession {
  def apply(dataDir: String, cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Parallelize.tuneShuffle(spark, dataDir)
    spark
  }

  /** Scratch path for the files a query writes for `name` over the data
    * directory `dir`: `<scratch root>/<name>_<dir, sanitized>`. The parent
    * exists; the path itself is the caller's to create or overwrite. */
  def scratch(spark: SparkSession, name: String, dir: String): String =
    scratchRoot(spark)
      .resolve(name + "_" + dir.replaceAll("[^a-zA-Z0-9]", "_")).toString

  /** `<SparkFiles root>/graft`, created on first use. The SparkFiles root is
    * the driver's `userFiles-<uuid>` directory: Spark makes one per
    * SparkContext under `spark.local.dir` and deletes it at `spark.stop()`
    * and at JVM exit, so two runs on one box never share a scratch path
    * and no scratch file outlives its context. SparkFiles reads the active
    * context, so `spark` must be live. */
  private[graft] def scratchRoot(spark: SparkSession): Path =
    Files.createDirectories(Paths.get(SparkFiles.getRootDirectory(), "graft"))

  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())
}
