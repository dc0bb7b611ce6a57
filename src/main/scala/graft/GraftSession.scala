package graft

import org.apache.spark.sql.SparkSession

/** The shipped session: every main and the test suite build from here, so
  * the benchmark, the oracle dump and the tests run queries on one
  * configuration. `local[cpus]` with one shuffle partition per core, AQE
  * on, UTC, the UI off; then [[util.Parallelize.tuneShuffle]] keys the
  * initial shuffle width to the bytes under `dataDir` and lets AQE
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
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Parallelize.tuneShuffle(spark, dataDir)
    spark
  }

  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())
}
