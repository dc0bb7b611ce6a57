package graft

import graft.util.Parallelize

class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries the shipped configuration") {
    val floor = spark.sparkContext.defaultParallelism
    assert(floor === 4)
    assert(spark.conf.get(Parallelize.CachedPlanAqeKey) === "true")
    assert(spark.conf.get(Parallelize.InitialPartitionNumKey) === floor.toString)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    // a builder constant, not a flag the first events read flips
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }
}
