package graft

import org.apache.spark.sql.functions._
import graft.io.Bucketing

/** The co-located join layout actually removes the shuffle: bucketed join
  * plan has no Exchange, the plain-parquet control does. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("join between co-bucketed tables is shuffle-free") {
    val left = spark.range(10000).toDF("k").withColumn("a", col("k") % 7)
    val right = spark.range(5000).toDF("k").withColumn("b", col("k") % 11)
    val dir = scratchDir("bucketing")
    Bucketing.writeBucketed(left, "bk_left", s"$dir/left", "k", 8)
    Bucketing.writeBucketed(right, "bk_right", s"$dir/right", "k", 8)
    // external tables: the files sit under the scratch directory
    assert(new java.io.File(s"$dir/left").list().exists(_.endsWith(".parquet")))
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force SortMergeJoin so the Exchange question is meaningful
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val bucketed = Bucketing.join(spark, "bk_left", "bk_right", "k")
      val bPlan = bucketed.queryExecution.executedPlan.toString
      assert(!bPlan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$bPlan")
      assert(bucketed.count() === 5000L)

      val control = left.join(right, "k")
      val cPlan = control.queryExecution.executedPlan.toString
      assert(cPlan.contains("Exchange"),
        "control join without bucketing should shuffle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS bk_left")
      spark.sql("DROP TABLE IF EXISTS bk_right")
    }
  }
}
