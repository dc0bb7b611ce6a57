package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (co-located) table layout — the shuffle-free-join pattern for
  * repeatedly-joined large tables at 100 TB scale.
  *
  * The reference has no analog (single-node, everything is in memory); on
  * Spark, a join between two tables bucketed AND sorted by the join key
  * into the same bucket count compiles to a SortMergeJoin with NO Exchange
  * on either side: the shuffle was paid once at write time and amortizes
  * over every subsequent join/aggregation on that key. This is the layout
  * `XIndexes.RangeIndex` is to point lookups, but for equi-joins.
  *
  * Verified in BucketingSpec: the bucketed-join plan contains no Exchange;
  * the same join on plain parquet does.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted parquet table `table` whose files
    * live at `path` (an external table: nothing lands in the working
    * directory's `spark-warehouse/`; at cluster scale the same call
    * against a shared metastore and store). */
  def writeBucketed(df: DataFrame, table: String, path: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).option("path", path)
      .saveAsTable(table)

  /** Join two co-bucketed tables on their bucket key — shuffle-free. */
  def join(spark: SparkSession, left: String, right: String,
           key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
