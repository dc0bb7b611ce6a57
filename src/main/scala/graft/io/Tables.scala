package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's TPC-H-ish testdata (TESTDATA.md). Reads are plain
  * parquet scans so Catalyst predicate pushdown / column pruning apply; at
  * cluster scale these would be partitioned tables and nothing here changes. */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) (older testdata
    * drops — Spark only reads those as physical INT64, under
    * `spark.sql.legacy.parquet.nanosAsLong`, which [[graft.GraftSession]]
    * sets) and TIMESTAMP(MICROS) (current drops — read natively). Dispatch
    * on the scanned dtype so both work; DuckDB truncates nanos to µs on the
    * same file, so the oracle agrees either way. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      // `ts div 1000` is exact integral division; `ts / 1000` would go
      // through double (epoch-nanos > 2^53) and corrupt timestamps.
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // MICROS files land as TIMESTAMP_NTZ; normalize to TimestampType so
      // every downstream dtype dispatch (AsOf, Numerics, unix_micros) sees
      // one type. All sessions pin timeZone=UTC, so the cast is exact.
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
