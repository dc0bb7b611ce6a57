package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.StreamOps

/** Streaming extension (SURVEY.md §2.11): watermarked resample equals
  * batch; custom per-key state via mapGroupsWithState. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming resample over finite source equals batch aggregation") {
    val agg = StreamOps.resampleCounts(
      StreamOps.eventsStream(spark, sf), "1 hour", "10 minutes")
    val streamed = StreamOps.runToCompletion(spark, agg,
      s"stream_spec_${System.nanoTime}")
    val batch = graft.io.Tables.events(spark, sf)
      .groupBy(date_trunc("HOUR", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val s = streamed.select("w_start", "event_type", "n").collect().toSet
    val b = batch.collect().toSet
    assert(s === b)
  }

  test("curation dedup state is watermark-bounded: closed windows evicted") {
    import org.apache.spark.sql.types._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // Split the documents into event-time-ordered files so the watermark
    // advances between micro-batches; 60 s windows over doc_id-seconds
    // event time mean each batch closes earlier windows.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .orderBy("doc_id")
    val srcDir = scratchDir("graft_curation_src")
    val nChunks = 5
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val step = maxId / nChunks + 1
    (0 until nChunks).foreach { k =>
      val tmp = scratchDir(s"graft_chunk_$k")
      docs.filter(col("doc_id") >= k * step && col("doc_id") < (k + 1) * step)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(srcDir, f"chunk_$k%03d.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(1000000L + k * 1000L) // ascending mtimes
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val agg = StreamOps.curationDedup(src, "60 seconds", "0 seconds")
    val name = s"stream_evict_${System.nanoTime}"
    val ckpt = scratchDir("graft_evict_ckpt")
    val q = agg.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
    val removed = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    val lastState = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators.head.numRowsTotal
    val totalGroups = spark.table(name)
      .select("bucket", "content_key").distinct().count()
    assert(removed > 0, "watermark should evict closed-window dedup state")
    assert(lastState < totalGroups,
      s"final state ($lastState rows) must be smaller than the full key " +
        s"space ($totalGroups groups) — otherwise nothing expired")
  }

  test("custom state: running per-user count via mapGroupsWithState") {
    val ev = StreamOps.eventsStream(spark, sf)
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
    val counted = ev.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
    val name = s"stream_state_${System.nanoTime}"
    val q = counted.toDF("user_id", "n").writeStream
      .outputMode(OutputMode.Update).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    // latest state per user == batch count
    val fin = spark.table(name).groupBy("user_id").agg(max("n").as("n"))
    val batch = graft.io.Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(fin.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      batch.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("custom state: flatMapGroupsWithState with processing-time timeout " +
    "emits sessions on expiry") {
    // The state-lifecycle contract a production session op relies on:
    // per-key state accumulates across batches and a processing-time
    // timeout fires the FINAL emission once the key goes quiet. With the
    // finite file source, batch 1 populates state and sets the timeout;
    // the empty trailing batch triggers expiry, so each user emits
    // exactly one summary row carrying hasTimedOut=true semantics.
    val ev = StreamOps.eventsStream(spark, sf)
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
    val sessions = ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, s) = state.get
            state.remove()
            Iterator((user, n, s, true))
          } else {
            var (n, s) = state.getOption.getOrElse((0L, 0.0))
            rows.foreach { r => n += 1L; s += r._2 }
            state.update((n, s))
            state.setTimeoutDuration("50 milliseconds")
            Iterator.empty
          }
      }
    val name = s"stream_timeout_${System.nanoTime}"
    val q = sessions.toDF("user_id", "n", "sum_v", "expired").writeStream
      .outputMode(OutputMode.Append).format("memory").queryName(name).start()
    try {
      // Do NOT processAllAvailable(): pending processing-time timeouts
      // keep scheduling micro-batches, so "all available" never settles.
      // Poll the sink — the engine runs the data batch, then an expiry
      // batch once the 50 ms timeout passes.
      val users = graft.io.Tables.events(spark, sf)
        .select("user_id").distinct().count()
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table(name).count() < users &&
        System.currentTimeMillis() < deadline) Thread.sleep(250)
    } finally q.stop()
    val emitted = spark.table(name)
    val users = graft.io.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(emitted.count() === users,
      "every user's state must expire into exactly one emission")
    assert(emitted.filter(!col("expired")).count() === 0L)
  }

  test("stateful aggregation holds across MULTIPLE micro-batches") {
    // The driver testdata is a single parquet file, so every registry
    // streaming query runs as ONE micro-batch. Split the events into 4
    // files and force one file per trigger: the windowed counts must
    // still equal the batch result, i.e. state genuinely merges across
    // batches. The watermark is wider than the data span so no row is
    // late regardless of file processing order.
    val dir = scratchDir("graft_mb")
    val ev = graft.io.Tables.events(spark, sf)
    (0 until 4).foreach { i =>
      ev.filter(pmod(col("user_id"), lit(4)) === i)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val files = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files >= 4, s"expected >=4 part files, got $files")
    val schema = ev.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withWatermark("ts", "40 days")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))
    val streamed = StreamOps.runToCompletion(spark, stream,
      s"stream_mb_${System.nanoTime}")
    val batch = ev
      .groupBy(date_trunc("HOUR", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.exceptAll(batch).count() === 0L &&
      batch.exceptAll(streamed).count() === 0L,
      "multi-batch streaming aggregate diverged from the batch result")
  }

  test("windowed top-k equals the batch election; ranks bounded by k") {
    val out = StreamOps.windowedTopK(spark,
      StreamOps.eventsStream(spark, sf), "1 hour", "10 minutes",
      "event_type", k = 2, s"topk_${System.nanoTime}")
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(3) <= 2))
    // per window: counts non-increasing with rank, ties broken by key asc
    rows.groupBy(_.getTimestamp(0)).values.foreach { g =>
      val byRank = g.sortBy(_.getInt(3))
      byRank.sliding(2).filter(_.length == 2).foreach { pair =>
        val (a, b) = (pair(0), pair(1))
        val (na, nb) = (a.getLong(2), b.getLong(2))
        assert(na > nb || (na == nb && a.getString(1) < b.getString(1)))
      }
    }
    // the elected rows match the batch group-count top-2 exactly
    val batch = graft.io.Tables.events(spark, sf)
      .groupBy(date_trunc("HOUR", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("w_start"))
      .orderBy(col("n").desc, col("event_type"))
    val expect = batch.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
    assert(out.exceptAll(expect).count() === 0L &&
      expect.exceptAll(out).count() === 0L)
  }
}
