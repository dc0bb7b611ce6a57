package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Late-data contract pins (round-15 verdict item 6): the streaming
  * verbs are gated against batch oracles on in-order fixtures; these
  * tests feed rows that arrive LATER than the watermark and assert the
  * documented drop/no-resurrect contract — the semantics a continuous
  * 100 TB deployment hits daily. Mechanism: a file source with
  * maxFilesPerTrigger=1 and ascending mtimes, so the watermark advances
  * between micro-batches and a subsequent file is genuinely late.
  *
  * Engine subtlety these pins encode: since Spark 3.4 the engine keeps
  * TWO watermark versions per batch (SPARK-40025) — late-event
  * filtering uses the PREVIOUS batch's watermark while state eviction
  * uses the current one. A row is therefore only guaranteed dropped
  * when it arrives >= 2 batches after the data that advanced the
  * watermark past it; the fixtures insert a filler micro-batch so the
  * advanced watermark has become the late-event bound. */
class StreamingLateDataSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Write each chunk as one parquet file with ascending mtimes; return
    * a 1-file-per-trigger readStream over the directory. */
  private def chunkedSource(
      chunks: Seq[Seq[(Long, String, Long, String, Double)]]): DataFrame = {
    val srcDir = scratchDir("graft_late_src")
    chunks.zipWithIndex.foreach { case (rows, k) =>
      val tmp = scratchDir(s"graft_late_$k")
      rows.toDF("event_id", "tss", "user_id", "event_type", "value")
        .withColumn("ts", to_timestamp(col("tss")))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(srcDir, f"chunk_$k%03d.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(1000000L + k * 1000L)
    }
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
  }

  /** Run to completion on a memory sink; returns (table name, rows
    * dropped by watermark across the run). */
  private def run(df: DataFrame, mode: OutputMode): (String, Long) = {
    val name = s"late_${System.nanoTime}"
    val ckpt = scratchDir("graft_late_ckpt")
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(name).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
    q.recentProgress.foreach(p => info(
      s"batch=${p.batchId} in=${p.numInputRows} " +
        s"wm=${p.eventTime.get("watermark")} " +
        s"dropped=${p.stateOperators.map(_.numRowsDroppedByWatermark).sum}"))
    val dropped = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    (name, dropped)
  }

  test("tumbling-window agg (q63 shape): a row later than the watermark " +
    "is DROPPED from its closed window, and the drop is observable") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val src = chunkedSource(Seq(
        // window 10:00 gets two on-time rows
        Seq((1L, "2024-01-01 10:05:00", 7L, "view", 1.0),
          (2L, "2024-01-01 10:10:00", 7L, "view", 1.0)),
        // advances the watermark to 12:50 after this batch
        Seq((3L, "2024-01-01 13:00:00", 7L, "view", 1.0)),
        // filler batch: makes 12:50 the LATE-EVENT bound (two-version
        // watermark), not just the eviction bound
        Seq((5L, "2024-01-01 13:05:00", 7L, "view", 1.0)),
        // LATE: window 10:00-11:00 ended before the 12:50 watermark
        Seq((4L, "2024-01-01 10:20:00", 7L, "view", 1.0))))
      val agg = src.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("n"))
      val (name, dropped) = run(agg, OutputMode.Update)
      val w10 = spark.table(name)
        .filter(col("w_start") === to_timestamp(lit("2024-01-01 10:00:00")))
        .agg(max("n")).head.getLong(0)
      assert(w10 === 2L,
        "the late row must NOT be added to the closed 10:00 window")
      assert(dropped >= 1L,
        "the drop must surface in numRowsDroppedByWatermark, not vanish")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("keep-first dedup agg (q99 shape): a late duplicate does not " +
    "resurrect an evicted group or change its emitted result") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val src = chunkedSource(Seq(
        Seq((10L, "2024-01-01 08:00:00", 5L, "view", 1.0),
          (12L, "2024-01-01 08:30:00", 5L, "view", 1.0)),
        Seq((20L, "2024-01-02 12:00:00", 6L, "view", 1.0)),
        // filler batch (two-version watermark: promote 11:00 day-2 to
        // the late-event bound)
        Seq((21L, "2024-01-02 12:30:00", 6L, "view", 1.0)),
        // LATE duplicate for (user 5, day 1): event_id 9 would become
        // first_event if the watermark contract were violated
        Seq((9L, "2024-01-01 08:10:00", 5L, "view", 1.0))))
      // window(ts, '1 day'), not date_trunc: only window() carries the
      // event-time metadata into the key — with date_trunc this exact
      // test caught q99's state never evicting and late rows merging
      val agg = src.withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), window(col("ts"), "1 day"))
        .agg(min(col("event_id")).as("first_event"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("window.start").as("day"),
          col("first_event"), col("n_events"))
      val (name, dropped) = run(agg, OutputMode.Update)
      val day1 = spark.table(name).filter(col("user_id") === 5L)
        .orderBy(col("n_events").desc).head
      assert(day1.getAs[Long]("first_event") === 10L,
        "late event_id 9 must not rewrite the emitted first_event")
      assert(day1.getAs[Long]("n_events") === 2L)
      assert(dropped >= 1L)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("stream-stream interval join (q127 shape): a late row whose " +
    "match state was evicted emits NO pair") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      // Catalyst pushes the event_type filters BELOW the watermark
      // node, so each branch's watermark advances only on rows that
      // SURVIVE its filter — the advance/filler rows must be a
      // non-matching error+purchase pair (user 2, >1 h apart), or the
      // min-policy global watermark never moves
      val src = chunkedSource(Seq(
        // on-time pair: purchase 10:30, error 10:45 (within 1 hour)
        Seq((100L, "2024-01-01 10:30:00", 1L, "purchase", 5.0),
          (101L, "2024-01-01 10:45:00", 1L, "error", 0.0)),
        // advance both branch watermarks far past the 10:xx horizon
        Seq((200L, "2024-01-02 20:00:00", 2L, "purchase", 1.0),
          (210L, "2024-01-02 22:00:00", 2L, "error", 0.0)),
        // filler batch (two-version watermark: the advanced watermark
        // becomes the late-event bound and evicts day-1 join state)
        Seq((201L, "2024-01-02 20:30:00", 2L, "purchase", 1.0),
          (211L, "2024-01-02 22:30:00", 2L, "error", 0.0)),
        // LATE error at 10:50 day 1: its matching purchase state is
        // evicted — the documented miss, not a silent wrong pair
        Seq((102L, "2024-01-01 10:50:00", 1L, "error", 0.0))))
      val ev = src.withWatermark("ts", "1 hour")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
          col("event_id").as("e_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
      val joined = graft.streaming.StreamOps.intervalJoin(
        errors, purchases, "e_user", "p_user", "e_ts", "p_ts", "1 hour")
        .select(col("e_id"), col("p_id"))
      val (name, _) = run(joined, OutputMode.Append)
      val out = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out === Set((101L, 100L)),
        "only the on-time pair may emit; the late error matches nothing")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // ---- round-17: the remaining stateful surfaces (r16 verdict item 5) --

  test("custom state / mapGroupsWithState (q196 shape): a late row is " +
    "PROCESSED, not dropped, and folds in ARRIVAL order — the documented " +
    "no-watermark contract of order-sensitive custom state") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val src = chunkedSource(Seq(
        Seq((1L, "2024-01-01 10:00:00", 7L, "view", 1.0),
          (2L, "2024-01-01 10:10:00", 7L, "view", 2.0)),
        Seq((3L, "2024-01-01 12:00:00", 7L, "view", 3.0)),
        // LATE by event time (10:05) but value 10 > last-processed 3:
        // NoTimeout custom state has NO event-time bound — the row must
        // be folded (n_events 4) and in ARRIVAL order (streak extends to
        // 4), never retro-sorted into its event-time slot (which would
        // break the streak at 10 > 1)
        Seq((4L, "2024-01-01 10:05:00", 7L, "view", 10.0))))
      val out = graft.streaming.StreamOps.increasingStreaks(src)
      val (name, dropped) = run(out, OutputMode.Update)
      val last = spark.table(name).filter(col("user_id") === 7L)
        .agg(max("n_events"), max("max_streak")).head
      assert(last.getLong(0) === 4L,
        "the late row must be processed — custom state has no watermark drop")
      assert(last.getInt(1) === 4,
        "the fold order is ARRIVAL order (documented caveat), so the late " +
          "high value extends the streak")
      assert(dropped === 0L, "nothing may count as watermark-dropped")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("windowed top-k counts (q268 shape): update mode DROPS the late " +
    "row from its closed window; the query's complete-mode run ABSORBS " +
    "it — both sides of the documented state contract") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      def fixture() = chunkedSource(Seq(
        Seq((1L, "2024-01-01 10:05:00", 7L, "view", 1.0),
          (2L, "2024-01-01 10:10:00", 7L, "view", 1.0),
          (3L, "2024-01-01 10:15:00", 7L, "click", 1.0)),
        Seq((4L, "2024-01-01 13:00:00", 7L, "view", 1.0)),
        Seq((5L, "2024-01-01 13:05:00", 7L, "view", 1.0)), // filler
        Seq((6L, "2024-01-01 10:20:00", 7L, "view", 1.0)))) // LATE
      def counts(src: DataFrame) = src.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"))
      // continuous-deployment shape: update mode evicts, the late row drops
      val (uName, uDropped) = run(counts(fixture()), OutputMode.Update)
      val viewN = spark.table(uName)
        .filter(col("w_start") === to_timestamp(lit("2024-01-01 10:00:00"))
          && col("event_type") === "view")
        .agg(max("n")).head.getLong(0)
      assert(viewN === 2L, "update mode: the closed 10:00 window stays at 2")
      assert(uDropped >= 1L)
      // q268's run-to-completion COMPLETE mode retains every window's
      // state (the documented oracle-convenience deviation): absorbed
      val (cName, _) = run(counts(fixture()), OutputMode.Complete)
      val viewC = spark.table(cName)
        .filter(col("w_start") === to_timestamp(lit("2024-01-01 10:00:00"))
          && col("event_type") === "view")
        .agg(max("n")).head.getLong(0)
      assert(viewC === 3L, "complete mode retains state: late row absorbed")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("streaming count-min sketch (q306 shape): no event-time bound — " +
    "an arbitrarily late row still increments its cell, and cells are " +
    "arrival-order independent") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val rows = Seq(
        (1L, "2024-01-01 10:00:00", 7L, "alpha", 1.0),
        (2L, "2024-01-01 11:00:00", 7L, "beta", 1.0),
        (3L, "2024-01-01 12:00:00", 7L, "alpha", 1.0),
        (4L, "2024-01-01 09:00:00", 7L, "alpha", 1.0)) // "late" by ts
      def sketch(chunks: Seq[Seq[(Long, String, Long, String, Double)]]) = {
        val toks = chunkedSource(chunks)
          .select(col("event_type").as("tok"))
        val sk = graft.llm.Sketch.countMin(toks, "tok", w = 64)
        val (name, dropped) = run(sk, OutputMode.Complete)
        assert(dropped === 0L, "a sketch has no watermark — nothing drops")
        spark.table(name).collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      }
      // in-order vs the late row in its own trailing micro-batch
      val ordered = sketch(Seq(rows.sortBy(_._2).map(identity)))
      val late = sketch(Seq(rows.take(3), rows.drop(3)))
      assert(ordered === late,
        "cell counts must be identical whenever all rows arrive — " +
          "arrival order and lateness cannot change a count-min sketch")
      assert(ordered.values.sum === 4L * graft.llm.Sketch.cmRows.size,
        "every row lands in exactly one cell per sketch row")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("streaming histogram (q317 shape): bin counters are bounded by " +
    "value range, not time — a late row lands in its bin, order-free") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val rows = Seq(
        (1L, "2024-01-01 10:00:00", 7L, "view", 1.0),
        (2L, "2024-01-01 11:00:00", 7L, "view", 7.5),
        (3L, "2024-01-01 12:00:00", 7L, "view", 1.2),
        (4L, "2024-01-01 09:00:00", 7L, "view", 7.9)) // late by ts
      def hist(chunks: Seq[Seq[(Long, String, Long, String, Double)]]) = {
        val bins = chunkedSource(chunks)
          .select(expr(
            "CAST(round(value * 100) AS BIGINT) div 500").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("cnt"))
        val (name, dropped) = run(bins, OutputMode.Complete)
        assert(dropped === 0L)
        spark.table(name).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val ordered = hist(Seq(rows.sortBy(_._2).map(identity)))
      val late = hist(Seq(rows.take(3), rows.drop(3)))
      assert(ordered === late && ordered === Map(0L -> 2L, 1L -> 2L),
        s"bin counts must include the late row identically: $ordered vs $late")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
