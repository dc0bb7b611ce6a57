package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.Tables

/** Contract test for the driver-generated events testdata.
  *
  * The driver regenerated `events.parquet` between rounds 7 and 8, changing
  * `ts` from parquet TIMESTAMP(NANOS) (readable only as INT64 via the legacy
  * flag) to TIMESTAMP(MICROS) — which silently broke 51 batch + 4 streaming
  * queries for two rounds. This spec makes the NEXT regeneration fail loudly
  * in `sbt test`: it pins (a) the set of physical `ts` types the readers can
  * dispatch on, and (b) the semantic range of the decoded timestamps, for
  * every scale factor present on disk.
  */
class EventsContractSpec extends SparkSpec {
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(d => s"/root/testdata/$d")
    .filter(d => new java.io.File(s"$d/events.parquet").exists())

  test("events.parquet exists for at least one scale factor") {
    assert(sfDirs.nonEmpty, "no testdata found under /root/testdata")
  }

  test("raw ts physical type is one the readers dispatch on") {
    for (dir <- sfDirs) {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val t = raw.schema("ts").dataType
      assert(
        t == LongType || t == TimestampType || t == TimestampNTZType,
        s"$dir: events.ts scanned as $t — neither INT64-nanos nor a timestamp " +
          "type. Tables.events and StreamOps.eventsStream need a new dispatch arm.")
    }
  }

  test("Tables.events normalizes ts to TimestampType with plausible values") {
    for (dir <- sfDirs) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType,
        s"$dir: Tables.events produced ${ev.schema("ts").dataType}")
      // TESTDATA.md: events span calendar-year 2024. A nanos value read as
      // micros lands in year ~56k; micros read as nanos lands in 1970.
      val r = ev.agg(
        min(year(col("ts"))).as("y0"), max(year(col("ts"))).as("y1"),
        count(lit(1)).as("n")).head()
      val (y0, y1, n) = (r.getInt(0), r.getInt(1), r.getLong(2))
      assert(n > 0, s"$dir: empty events table")
      assert(y0 >= 2000 && y1 <= 2100,
        s"$dir: decoded ts years [$y0, $y1] outside [2000, 2100] — " +
          "timestamp unit mismatch between the file and the reader")
    }
  }

  test("streaming schema probe agrees with the batch reader") {
    val dir = sfDirs.head
    val batch = Tables.events(spark, dir)
    val stream = graft.streaming.StreamOps.eventsStream(spark, dir)
    assert(stream.schema("ts").dataType == TimestampType)
    assert(stream.schema.fieldNames.toSeq == batch.schema.fieldNames.toSeq,
      "streaming and batch events readers disagree on columns")
  }

  // The other two non-TPC-H tables the LLM/ANN registry depends on: pin
  // the columns and element types so the next driver regeneration that
  // changes them fails HERE, not as a silent query-registry breakage.
  test("documents.parquet keeps its column contract") {
    for (dir <- sfDirs) {
      val d = Tables.documents(spark, dir)
      val want = Map("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
      want.foreach { case (c, t) =>
        assert(d.schema.fieldNames.contains(c), s"$dir: documents lacks $c")
        assert(d.schema(c).dataType == t,
          s"$dir: documents.$c is ${d.schema(c).dataType}, expected $t")
      }
      assert(d.limit(1).count() == 1, s"$dir: empty documents table")
    }
  }

  test("embeddings.parquet keeps its column contract (float vector)") {
    for (dir <- sfDirs) {
      val e = Tables.embeddings(spark, dir)
      assert(e.schema("vec_id").dataType == LongType)
      e.schema("embedding").dataType match {
        case ArrayType(FloatType, _) => ()
        case other => fail(s"$dir: embeddings.embedding is $other, " +
          "expected array<float> — the codegen'd dot kernels and every " +
          "ANN oracle's CAST(embedding[i] AS DOUBLE) depend on it")
      }
      // all vectors share one dimensionality (the SQ8 codebook, IVF
      // centroids and LSH sign matrices all assume it)
      val dims = e.select(size(col("embedding")).as("d")).distinct().collect()
      assert(dims.length == 1 && dims.head.getInt(0) > 0,
        s"$dir: ragged embedding dims ${dims.mkString(",")}")
    }
  }
}
