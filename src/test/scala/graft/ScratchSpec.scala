package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.io.Source
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkFiles
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.streaming.StreamOps
import graft.util.{Parallelize, QueryCache}

/** Queries do not manage their own environment: the files they write live
  * under the session's scratch root, never a hand-built `/tmp` path;
  * stateful streams take their state-shard count from the StreamOps
  * runners, never from a conf write in the registry; only the registry
  * runner scopes a query's cache and clears it; and only `StoreFiles`
  * ships a Hadoop conf to tasks. */
class ScratchSpec extends SparkSpec {

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** `path:line` of every line in `files` that matches `pattern`. */
  private def hits(files: Seq[File], pattern: String): Seq[String] = {
    val re = pattern.r.unanchored
    files.flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (re(), i) => s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }
  }

  /** The files of `hits`, once each: the lifecycle and persist scans allow
    * several lines in one file. */
  private def filesOf(hits: Seq[String]): Seq[String] =
    hits.map(_.takeWhile(_ != ':')).distinct

  test("src/main builds no /tmp path; queries/ never sets the shuffle width") {
    val main = new File("src/main/scala")
    assert(main.isDirectory,
      s"run from the repository root, not ${new File(".").getAbsolutePath}")
    val tmp = hits(scalaFiles(main), "\"/tmp")
    // the one allowed: ScaleSmoke's CLI default for its output directory
    assert(tmp.map(_.takeWhile(_ != ':')) ===
      Seq("src/main/scala/graft/ScaleSmoke.scala"), tmp.mkString(", "))
    val pins = hits(scalaFiles(new File(main, "graft/queries")),
      "\"spark\\.sql\\.shuffle\\.partitions\"")
    assert(pins.isEmpty, pins.mkString(", "))
  }

  test("src/main scopes and releases queries only in the registry runner") {
    val files = scalaFiles(new File("src/main/scala"))
    val lifecycle = hits(files, "QueryCache\\.scoped|catalog\\.clearCache")
    assert(filesOf(lifecycle) === Seq("src/main/scala/graft/SparkEntry.scala"),
      lifecycle.mkString(", "))
    // every persist registers with the query scope
    val persists = hits(files, "(?<!QueryCache)\\.persist\\(|\\.cache\\(\\)")
    assert(filesOf(persists) === Seq("src/main/scala/graft/util/QueryCache.scala"),
      persists.mkString(", "))
  }

  test("only StoreFiles builds a Hadoop conf for tasks") {
    // a local store's tasks get plain paths; a shipped conf is ~110 KB
    // that every task deserializes
    val confs = hits(scalaFiles(new File("src/main/scala")),
      "SerializableConfiguration")
    assert(filesOf(confs) === Seq("src/main/scala/graft/io/StoreFiles.scala"),
      confs.mkString(", "))
  }

  test("q135_zarr_roundtrip writes its store under the SparkFiles root") {
    val store = new File(GraftSession.scratch(spark, "zarr", sf))
    assert(store.toPath.startsWith(SparkFiles.getRootDirectory()))
    org.apache.commons.io.FileUtils.deleteDirectory(store)
    val rows = QueryCache.scoped(
      SparkEntry.queries("q135_zarr_roundtrip")(spark, sf).collect())
    assert(rows.length === 30)
    assert(Option(store.list()).exists(_.nonEmpty), s"$store is empty")
  }

  test("runToCompletion runs StateShards state shards; caller width stays") {
    val shards = new ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o =>
          shards.add(o.numShufflePartitions))
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val name = s"shards_${System.nanoTime}"
    spark.streams.addListener(listener)
    try Parallelize.withFixedShuffle(spark, 7) {
      val agg = StreamOps.resampleCounts(
        StreamOps.eventsStream(spark, sf), "1 hour", "10 minutes")
      assert(StreamOps.runToCompletion(spark, agg, name, availableNow = true)
        .count() > 0L)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "7")
      // progress events reach listeners asynchronously
      eventually(timeout(30.seconds), interval(100.millis)) {
        assert(!shards.isEmpty)
      }
    } finally spark.streams.removeListener(listener)
    assert(shards.asScala.toSet === Set(StreamOps.StateShards.toLong))
    // the checkpoint lives under the scratch root
    assert(new File(GraftSession.scratch(spark, "ckpt", name), "offsets")
      .isDirectory)
  }
}
