package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.util.{Parallelize, QueryCache}

/** One benchmark operation. `prepare` runs untimed before each call;
  * `run` is the timed call and returns whether the output check passed. */
final case class Op(id: String, kind: String, layer: String,
                    prepare: () => Unit,
                    run: Tracer => (Boolean, String))

/** Benchmark driver, one process per run:
  *
  *   graftbench.Main --workload W --seed N --seconds S --warmup K
  *     --passes P --trace 0|1 --data DIR --work DIR --ops FILE --out FILE
  *
  * Sets the workload up three times (median reported), runs K warm-up
  * passes, then closed-loop timed passes for S seconds and at least P:
  * one client issuing one operation at a time. With --trace 1 that is
  * done twice, untraced and then traced, so the tracing overhead is
  * measured in the same process; the raw records go to --out as JSON and
  * run.py reduces them. `--ops` lists the registry operations (name and
  * expected fingerprint, tab-separated) in the order to run them.
  */
object Main {
  private val t0 = System.nanoTime()

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val minPasses = a.getOrElse("passes", "3").toInt
    val warmups = a.getOrElse("warmup", "1").toInt
    val work = a("work")
    val dataDir = a.getOrElse("data", "")
    val out = mutable.Map.empty[String, Any]

    // ---- set-up, three times: session, inputs, shuffle width ----------
    var spark: SparkSession = null
    var width = 0
    var store: StoreRoundtrip = null
    val setups = (1 to 3).map { _ =>
      val s0 = System.nanoTime()
      if (spark != null) { QueryCache.clearAll(); spark.stop() }
      spark = session(work)
      width = Parallelize.tuneShuffle(spark, if (dataDir.nonEmpty) dataDir else work)
      if (workload == "store_roundtrip")
        store = new StoreRoundtrip(spark, seed, s"$work/stores")
      (System.nanoTime() - s0) / 1e9
    }
    val ops: Seq[Op] =
      if (workload == "store_roundtrip") store.ops
      else registryOps(spark, dataDir, a("ops"))

    def pass(tr: Tracer, label: String): (Double, Seq[Map[String, Any]]) = {
      val p0 = System.nanoTime()
      val recs = ops.map { op =>
        op.prepare()
        val s = System.nanoTime()
        val (ok, msg) =
          try tr.op(s"$label/${op.id}", "op")(op.run(tr))
          catch { case e: Throwable => (false, String.valueOf(e.getMessage).take(300)) }
        val wall = (System.nanoTime() - s) / 1e9
        spark.catalog.clearCache()
        if (!ok) System.err.println(s"[perfbench] ${op.id} failed: $msg")
        Map[String, Any]("id" -> op.id, "kind" -> op.kind, "layer" -> op.layer,
          "pass" -> label, "wall_s" -> wall, "ok" -> ok, "msg" -> msg)
      }
      ((System.nanoTime() - p0) / 1e9, recs)
    }
    val untraced = new Tracer(None, t0)

    val warm = (0 until warmups).map(i => pass(untraced, s"warmup$i"))
    val warmS = warm.map(_._1).sum
    out("warmup_ops") = warm.flatMap(_._2)

    // ---- timed passes (closed loop, one client) ------------------------
    val passes = mutable.ArrayBuffer.empty[Double]
    val opRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    // at least minPasses, so the medians rest on the same number of
    // samples in every run; more while the time budget lasts
    def loop(tr: Tracer, budget: Double, label: String): Seq[Double] = {
      val start = System.nanoTime()
      val walls = mutable.ArrayBuffer.empty[Double]
      while (walls.size < minPasses || (System.nanoTime() - start) / 1e9 < budget) {
        val (w, recs) = pass(tr, s"$label${walls.size}")
        walls += w; opRecs ++= recs
      }
      walls.toSeq
    }
    if (!traced) passes ++= loop(untraced, seconds, "p")
    else {
      passes ++= loop(untraced, seconds / 2, "p")
      val counters = new Counters(spark.sparkContext)
      spark.sparkContext.addSparkListener(counters)
      val tr = new Tracer(Some(counters), t0)
      val tracedPasses = loop(tr, seconds / 2, "t")
      out("traced_passes") = tracedPasses
      if (workload == "store_roundtrip") {
        val (codecs, decodeS) = store.codecBench(tr)
        out("codecs") = codecs.map { case (c, (e, d)) =>
          c -> Map("encode_mb_s" -> e, "decode_mb_s" -> d) }
        out("store_decode_s") = decodeS
        out("chunks") = store.chunksHeld
      } else {
        // the registry's count-based timing beside the full-result one
        out("count_s") = ops.map { op =>
          val name = op.id
          val s = System.nanoTime()
          val ok = try {
            QueryCache.scoped(SparkEntry.queries(name)(spark, dataDir).count()); true
          } catch { case _: Throwable => false }
          spark.catalog.clearCache()
          name -> (if (ok) (System.nanoTime() - s) / 1e9 else -1.0)
        }.toMap
      }
      out("spans") = tr.spans.map { s =>
        Map("op" -> s.op, "name" -> s.name, "parent" -> s.parent,
          "start" -> s.start, "end" -> s.end, "before" -> s.before,
          "after" -> s.after, "extra" -> s.extra)
      }
      spark.sparkContext.removeSparkListener(counters)
    }
    if (workload == "store_roundtrip") {
      out("stored_bytes") = ops.filter(_.kind == "write")
        .map(o => o.id.stripSuffix(".write")).map(n => n -> store.storedBytes(n)).toMap
      out("logical_mb") = Seq("write", "read", "slice").map(k => k -> store.logicalMb(k)).toMap
      out("cells") = store.grid.cells
    }

    val (gcS, jitS) = Counters.jvmTimes()
    out("setup_s") = setups
    out("warmup_s") = warmS
    out("passes") = passes.toSeq
    out("ops") = opRecs.toSeq
    out("peak_rss_mb") = peakRssMb()
    out("jvm") = Map("gc_s" -> gcS, "jit_s" -> jitS)
    out("env") = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_width" -> width,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master)
    QueryCache.clearAll()
    spark.stop()
    Files.write(Paths.get(a("out")),
      Serialization.write(out.toMap)(DefaultFormats).getBytes(UTF_8))
  }

  /** The session the library's own drivers build: local[all cores], one
    * shuffle partition per core, AQE on, UTC. Scratch and warehouse
    * directories stay under the benchmark's work directory. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Registry operations: build the query's DataFrame, force its
    * executed plan, then compute the full result and its fingerprint. */
  def registryOps(spark: SparkSession, dir: String, opsFile: String): Seq[Op] = {
    val src = Source.fromFile(opsFile, "UTF-8")
    val lines = try src.getLines().filter(_.trim.nonEmpty).toList finally src.close()
    lines.map { line =>
      val Array(name, expected) = line.split('\t')
      val fn = SparkEntry.queries(name)
      Op(name, "query", "registry", () => (), t => QueryCache.scoped {
        val df: DataFrame = t.span("build")(fn(spark, dir))
        t.span("plan")(df.queryExecution.executedPlan)
        val fp = t.span("exec")(Fingerprint.of(df))
        PlanStats.note(t, df)
        (expected == "*" || fp.toString == expected, fp.toString)
      })
    }
  }

  /** Driver JVM peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return -1
    val src = Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }
}
