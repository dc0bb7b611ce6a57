package graft

/** Driver-run benchmark: the registered queries on SPARK_GRAFT_SF_DIR, one
  * JSON line on stdout (BASELINE.md contract).
  *
  *   runMain graft.Bench [query ...]
  *
  * times every registered query in sorted name order, for run-to-run
  * comparability, or only the named ones.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val names = SparkEntry.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(sfDir)

    // BASELINE.md's recorded numbers are steady-state ("after JIT warmup");
    // a one-shot cold pass lands codegen compilation + GC on arbitrary
    // queries and makes per-query times incomparable run to run. Three
    // timed passes, report the min: pass 1 absorbs cold costs, min-of-3 is
    // the stable steady-state wall time.
    val passes = (1 to 3).map { _ =>
      SparkEntry.run(spark, sfDir, names)((_, df) => df.count()).map { o =>
        if (o.result.isLeft) System.err.println(s"[bench] ${o.name} FAILED")
        o.name -> o.result.toOption.map(_ => o.secs)
      }.toMap
    }
    // A query that failed in ANY pass reports null, not its time-to-failure:
    // the JSON must never contain a bogus timing for a broken query.
    val results = names.map { name =>
      val times = passes.map(_(name))
      name -> (if (times.contains(None)) None else Some(times.flatten.min))
    }
    val total = results.flatMap(_._2).sum
    val fullQs = results.map {
      case (k, Some(v)) => "\"" + k + "\":" + f"$v%.3f"
      case (k, None)    => "\"" + k + "\":null"
    }.mkString("{", ",", "}")

    // Contract line (round-18 measurement-bug fix, OPTIMIZATION_r18.md):
    // the driver has recorded `parsed: null` for EVERY round's bench line
    // (BENCH_r01..r17) — r12's name-keyed line and r17's compact line both
    // sat complete in the captured tail and still failed, so the earlier
    // "2000-char tail" theory never explained the failures. The one
    // constant across all rounds: every candidate line carried sbt's
    // "[info] " log prefix (forked run output was routed through sbt's
    // logger), which no per-line json parse survives. Fixes, layered:
    //  (a) build.sbt routes forked run output straight through
    //      (outputStrategy := StdoutOutput) so the line below reaches
    //      stdout RAW, starting with '{';
    //  (b) the line is printed AFTER spark.stop(), so no shutdown WARN
    //      can land between it and sbt's trailing "[success]" line;
    //  (c) the line carries the exact contract shape — "queries" as the
    //      FULL-name-keyed seconds map and "sf" numeric.
    // Failed queries render as null, same contract as before.

    // numeric scale factor from the dir name ("/root/testdata/sf0.1" ->
    // 0.1); unparseable dirs fall back to the raw string
    val sfNum = "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(sfDir)
      .map(_.group(1))
    val sfJson = sfNum.getOrElse("\"" + sfDir + "\"")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":$sfJson,"sf_dir":"$sfDir","n":${results.size},"queries":$fullQs}"""
    // a shutdown failure must not swallow the contract line
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: $e") }
    println(line)
  }
}
