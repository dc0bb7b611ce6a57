package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Plan evidence dumps: write the `.explain("formatted")` output of named
  * registry queries to files.
  *
  *   runMain graft.tools.ExplainTo /tmp/plans before q154_lm_perplexity ...
  *
  * writes `/tmp/plans/q154_lm_perplexity_before.txt` etc. The query is
  * EXECUTED first (count) so the AQE-final plan is the one dumped, then
  * the pre-execution formatted plan is appended for the scan evidence
  * (PushedFilters / ReadSchema). The data directory is
  * SPARK_GRAFT_SF_DIR, as for Bench. */
object ExplainTo {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession(dir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      graft.util.QueryCache.scoped {
        val d = graft.SparkEntry.queries(name)(spark, dir)
        val formatted = d.queryExecution.explainString(FormattedMode)
        d.count() // materialize so AQE finalizes the executed plan
        val fin = d.queryExecution.executedPlan.toString
        val txt = s"===== $name ($tag) — explain(formatted) =====\n" +
          formatted +
          s"\n===== $name ($tag) — AQE-final executed plan =====\n" + fin
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        println(s"wrote $outDir/${name}_$tag.txt")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
