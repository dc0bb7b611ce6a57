package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   runMain graft.Verify <sfDir> <outDir> [query ...]
  *
  * dumps every registered query, or only the named ones. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = SparkEntry.select(args.drop(2).toSeq)
    val spark = GraftSession(sfDir)
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.run(spark, sfDir, names) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.foreach {
      case SparkEntry.Outcome(name, Left(e), _) =>
        // A query that errors must still leave an artifact: a sentinel
        // one-row parquet guarantees the driver's compare records a FAIL
        // for this name instead of silently omitting it (a 51-query
        // breakage once hid inside "coverage shrank" because of that).
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = String.valueOf(e.getMessage)
        try {
          import spark.implicits._
          Seq(("ERROR: " + String.valueOf(e.getMessage).take(500)))
            .toDF("__query_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sentinel write failed: ${e2.getMessage}")
        }
      case _ =>
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries errored: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
