package graft

import graft.io.JsonLines

/** JSONL interchange: byte-faithful roundtrip through RFC 8259 escaping
  * for hostile string payloads, pinned-schema read, FAILFAST on
  * corruption. */
class JsonLinesSpec extends SparkSpec {
  import spark.implicits._

  private val hostile = Seq(
    (1L, "plain text"),
    (2L, "embedded \"quotes\" and \\ backslash"),
    (3L, "newline\ninside and tab\tinside"),
    (4L, "unicode: é中文 and emoji 😀"),
    (5L, "control  chars"),
    (6L, ""))

  test("hostile strings roundtrip byte-exactly") {
    val path = scratchDir("jsonl_spec")
    val df = hostile.toDF("id", "text")
    JsonLines.write(df, path)
    val back = JsonLines.read(spark, path, df.schema)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.toSeq == hostile)
  }

  test("FAILFAST read raises on a corrupt line instead of nulling it") {
    val path = scratchDir("jsonl_corrupt")
    val dir = new java.io.File(path)
    val f = new java.io.File(dir, "part-00000.json")
    val w = new java.io.PrintWriter(f)
    w.println("""{"id": 1, "text": "ok"}""")
    w.println("""{"id": 2, "text": BROKEN""")
    w.close()
    val schema = Seq((1L, "x")).toDF("id", "text").schema
    intercept[Exception] {
      JsonLines.read(spark, path, schema).collect()
    }
  }
}
