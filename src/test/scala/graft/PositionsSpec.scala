package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.llm.{Agreement, CorpusStats}
import graft.model.Positions

/** Ordinal attachment and running sums: the dense-integer projection fast
  * path and the range-partitioned fallback must agree, and bucket offsets
  * stay in the plan. */
class PositionsSpec extends SparkSpec {
  import spark.implicits._

  test("dense integer keys: positions are key - min (projection path)") {
    val df = Seq(7L, 5L, 9L, 6L, 8L).toDF("k")
    val pos = Positions.zipWithIndex(df, Seq(col("k")), "pos")
    assert(pos.orderBy("pos").select("k").as[Long].collect().toSeq ===
      Seq(5L, 6L, 7L, 8L, 9L))
    assert(pos.filter(col("k") === 9L).select("pos").as[Long].head() === 4L)
    // projection path: no exchange in the plan
    assert(!pos.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("sparse keys fall back to the range scheme with the same result") {
    val df = Seq(10L, 2L, 50L, 7L).toDF("k")
    val pos = Positions.zipWithIndex(df, Seq(col("k")), "pos")
    assert(pos.orderBy("pos").select("k").as[Long].collect().toSeq ===
      Seq(2L, 7L, 10L, 50L))
  }

  test("duplicate keys fall back (density probe requires distinctness)") {
    val df = Seq(0L, 1L, 1L).toDF("k") // max-min+1 == 2 != count
    val pos = Positions.zipWithIndex(df, Seq(col("k")), "pos")
    assert(pos.select("pos").as[Long].collect().sorted.toSeq ===
      Seq(0L, 1L, 2L))
  }

  test("multi-column order uses the range scheme") {
    val df = Seq((1, "b"), (1, "a"), (0, "z")).toDF("g", "s")
    val pos = Positions.zipWithIndex(df, Seq(col("g"), col("s")), "pos")
    assert(pos.orderBy("pos").select("s").as[String].collect().toSeq ===
      Seq("z", "a", "b"))
  }

  test("bucketOffsets equals a sequential exclusive prefix of bucket totals") {
    // buckets 0, 3, .., 18 leave gaps; None is a NULL bucket; the second
    // generator puts every row in one bucket; listOf starts at empty
    val row = for {
      b <- Gen.option(Gen.choose(0L, 6L).map(_ * 3))
      v <- Gen.choose(-5L, 20L)
    } yield (b, v)
    val rows = Gen.oneOf(Gen.listOf(row),
      Gen.listOf(row.map { case (_, v) => (Option(4L), v) }))
    val prop = Prop.forAll(rows) { rs =>
      val df = rs.zipWithIndex.map { case ((b, v), i) => (i.toLong, b, v) }
        .toDF("id", "b", "v")
      val got = Positions.bucketOffsets(df, "b",
          sum(col("v")).as("off_v"), count(lit(1)).as("off_n"))
        .select("id", "off_v", "off_n").as[(Long, Long, Long)]
        .collect().sorted.toSeq
      val keyed = rs.collect { case (Some(b), v) => (b, v) }
      val want = rs.zipWithIndex.collect { case ((Some(b), _), i) =>
        val lower = keyed.filter(_._1 < b)
        (i.toLong, lower.map(_._2).sum, lower.size.toLong)
      }.sorted
      got == want
    }
    val r = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(15).withInitialSeed(0xB0CCE7L), prop)
    assert(r.passed, r.status.toString)
    val empty = Seq.empty[(Long, Option[Long])].toDF("v", "b")
    assert(Positions.bucketOffsets(empty, "b", sum(col("v")).as("off"))
      .count() === 0L)
  }

  test("building runningSum, rocAuc or weightConcentration runs no Spark job") {
    // a DOUBLE order key is never probed for density
    val real = Seq((2.5, 1L), (0.5, 2L), (9.0, 3L)).toDF("k", "v")
    val (run, runJobs) = jobsDuring(
      Positions.runningSum(real, col("k"), col("v"), "s"))
    assert(runJobs.isEmpty, runJobs)
    assert(run.orderBy("k").select("s").as[Long].collect().toSeq ===
      Seq(2L, 3L, 6L))
    val scored = Seq((0L, 0.1), (1L, 0.9)).toDF("y", "prob")
    val (auc, aucJobs) = jobsDuring(
      Agreement.rocAuc(scored, col("y"), col("prob"), v => floor(v * 10)))
    assert(aucJobs.isEmpty, aucJobs)
    assert(auc.select("auc_ppm").as[Long].head() === 1000000L)
    val (gini, giniJobs) = jobsDuring(
      CorpusStats.weightConcentration(real, col("v")))
    assert(giniJobs.isEmpty, giniJobs)
    assert(gini.select("n").as[Long].head() === 3L)
  }

  test("a dense integral order costs exactly its one probe aggregate") {
    // one action, the (min, max, count, count_distinct) probe: under AQE
    // its query stages (and a cache fill) run as several jobs of ONE
    // SQL execution
    val dense = Seq((7L, 1L), (5L, 2L), (6L, 3L)).toDF("k", "v")
    val (pos, posJobs) = jobsDuring(
      Positions.zipWithIndex(dense, Seq(col("k")), "pos"))
    assert(posJobs.nonEmpty && posJobs.toSet === Set(posJobs.head) &&
      posJobs.head.nonEmpty, posJobs)
    assert(pos.orderBy("pos").select("k").as[Long].collect().toSeq ===
      Seq(5L, 6L, 7L))
    val (run, runJobs) = jobsDuring(
      Positions.runningSum(dense, col("k"), col("v"), "s"))
    assert(runJobs.nonEmpty && runJobs.toSet === Set(runJobs.head) &&
      runJobs.head.nonEmpty, runJobs)
    assert(run.orderBy("k").select("s").as[Long].collect().toSeq ===
      Seq(2L, 5L, 6L))
  }
}
