package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.MapGroups
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.exprs.Ewm
import graft.llm.{Multimodal, Packing, Retrieval}
import graft.model.XDataset
import graft.numerics.{Curvefit, Holt, Spline, Survival}
import graft.util.Parallelize

/** The Scala row kernels run as Dataset operators: the per-group scans as
  * `flatMapSortedGroups` (a MapGroups node), the per-partition kernels as
  * `Dataset.mapPartitions`. Neither leaves an RDD leaf in the analyzed
  * plan, so building the frame runs no job, and the per-group results do
  * not depend on the shuffle width. */
class RowKernelSpec extends SparkSpec {
  import spark.implicits._

  // 12 groups x 9 rows; t and id are unique within a group (no sort ties)
  private lazy val series = (for (g <- 0L until 12L; i <- 0L until 9L)
    yield (g * 100 + i, g, i, i * 0.5, math.sin(g + i * 0.7) * 10 + i,
      math.cos(g * 0.3 + i) * 5 - i))
    .toDF("id", "g", "t", "x", "v", "w")

  private lazy val probes = (for (g <- 0L until 12L; i <- 0L until 8L)
    yield (g, i + 0.5)).toDF("g", "t")

  private lazy val media = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array[Byte](4)))
    .toDF("doc_id", "media")

  private lazy val subjects = (1 to 40).map(i => (i.toLong, i % 7, i % 3 % 2))
    .toDF("s", "dur", "ev")

  private lazy val perGroup: Seq[(String, () => DataFrame)] = Seq(
    "ewmSum" -> (() => Ewm.ewmSum(series, Seq("g"), Seq("t"), "v", "id", 0.3)),
    "ewmVar" -> (() => Ewm.ewmVar(series, Seq("g"), Seq("t"), "v", "id", 0.3)),
    "ewmCov" -> (() =>
      Ewm.ewmCov(series, Seq("g"), Seq("t"), "v", "w", "id", 0.3)),
    "ewmMeanOpts" -> (() => Ewm.ewmMeanOpts(series, Seq("g"), Seq("t"), "v",
      "id", 0.3, adjust = false, ignoreNa = true)),
    "ewmMeanTimes" -> (() =>
      Ewm.ewmMeanTimes(series, Seq("g"), Seq("t"), "t", "v", "id", 2.0)),
    "ewmMean" -> (() => Ewm.ewmMean(series, Seq("g"), Seq("t"), "v", "id", 0.3)),
    "Holt.smooth" -> (() =>
      Holt.smooth(series, "g", "t", "id", round(col("v") * 1000))),
    "Holt.holtWinters" -> (() =>
      Holt.holtWinters(series, "g", "t", round(col("v") * 1000), m = 3)),
    "Curvefit.fit" -> (() => Curvefit.fit(series, Seq("g"), "x", "v",
      (p, x) => p(0) + p(1) * x, p0 = Array(0.0, 1.0))),
    "Spline.interpCubic" -> (() =>
      Spline.interpCubic(series, probes, Seq("g"), "t", "v")),
    "Retrieval.mmrRerank" -> (() => Retrieval.mmrRerank(
      series.withColumn("vec",
        array(col("v").cast("float"), col("w").cast("float"))),
      "g", "id", "v", "vec", lambda = 0.5, k = 4)),
    "Packing.packSequencesPadded" -> (() => Packing.packSequencesPadded(
      series, "id", col("t") * 3 + 1, 10, col("g"))))

  private lazy val perPartition: Seq[(String, () => DataFrame)] = Seq(
    "decode" -> (() => Multimodal.decode(media, "doc_id", "media")),
    "imageFeatures" -> (() => Multimodal.imageFeatures(media, "doc_id", "media")),
    "gifFrames" -> (() => Multimodal.gifFrames(media, "doc_id", "media")),
    "resize" -> (() => Multimodal.resize(media, "doc_id", "media", 4, 4)),
    "decodeWav" -> (() => Multimodal.decodeWav(media, "doc_id", "media")),
    "wavFrameFeatures" -> (() =>
      Multimodal.wavFrameFeatures(media, "doc_id", "media", 4)),
    "dHashBands" -> (() => Multimodal.dHashBands(media, "doc_id", "media")),
    "spectralCentroid" -> (() =>
      Multimodal.spectralCentroid(media, "doc_id", "media", 8, 2)),
    "syntheticPngs" -> (() => Multimodal.syntheticPngs(media, "doc_id")),
    "XDataset.mapBlocks" -> (() => XDataset(series, Seq("g", "t"))
      .mapBlocks(StructType(Seq(StructField("g", LongType))))(
        _.map(r => Row(r.getLong(r.fieldIndex("g")))))),
    "Survival.kaplanMeier" -> (() =>
      Survival.kaplanMeier(subjects, "dur", "ev")))

  test("row kernels build Dataset plans: no LogicalRDD leaf; per-group " +
    "scans are MapGroups") {
    assert(perGroup.size === 12 && perPartition.size === 11)
    (perGroup ++ perPartition).foreach { case (name, build) =>
      val plan = build().queryExecution.analyzed
      assert(!plan.collectLeaves().exists(_.isInstanceOf[LogicalRDD]),
        s"$name: RDD leaf in\n$plan")
    }
    perGroup.foreach { case (name, build) =>
      val plan = build().queryExecution.analyzed
      assert(plan.exists(_.isInstanceOf[MapGroups]), s"$name: no MapGroups in\n$plan")
    }
  }

  test("per-group scans give identical rows at shuffle width 1 and 7") {
    // AQE would coalesce this tiny input back to one partition; switch
    // coalescing off so width 7 really runs 7 reduce partitions
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      def rows(build: () => DataFrame, n: Int): Seq[String] =
        Parallelize.withFixedShuffle(spark, n) {
          val df = build()
          assert(df.rdd.getNumPartitions === n)
          df.collect().map(_.toString).toSeq.sorted
        }
      perGroup.foreach { case (name, build) =>
        val one = rows(build, 1)
        assert(one.nonEmpty, name)
        assert(rows(build, 7) === one, name)
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
