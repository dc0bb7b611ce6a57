package graft

import org.apache.spark.sql.functions._
import graft.window.Pad
import graft.io.CFDecode
import graft.model.{DataTree, XDataset}
import graft.agg.Rank
import graft.exprs.ProductAgg

/** Pad modes vs numpy semantics, CF decode roundtrip, DataTree catalog,
  * distributed rank, exact product. */
class PadCfSpec extends SparkSpec {
  import spark.implicits._

  test("pad modes match numpy (constant/edge/reflect/symmetric/wrap)") {
    val df = Seq((0L, 10.0), (1L, 20.0), (2L, 30.0)).toDF("pos", "v")
    val out = Pad.pad(df, "pos", "v", n = 3, before = 2, after = 2, constant = 0.0)
      .orderBy("pos").collect()
    def c(name: String) = out.map(_.getAs[Double]("v_" + name)).toSeq
    // numpy: constant [0,0,10,20,30,0,0]; edge [10,10,...,30,30];
    // reflect [30,20,10,20,30,20,10]; symmetric [20,10,10,20,30,30,20];
    // wrap [20,30,10,20,30,10,20]
    assert(c("constant") === Seq(0.0, 0.0, 10.0, 20.0, 30.0, 0.0, 0.0))
    assert(c("edge") === Seq(10.0, 10.0, 10.0, 20.0, 30.0, 30.0, 30.0))
    assert(c("reflect") === Seq(30.0, 20.0, 10.0, 20.0, 30.0, 20.0, 10.0))
    assert(c("symmetric") === Seq(20.0, 10.0, 10.0, 20.0, 30.0, 30.0, 20.0))
    assert(c("wrap") === Seq(20.0, 30.0, 10.0, 20.0, 30.0, 10.0, 20.0))
  }

  test("pad widths beyond n fold repeatedly like numpy (reflect/symmetric periodic)") {
    val df = Seq((0L, 10.0), (1L, 20.0), (2L, 30.0)).toDF("pos", "v")
    val out = Pad.pad(df, "pos", "v", n = 3, before = 5, after = 5)
      .orderBy("pos").collect()
    def c(name: String) = out.map(_.getAs[Double]("v_" + name)).toSeq
    // numpy reflect tiling has period 2(n-1)=4: [10,20,30,20] repeats
    assert(c("reflect") === Seq(20.0, 10.0, 20.0, 30.0, 20.0,
      10.0, 20.0, 30.0, 20.0, 10.0, 20.0, 30.0, 20.0))
    // numpy symmetric tiling has period 2n=6: [10,20,30,30,20,10] repeats
    assert(c("symmetric") === Seq(20.0, 30.0, 30.0, 20.0, 10.0,
      10.0, 20.0, 30.0, 30.0, 20.0, 10.0, 10.0, 20.0))
    assert(c("wrap") === Seq(20.0, 30.0, 10.0, 20.0, 30.0,
      10.0, 20.0, 30.0, 10.0, 20.0, 30.0, 10.0, 20.0))
    // n == 1 degenerate: every mode repeats the single value
    val one = Seq((0L, 7.0)).toDF("pos", "v")
    val o1 = Pad.pad(one, "pos", "v", n = 1, before = 3, after = 3)
      .orderBy("pos").collect()
    Seq("edge", "reflect", "symmetric", "wrap").foreach { m =>
      assert(o1.map(_.getAs[Double]("v_" + m)).forall(_ == 7.0), m)
    }
  }

  test("roll shifts circularly") {
    val df = Seq((0L, 1.0), (1L, 2.0), (2L, 3.0)).toDF("pos", "v")
    val out = Pad.roll(df, "pos", "v", 3, shift = 1).orderBy("pos")
      .select("v_rolled").as[Double].collect()
    assert(out.toSeq === Seq(3.0, 1.0, 2.0))
  }

  test("CF decode: mask + scale/offset + time roundtrip") {
    val df = Seq(4, -999, 10).toDF("enc")
    val dec = df.select(CFDecode.decode(col("enc"), -999, 0.5, 1.0).as("v"))
      .as[Option[Double]].collect()
    assert(dec.toSeq === Seq(Some(3.0), None, Some(6.0)))
    val t = Seq(2L).toDF("d").select(
      CFDecode.timeDecodeDays(col("d"), "2020-01-01 00:00:00").as("t"))
      .head.getTimestamp(0)
    assert(t.toInstant.toString.startsWith("2020-01-03"))
  }

  test("DataTree: inheritance, map, filter") {
    val child = XDataset(Seq((1L, 2.0)).toDF("d", "v"),
      dims = Seq("d"))
    val parent = XDataset(Seq((1L, 9.0)).toDF("d", "p"),
      dims = Seq("d"), coords = Set("p"))
    val tree = DataTree("/" -> parent, "/a" -> child, "/a/b" -> child)
    assert(tree.groups === Seq("/", "/a", "/a/b"))
    assert(tree("/a").meta.coords.contains("p"))   // inherited from root
    val mapped = tree.mapOverDatasets(ds => ds.assign("z", lit(1)))
    assert(mapped("/a/b").df.columns.contains("z"))
    assert(tree.filter((p, _) => p != "/a/b").groups === Seq("/", "/a"))
  }

  test("distributed avgRank matches scipy rankdata semantics") {
    val df = Seq(10.0, 20.0, 20.0, 30.0).toDF("v")
    val out = Rank.avgRank(df, "v", "r").orderBy("v", "r")
      .select("r").as[Double].collect()
    assert(out.toSeq === Seq(1.0, 2.5, 2.5, 4.0))
  }

  test("exact Long product aggregate") {
    val df = Seq(2L, 3L, 4L).toDF("x")
    assert(df.agg(ProductAgg.productLong(col("x"))).head.getLong(0) === 24L)
  }

  test("weighted quantile: unit weights degenerate to H&F 7 percentile") {
    import graft.exprs.WeightedQuantile
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 1.0)).toDF("v", "w")
    val wq = df.agg(WeightedQuantile(col("v"), col("w"), 0.5)).head.getDouble(0)
    val pq = df.agg(percentile(col("v"), lit(0.5))).head.getDouble(0)
    assert(math.abs(wq - pq) < 1e-12, s"$wq vs $pq")
    // heavy weight drags the median toward that value
    val skew = Seq((1.0, 10.0), (2.0, 1.0), (3.0, 1.0)).toDF("v", "w")
    val ws = skew.agg(WeightedQuantile(col("v"), col("w"), 0.5)).head.getDouble(0)
    assert(ws < 2.0, s"weighted median should lean to 1.0, got $ws")
  }

  test("Store: partitioned write, region overwrite, pruned read") {
    import graft.io.Store
    val dir = scratchDir("graft_store")
    val df = Seq((1, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0)).toDF("chunk", "k", "v")
    Store.write(df, dir, Seq("chunk"))
    assert(Store.open(spark, dir).count() === 3)
    // region write: replace only chunk=1
    val region = Seq((1, "z", 9.0)).toDF("chunk", "k", "v")
    Store.writeRegion(region, dir, Seq("chunk"))
    val after = Store.open(spark, dir)
    assert(after.count() === 2)                       // chunk1 replaced, chunk2 kept
    assert(after.filter(col("chunk") === 2).count() === 1)
    // chunk-key predicate prunes partitions
    val plan = after.filter(col("chunk") === 2).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(chunk"), plan.take(400))
  }

  test("noleap calendar decode/encode roundtrip (cftime 365_day)") {
    val df = Seq(0L, 364L, 365L, 424L, 729L).toDF("d")
    val dec = df.select(col("d"),
      CFDecode.noleapDecode(col("d"), 2000).as("nd"))
      .select(col("d"), col("nd.year"), col("nd.month"), col("nd.day"), col("nd.doy"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(dec(0L) === ((2000, 1, 1, 1)))
    assert(dec(364L) === ((2000, 12, 31, 365)))     // noleap year end
    assert(dec(365L) === ((2001, 1, 1, 1)))
    assert(dec(424L) === ((2001, 3, 1, 60)))        // Feb has 28 days always
    assert(dec(729L) === ((2001, 12, 31, 365)))
    // roundtrip law
    val rt = df.select(col("d"),
      CFDecode.noleapDecode(col("d"), 2000).as("nd"))
      .select(col("d"), CFDecode.noleapEncode(
        col("nd.year"), col("nd.month"), col("nd.day"), 2000).as("back"))
      .filter(col("d") =!= col("back")).count()
    assert(rt === 0)
  }

  test("setCoords/swapDims are metadata-only") {
    val ds = XDataset(Seq((1L, "x", 2.0)).toDF("d", "name", "v"), Seq("d"))
    val sc = ds.setCoords("name")
    assert(sc.meta.coords === Set("name") && (sc.df eq ds.df))
    val sw = sc.swapDims("d", "name")
    assert(sw.meta.dims === Seq("name") && sw.meta.coords === Set("d"))
  }
}
