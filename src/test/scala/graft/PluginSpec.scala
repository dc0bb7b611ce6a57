package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Backends, DictIO}
import graft.model.{XDataset, XIndex, XIndexes}

/** Plug-in surfaces: backend registry (open_dataset engine dispatch),
  * to_dict/from_dict roundtrip, set_xindex custom Index dispatch. */
class PluginSpec extends SparkSpec {
  import spark.implicits._

  test("backend registry dispatches by engine and rejects unknown ones") {
    val dir = scratchDir("graft_backend")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    val df = Backends.openDataset(spark, s"$dir/t.parquet", "parquet")
    assert(df.count() === 2L)
    val e = intercept[IllegalArgumentException] {
      Backends.openDataset(spark, s"$dir/t.parquet", "hdf5")
    }
    assert(e.getMessage.contains("netcdf")) // lists registered engines
    // plug in a custom engine, last registration wins
    Backends.register("constant", new Backends.Backend {
      def read(s: SparkSession, path: String, o: Map[String, String]): DataFrame =
        s.range(3).toDF("k")
    })
    assert(Backends.openDataset(spark, "ignored", "constant").count() === 3L)
  }

  test("to_dict emits the reference structure and from_dict inverts it") {
    val ds = XDataset(
      Seq((1L, 10L, 1.5, "x"), (1L, 20L, 2.5, "y"),
          (2L, 10L, 3.5, "z"), (2L, 20L, 4.5, null: String))
        .toDF("t", "site", "v", "tag"),
      dims = Seq("t", "site"))
    val json = DictIO.toDict(ds)
    assert(json.contains("\"dims\":{\"t\":2,\"site\":2}"))
    assert(json.contains("\"data_vars\""))
    val back = DictIO.fromDict(spark, json)
    assert(back.meta.dims === Seq("t", "site"))
    val orig = ds.df.orderBy("t", "site").collect().map(_.toSeq).toSeq
    val rt = back.df.orderBy("t", "site").collect().map(_.toSeq).toSeq
    assert(rt === orig)
  }

  test("set_xindex dispatches sel through the attached index") {
    var calls = 0
    val counting = new XIndex {
      def sel(df: DataFrame, dim: String, values: Seq[Any]): DataFrame = {
        calls += 1; df.filter(col(dim).isin(values: _*))
      }
    }
    val ds = XDataset(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      dims = Seq("k"))
    val plain = ds.sel("k", Seq(1L, 3L)).df.orderBy("k").collect()
    val viaIx = ds.setXIndex("k", counting).sel("k", Seq(1L, 3L))
      .df.orderBy("k").collect()
    assert(calls === 1)
    assert(viaIx.map(_.getString(1)).toSeq === plain.map(_.getString(1)).toSeq)
  }

  test("store dataset roundtrip keeps dims/coords/attrs via the sidecar") {
    import graft.io.{CFDecode, Store}
    val dir = scratchDir("graft_store_ds")
    val ds = new XDataset(
      Seq((1L, 100), (2L, -999), (3L, 104)).toDF("t", "enc"),
      graft.model.DatasetMeta(Seq("t"), coords = Set.empty,
        attrs = Map("title" -> "demo"),
        varAttrs = Map("enc" -> Map("_FillValue" -> "-999",
          "scale_factor" -> "0.5", "add_offset" -> "10"))))
    Store.writeDataset(ds, s"$dir/store")
    val back = Store.openDataset(spark, s"$dir/store")
    assert(back.meta.dims === Seq("t"))
    assert(back.meta.attrs === Map("title" -> "demo"))
    assert(back.meta.varAttrs("enc")("scale_factor") === "0.5")
    // decode_cf applies the coders the attrs declare: mask then scale
    val dec = CFDecode.decodeDataset(back)
    val vals = dec.df.orderBy("t").collect()
      .map(r => Option(r.get(1)).map(_.asInstanceOf[Double]))
    assert(vals.toSeq === Seq(Some(60.0), None, Some(62.0)))
  }

  test("range index layout preserves data and registry creates by name") {
    val ds = XDataset(spark.range(1000).toDF("k")
      .withColumn("v", col("k") * 2), dims = Seq("k"))
    val indexed = ds.setXIndex("k", "range")
    assert(indexed.df.count() === 1000L)
    assert(indexed.selSlice("k", 10, 19).df.count() === 10L)
    assert(XIndexes.names === Seq("hash", "range"))
    intercept[IllegalArgumentException] { XIndexes.create("btree") }
  }

  test("AffineRangeIndex: lazy labels, nearest sel, inclusive label slices") {
    import XIndexes.AffineRangeIndex
    // linspace(0, 1, 5): labels 0, 0.25, 0.5, 0.75, 1 over positions 0-4
    val ds = AffineRangeIndex.linspace(spark, 0.0, 1.0, 5, "x")
    assert(ds.df.count() === 5L)
    val idx = ds.indexes("x").asInstanceOf[AffineRangeIndex]
    assert(idx.step === 0.25)
    // label 0.26 snaps to the nearest position (1 -> label 0.25)
    assert(ds.sel("x", Seq(0.26)).df.collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    // label slice [0.25, 0.8] is positions 1..3 (inclusive ends)
    assert(ds.selSlice("x", 0.25, 0.8).df.collect().map(_.getLong(0)).sorted
      .toSeq === Seq(1L, 2L, 3L))
    // the label column derives lazily — no value column is stored
    assert(ds.df.columns.toSeq === Seq("x"))
    val labels = ds.df.select(idx.label(col("x")).as("lab"))
      .collect().map(_.getDouble(0)).sorted
    assert(labels.toSeq === Seq(0.0, 0.25, 0.5, 0.75, 1.0))
    // arange end-exclusive count + descending-step slice ordering
    assert(AffineRangeIndex.arange(spark, 2.0, 4.0, 0.5, "t").df.count() === 4L)
    val desc = new AffineRangeIndex(10.0, -1.0)
    val base = spark.range(5).toDF("p") // labels 10, 9, 8, 7, 6
    assert(desc.selSlice(base, "p", 7.0, 9.0).collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }
}
