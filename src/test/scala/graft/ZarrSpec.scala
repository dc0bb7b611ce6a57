package graft

import java.io.{ByteArrayInputStream, FileOutputStream}
import java.nio.file.{Files, Paths}
import java.util.zip.ZipInputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, spark_partition_id, sum}

import graft.io.Zarr
import graft.io.Zarr.ArrayMeta

/** The local filesystem under its own scheme, so store code that picks
  * java.nio for `file` paths takes its Hadoop branch instead. */
class OtherSchemeFS extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftlocal:///")
}

/** Real zarr v2 format (ref `backends/zarr.py:655`): interop pin against a
  * store produced by an INDEPENDENT implementation (python stdlib json/
  * zlib/struct — embedded below as a zip), plus writer->reader roundtrips
  * including the distributed long-DataFrame paths. */
class ZarrSpec extends SparkSpec {

  /** zarr v2 store written by python (json+zlib+struct, no zarr-python):
    * group with `temp` float64 [3,4] chunks [2,3] zlib(1), values
    * i*10+j; coords t = int64 [100,101,102] raw, x = int32 [7,8,9,10]
    * raw in two chunks. Zip, base64. */
  private val fixtureB64: String =
    "UEsDBBQAAAAAAAMoDV26SDeJEgAAABIAAAAHAAAALnpncm91cHsiemFycl9mb3JtYXQiOiAyfVBL" +
    "AwQUAAAAAAADKA1d6f5DXoMAAACDAAAACQAAAHQvLnphcnJheXsiemFycl9mb3JtYXQiOiAyLCAi" +
    "c2hhcGUiOiBbM10sICJjaHVua3MiOiBbM10sICJkdHlwZSI6ICI8aTgiLCAiY29tcHJlc3NvciI6" +
    "IG51bGwsICJmaWxsX3ZhbHVlIjogMCwgIm9yZGVyIjogIkMiLCAiZmlsdGVycyI6IG51bGx9UEsD" +
    "BBQAAAAAAAMoDV0YxggwHAAAABwAAAAJAAAAdC8uemF0dHJzeyJfQVJSQVlfRElNRU5TSU9OUyI6" +
    "IFsidCJdfVBLAwQUAAAAAAADKA1dHalRRxgAAAAYAAAAAwAAAHQvMGQAAAAAAAAAZQAAAAAAAABm" +
    "AAAAAAAAAFBLAwQUAAAAAAADKA1dTqjiMKEAAAChAAAADAAAAHRlbXAvLnphcnJheXsiemFycl9m" +
    "b3JtYXQiOiAyLCAic2hhcGUiOiBbMywgNF0sICJjaHVua3MiOiBbMiwgM10sICJkdHlwZSI6ICI8" +
    "ZjgiLCAiY29tcHJlc3NvciI6IHsiaWQiOiAiemxpYiIsICJsZXZlbCI6IDF9LCAiZmlsbF92YWx1" +
    "ZSI6IDAuMCwgIm9yZGVyIjogIkMiLCAiZmlsdGVycyI6IG51bGx9UEsDBBQAAAAAAAMoDV0Vz60B" +
    "MgAAADIAAAAMAAAAdGVtcC8uemF0dHJzeyJfQVJSQVlfRElNRU5TSU9OUyI6IFsidCIsICJ4Il0s" +
    "ICJ1bml0cyI6ICJkZWdDIn1QSwMEFAAAAAAAAygNXc+PpoIZAAAAGQAAAAgAAAB0ZW1wLzAuMHgB" +
    "Y2BABh/soTwHCK0CpdWgtIYDADmDAqJQSwMEFAAAAAAAAygNXZhsUEQUAAAAFAAAAAgAAAB0ZW1w" +
    "LzAuMXgBY2AAAQ4HMIVBaGGIAwAS9ACzUEsDBBQAAAAAAAMoDV2lECLCGQAAABkAAAAIAAAAdGVt" +
    "cC8xLjB4AWNgAAETBzDFYAqlzaA0RBSZBAAt/gFgUEsDBBQAAAAAAAMoDV3mzFUYEQAAABEAAAAI" +
    "AAAAdGVtcC8xLjF4AWNgAAFzBzBFBAEAE3YAeFBLAwQUAAAAAAADKA1d2+K4/IMAAACDAAAACQAA" +
    "AHgvLnphcnJheXsiemFycl9mb3JtYXQiOiAyLCAic2hhcGUiOiBbNF0sICJjaHVua3MiOiBbMl0s" +
    "ICJkdHlwZSI6ICI8aTQiLCAiY29tcHJlc3NvciI6IG51bGwsICJmaWxsX3ZhbHVlIjogMCwgIm9y" +
    "ZGVyIjogIkMiLCAiZmlsdGVycyI6IG51bGx9UEsDBBQAAAAAAAMoDV2ged56HAAAABwAAAAJAAAA" +
    "eC8uemF0dHJzeyJfQVJSQVlfRElNRU5TSU9OUyI6IFsieCJdfVBLAwQUAAAAAAADKA1dn/5TqggA" +
    "AAAIAAAAAwAAAHgvMAcAAAAIAAAAUEsDBBQAAAAAAAMoDV0mJNAVCAAAAAgAAAADAAAAeC8xCQAA" +
    "AAoAAABQSwECFAMUAAAAAAADKA1dukg3iRIAAAASAAAABwAAAAAAAAAAAAAApIEAAAAALnpncm91" +
    "cFBLAQIUAxQAAAAAAAMoDV3p/kNegwAAAIMAAAAJAAAAAAAAAAAAAACkgTcAAAB0Ly56YXJyYXlQ" +
    "SwECFAMUAAAAAAADKA1dGMYIMBwAAAAcAAAACQAAAAAAAAAAAAAApIHhAAAAdC8uemF0dHJzUEsB" +
    "AhQDFAAAAAAAAygNXR2pUUcYAAAAGAAAAAMAAAAAAAAAAAAAAKSBJAEAAHQvMFBLAQIUAxQAAAAA" +
    "AAMoDV1OqOIwoQAAAKEAAAAMAAAAAAAAAAAAAACkgV0BAAB0ZW1wLy56YXJyYXlQSwECFAMUAAAA" +
    "AAADKA1dFc+tATIAAAAyAAAADAAAAAAAAAAAAAAApIEoAgAAdGVtcC8uemF0dHJzUEsBAhQDFAAA" +
    "AAAAAygNXc+PpoIZAAAAGQAAAAgAAAAAAAAAAAAAAKSBhAIAAHRlbXAvMC4wUEsBAhQDFAAAAAAA" +
    "AygNXZhsUEQUAAAAFAAAAAgAAAAAAAAAAAAAAKSBwwIAAHRlbXAvMC4xUEsBAhQDFAAAAAAAAygN" +
    "XaUQIsIZAAAAGQAAAAgAAAAAAAAAAAAAAKSB/QIAAHRlbXAvMS4wUEsBAhQDFAAAAAAAAygNXebM" +
    "VRgRAAAAEQAAAAgAAAAAAAAAAAAAAKSBPAMAAHRlbXAvMS4xUEsBAhQDFAAAAAAAAygNXdviuPyD" +
    "AAAAgwAAAAkAAAAAAAAAAAAAAKSBcwMAAHgvLnphcnJheVBLAQIUAxQAAAAAAAMoDV2ged56HAAA" +
    "ABwAAAAJAAAAAAAAAAAAAACkgR0EAAB4Ly56YXR0cnNQSwECFAMUAAAAAAADKA1dn/5TqggAAAAI" +
    "AAAAAwAAAAAAAAAAAAAApIFgBAAAeC8wUEsBAhQDFAAAAAAAAygNXSYk0BUIAAAACAAAAAMAAAAA" +
    "AAAAAAAAAKSBiQQAAHgvMVBLBQYAAAAADgAOAPACAACyBAAAAAA="

  private def extractFixture(): String = {
    val dir = scratchDir("zarrfix")
    val zin = new ZipInputStream(new ByteArrayInputStream(
      java.util.Base64.getDecoder.decode(fixtureB64)))
    var e = zin.getNextEntry
    while (e != null) {
      val out = Paths.get(dir, e.getName)
      Files.createDirectories(out.getParent)
      val fos = new FileOutputStream(out.toFile)
      val buf = new Array[Byte](8192)
      var n = zin.read(buf)
      while (n > 0) { fos.write(buf, 0, n); n = zin.read(buf) }
      fos.close()
      e = zin.getNextEntry
    }
    zin.close()
    dir
  }

  test("reads an independently-produced store (interop pin)") {
    val store = extractFixture()
    val m = Zarr.openMeta(spark, store, "temp")
    assert(m.shape == Seq(3, 4) && m.chunks == Seq(2, 3))
    assert(m.kind == 'f' && m.size == 8 && m.order == '<')
    assert(m.compressor.contains(("zlib", 1)))
    assert(m.dims == Seq("t", "x") && m.attrs == Map("units" -> "degC"))

    val rows = Zarr.toLongDF(spark, store, "temp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expect = (for (i <- 0 until 3; j <- 0 until 4)
      yield (100L + i, 7L + j, i * 10.0 + j)).toSet
    assert(rows == expect) // edge-chunk padding trimmed, coords applied
  }

  test("driver-side writeArray -> readArray roundtrip with edge chunks") {
    val store = scratchDir("zw")
    Zarr.initStore(spark, store)
    val data = Array.tabulate(3 * 5)(_.toDouble * 0.5 - 2)
    val m = ArrayMeta(Seq(3, 5), Seq(2, 2), '<', 'f', 8,
      Some(("zlib", 6)), Double.NaN, ".", Seq("a", "b"), Map("k" -> "v"))
    Zarr.writeArray(spark, store, "v", m, data)
    val (m2, back) = Zarr.readArray(spark, store, "v")
    assert(m2.shape == Seq(3, 5) && m2.dims == Seq("a", "b"))
    assert(back.toSeq == data.toSeq)
  }

  test("v2 nested chunk keys (dimension_separator '/'): distributed roundtrip") {
    import spark.implicits._
    val store = scratchDir("znest")
    val df = (for (i <- 0 until 5; j <- 0 until 7)
      yield (i.toLong, j.toLong, i * 100.0 + j)).toSeq
      .toDF("row", "col", "v")
    Zarr.writeLongDF(df, store, "v", Seq("row", "col"),
      Seq(Array.tabulate(5)(_.toDouble), Array.tabulate(7)(_.toDouble)),
      chunks = Seq(2, 3), separator = Some("/"))
    // NestedDirectoryStore layout: "<i>/<j>" chunk files, "/" declared
    val za = new String(Files.readAllBytes(
      Paths.get(store, "v", ".zarray")), "UTF-8")
    assert(za.contains("\"dimension_separator\":\"/\""))
    assert(Files.exists(Paths.get(store, "v", "2", "2")))
    assert(!Files.exists(Paths.get(store, "v", "2.2")))
    val back = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back == df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("v2 zstd compressor (numcodecs Zstd): roundtrip + format pins") {
    val store = scratchDir("zzstd")
    Zarr.initStore(spark, store)
    val data = Array.tabulate(4 * 6)(i => (i % 5) * 1.25)
    val m = ArrayMeta(Seq(4, 6), Seq(2, 4), '<', 'f', 8,
      Some(("zstd", 3)), Double.NaN, ".", Seq("a", "b"), Map())
    Zarr.writeArray(spark, store, "v", m, data)
    val za = new String(Files.readAllBytes(
      Paths.get(store, "v", ".zarray")), "UTF-8")
    assert(za.contains("\"id\":\"zstd\"") && za.contains("\"level\":3"))
    // chunk payload is a real zstd frame (magic 28 B5 2F FD)
    val chunk = Files.readAllBytes(Paths.get(store, "v", "0.0"))
    assert((chunk(0) & 0xff) == 0x28 && (chunk(1) & 0xff) == 0xb5 &&
      (chunk(2) & 0xff) == 0x2f && (chunk(3) & 0xff) == 0xfd)
    val (m2, back) = Zarr.readArray(spark, store, "v")
    assert(m2.compressor.contains(("zstd", 3)))
    assert(back.toSeq == data.toSeq)
  }

  test("v3 zstd codec (zarr-python 3's default chain): roundtrip + metadata pin") {
    import spark.implicits._
    val store = scratchDir("zv3zstd")
    val df = (for (i <- 0 until 5; j <- 0 until 7)
      yield (i.toLong, j.toLong, i * 100.0 + j)).toSeq
      .toDF("row", "col", "v")
    Zarr.writeLongDF(df, store, "v", Seq("row", "col"),
      Seq(Array.tabulate(5)(_.toDouble), Array.tabulate(7)(_.toDouble)),
      chunks = Seq(2, 3), zarrFormat = 3, compressor = Some(("zstd", 0)))
    val za = new String(Files.readAllBytes(
      Paths.get(store, "v", "zarr.json")), "UTF-8")
    assert(za.contains("\"name\":\"zstd\"") &&
      za.contains("\"checksum\":false"))
    val chunk = Files.readAllBytes(Paths.get(store, "v", "c", "0", "0"))
    assert((chunk(0) & 0xff) == 0x28 && (chunk(1) & 0xff) == 0xb5)
    val back = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back == df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("dtype battery roundtrips: f4, i2, u1, big-endian f8") {
    val store = scratchDir("zdt")
    val cases = Seq(
      (ArrayMeta(Seq(4), Seq(3), '<', 'f', 4, None, 0.0, ".", Seq("d"), Map()),
        Array(1.5, -2.25, 0.0, 8.0)),
      (ArrayMeta(Seq(4), Seq(3), '<', 'i', 2, Some(("zlib", 1)), 0.0, ".",
        Seq("d"), Map()), Array(7.0, -300.0, 0.0, 12000.0)),
      (ArrayMeta(Seq(4), Seq(3), '|', 'u', 1, None, 0.0, ".", Seq("d"), Map()),
        Array(0.0, 255.0, 17.0, 128.0)),
      (ArrayMeta(Seq(4), Seq(3), '>', 'f', 8, None, 0.0, ".", Seq("d"), Map()),
        Array(1.0, -1e300, 3.5, 0.125)))
    cases.zipWithIndex.foreach { case ((m, data), i) =>
      Zarr.writeArray(spark, store, s"v$i", m, data)
      assert(Zarr.readArray(spark, store, s"v$i")._2.toSeq == data.toSeq,
        s"case $i")
    }
  }

  test("distributed writeLongDF -> toLongDF roundtrip (edge chunks, zlib)") {
    import spark.implicits._
    val store = scratchDir("zdist")
    // 5x7 grid, chunks 2x3 -> 3x3 grid with edge chunks both ways
    val df = (for (i <- 0 until 5; j <- 0 until 7)
      yield (i.toLong, j.toLong, i * 100.0 + j)).toSeq
      .toDF("row", "col", "v")
    Zarr.writeLongDF(df, store, "v", Seq("row", "col"),
      Seq(Array.tabulate(5)(_.toDouble), Array.tabulate(7)(_.toDouble)),
      chunks = Seq(2, 3))
    // format-level check: .zarray is real zarr v2 JSON + chunk grid on disk
    val za = new String(Files.readAllBytes(
      Paths.get(store, "v", ".zarray")), "UTF-8")
    assert(za.contains("\"zarr_format\":2") && za.contains("\"dtype\":\"<f8\""))
    assert(Files.exists(Paths.get(store, "v", "2.2"))) // edge chunk present
    assert(!Files.exists(Paths.get(store, "v", "3.0")))
    val back = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back == df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("region write replaces only covered chunks") {
    import spark.implicits._
    val store = scratchDir("zreg")
    val full = (for (i <- 0 until 4; j <- 0 until 4)
      yield (i.toLong, j.toLong, 1.0)).toSeq.toDF("row", "col", "v")
    Zarr.writeLongDF(full, store, "v", Seq("row", "col"),
      Seq(Array.tabulate(4)(_.toDouble), Array.tabulate(4)(_.toDouble)),
      chunks = Seq(2, 2))
    // region: rows 0-1 x cols 0-1 (exactly chunk 0.0) -> 9.0
    val region = (for (i <- 0 until 2; j <- 0 until 2)
      yield (i.toLong, j.toLong, 9.0)).toSeq.toDF("row", "col", "v")
    Zarr.writeLongDF(region, store, "v", Seq("row", "col"),
      Seq(Array.tabulate(4)(_.toDouble), Array.tabulate(4)(_.toDouble)),
      chunks = Seq(2, 2), region = true)
    val back = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(back((0L, 0L)) == 9.0 && back((1L, 1L)) == 9.0)
    assert(back((0L, 2L)) == 1.0 && back((3L, 3L)) == 1.0) // untouched chunks
  }

  test("openDataset joins all data vars on shared dims; coords excluded") {
    val store = scratchDir("zds")
    Zarr.initStore(spark, store)
    val mU = ArrayMeta(Seq(2, 3), Seq(2, 2), '<', 'f', 8, Some(("zlib", 1)),
      Double.NaN, ".", Seq("a", "b"), Map())
    val mV = mU.copy(compressor = None)
    Zarr.writeArray(spark, store, "u", mU, Array(1, 2, 3, 4, 5, 6.0))
    Zarr.writeArray(spark, store, "v", mV, Array(10, 20, 30, 40, 50, 60.0))
    val cm = ArrayMeta(Seq(2), Seq(2), '<', 'i', 8, None, 0, ".", Seq("a"), Map())
    Zarr.writeArray(spark, store, "a", cm, Array(7.0, 8.0)) // coord vector
    val df = Zarr.openDataset(spark, store)
    assert(df.columns.toSet == Set("a", "b", "u", "v"))
    val rows = df.collect().map(r => ((r.getLong(0), r.getLong(1)),
      (r.getDouble(2), r.getDouble(3)))).toMap
    assert(rows.size == 6)
    assert(rows((7L, 0L)) == ((1.0, 10.0)) && rows((8L, 2L)) == ((6.0, 60.0)))
  }

  test("append_dim extends through a mid-chunk boundary without losing old cells") {
    import spark.implicits._
    val store = scratchDir("zapp")
    // 3x2 grid, row-chunks of 2 -> old boundary chunk (row 2) is half full
    val df0 = (for (i <- 0 until 3; j <- 0 until 2)
      yield (i.toLong, j.toLong, i * 10.0 + j)).toSeq.toDF("row", "col", "v")
    Zarr.writeLongDF(df0, store, "v", Seq("row", "col"),
      Seq(Array.tabulate(3)(_.toDouble), Array.tabulate(2)(_.toDouble)),
      chunks = Seq(2, 2))
    // append rows 3,4: row 3 lands in the half-full boundary chunk
    val df1 = (for (i <- 3 until 5; j <- 0 until 2)
      yield (i.toLong, j.toLong, i * 10.0 + j)).toSeq.toDF("row", "col", "v")
    Zarr.appendLongDF(df1, store, "v", "row", Array(3.0, 4.0))
    val m = Zarr.openMeta(spark, store, "v")
    assert(m.shape == Seq(5, 2))
    val back = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(back.size == 10)
    (0 until 5).foreach(i => (0 until 2).foreach(j =>
      assert(back((i.toLong, j.toLong)) == i * 10.0 + j, s"cell $i,$j")))
    // coord vector extended too
    assert(Zarr.readArray(spark, store, "row")._2.toSeq ==
      Seq(0.0, 1.0, 2.0, 3.0, 4.0))
  }

  test("consolidate writes one .zmetadata covering every array") {
    val store = extractFixture()
    Zarr.consolidate(spark, store)
    val doc = new String(Files.readAllBytes(
      Paths.get(store, ".zmetadata")), "UTF-8")
    assert(doc.contains("\"zarr_consolidated_format\":1"))
    Seq("temp/.zarray", "temp/.zattrs", "t/.zarray", "x/.zarray").foreach(k =>
      assert(doc.contains(s""""$k""""), s"missing $k"))
  }

  test("v3: distributed roundtrip with zarr.json metadata, nested keys, gzip") {
    import spark.implicits._
    val store = scratchDir("zv3")
    val df = (for (i <- 0 until 5; j <- 0 until 7)
      yield (i.toLong, j.toLong, i * 100.0 + j)).toSeq
      .toDF("row", "col", "v")
    Zarr.writeLongDF(df, store, "v", Seq("row", "col"),
      Seq(Array.tabulate(5)(_.toDouble), Array.tabulate(7)(_.toDouble)),
      chunks = Seq(2, 3), zarrFormat = 3)
    // format pin: v3 layout on disk — group node, array node, c/i/j keys
    val root = new String(Files.readAllBytes(
      Paths.get(store, "zarr.json")), "UTF-8")
    assert(root.contains("\"zarr_format\":3") &&
      root.contains("\"node_type\":\"group\""))
    val za = new String(Files.readAllBytes(
      Paths.get(store, "v", "zarr.json")), "UTF-8")
    assert(za.contains("\"node_type\":\"array\"") &&
      za.contains("\"data_type\":\"float64\"") &&
      za.contains("\"chunk_shape\":[2,3]") &&
      za.contains("\"name\":\"gzip\"") &&
      za.contains("\"dimension_names\":[\"row\",\"col\"]"))
    assert(Files.exists(Paths.get(store, "v", "c", "2", "2"))) // nested key
    assert(!Files.exists(Paths.get(store, "v", "2.2")))        // no v2 keys
    // chunk payload is real gzip (RFC 1952 magic)
    val chunk = Files.readAllBytes(Paths.get(store, "v", "c", "0", "0"))
    assert((chunk(0) & 0xff) == 0x1f && (chunk(1) & 0xff) == 0x8b)
    val back = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back == df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("v3: region write + driver readArray + openDataset transparency") {
    import spark.implicits._
    val store = scratchDir("zv3reg")
    val full = (for (i <- 0 until 4; j <- 0 until 4)
      yield (i.toLong, j.toLong, 1.0)).toSeq.toDF("row", "col", "v")
    val coords = Seq(Array.tabulate(4)(_.toDouble), Array.tabulate(4)(_.toDouble))
    Zarr.writeLongDF(full, store, "v", Seq("row", "col"), coords,
      chunks = Seq(2, 2), zarrFormat = 3)
    val region = (for (i <- 0 until 2; j <- 0 until 2)
      yield (i.toLong, j.toLong, 9.0)).toSeq.toDF("row", "col", "v")
    Zarr.writeLongDF(region, store, "v", Seq("row", "col"), coords,
      chunks = Seq(2, 2), region = true, zarrFormat = 3)
    val (m, arr) = Zarr.readArray(spark, store, "v")
    assert(m.v3 && m.compressor == Some(("gzip", 1)))
    assert(arr(0) == 9.0 && arr(5) == 9.0)   // chunk (0,0) rewritten
    assert(arr(2) == 1.0 && arr(15) == 1.0)  // neighbours untouched
    // dataset-level open dispatches per-array metadata transparently
    val ds = Zarr.openDataset(spark, store)
    assert(ds.count() == 16)
  }

  test("v3: '.' chunk-key separator reads flat c.0.0 files; consolidate rejects v3") {
    val store = scratchDir("zv3dot")
    val m = ArrayMeta(Seq(3, 4), Seq(2, 3), '<', 'f', 8, None, 0.0, ".",
      Seq("r", "c"), Map(), v3 = true)
    Zarr.initStoreV3(spark, store)
    Zarr.writeArray(spark, store, "v", m,
      Array.tabulate(12)(_.toDouble))
    assert(Files.exists(Paths.get(store, "v", "c.0.0"))) // flat v3 key
    val (m2, back) = Zarr.readArray(spark, store, "v")
    assert(m2.separator == "." && back.toSeq == (0 until 12).map(_.toDouble))
    // .zmetadata is a v2 convention — refuse on a v3 store
    val ex = intercept[IllegalArgumentException](Zarr.consolidate(spark, store))
    assert(ex.getMessage.contains("v2"))
  }

  test("v3: append_dim through a mid-chunk boundary is format-transparent") {
    import spark.implicits._
    val store = scratchDir("zv3app")
    val df = (for (i <- 0 until 3) yield (i.toLong, i * 1.0)).toSeq
      .toDF("t", "v")
    Zarr.writeLongDF(df, store, "v", Seq("t"),
      Seq(Array.tabulate(3)(_.toDouble)), chunks = Seq(2), zarrFormat = 3)
    val extra = Seq((3L, 30.0), (4L, 40.0)).toDF("t", "v")
    Zarr.appendLongDF(extra, store, "v", "t", Array(3.0, 4.0))
    val back = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(back == Map(0L -> 0.0, 1L -> 1.0, 2L -> 2.0, 3L -> 30.0, 4L -> 40.0))
    // metadata stayed v3
    val za = new String(Files.readAllBytes(
      Paths.get(store, "v", "zarr.json")), "UTF-8")
    assert(za.contains("\"shape\":[5]"))
  }

  test("DataTree.writeZarr roundtrips a nested tree through both formats") {
    import spark.implicits._
    import graft.model.{DataTree, XDataset}
    def grid(off: Double) = (for (t <- 0 until 4; x <- 0 until 3)
      yield (t.toLong, x.toLong, t * 10.0 + x + off)).toSeq
      .toDF("t", "x", "v")
    val tree = DataTree(
      "/obs" -> XDataset(grid(0.0), Seq("t", "x")),
      // two data vars: the second writes with writeCoords=false
      "/model/fcst" -> XDataset(
        grid(0.25).withColumn("v2", org.apache.spark.sql.functions.col("v") * 2),
        Seq("t", "x")))
    for (fmt <- Seq(2, 3)) {
      val root = scratchDir(s"ztreew$fmt")
      DataTree.writeZarr(tree, root, zarrFormat = fmt)
      val back = DataTree.openZarr(spark, root)
      assert(back.groups == Seq("/model/fcst", "/obs"))
      val node = back("/model/fcst").df
      val vals = node.select("t", "x", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(vals == grid(0.25).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
      // the writeCoords=false variable came back too, joined on the dims
      import org.apache.spark.sql.functions.col
      assert(node.filter(col("v2") =!= col("v") * 2).count() == 0)
      assert(node.columns.toSet == Set("t", "x", "v", "v2"))
    }
  }

  test("v3: parseMetaV3 rejects unsupported codecs and grids") {
    val badCodec = """{"zarr_format":3,"node_type":"array","shape":[2],
      "data_type":"float64","chunk_grid":{"name":"regular",
      "configuration":{"chunk_shape":[2]}},"fill_value":0.0,
      "codecs":[{"name":"vlen-utf8"}],"dimension_names":["d"]}"""
    val ex = intercept[RuntimeException](Zarr.parseMetaV3(badCodec))
    assert(ex.getMessage.contains("vlen-utf8"))
    // blosc (bare config -> numcodecs defaults) is a supported codec now
    val bloscCodec = """{"zarr_format":3,"node_type":"array","shape":[2],
      "data_type":"float64","chunk_grid":{"name":"regular",
      "configuration":{"chunk_shape":[2]}},"fill_value":0.0,
      "codecs":[{"name":"blosc"}],"dimension_names":["d"]}"""
    assert(Zarr.parseMetaV3(bloscCodec).compressor
      .contains(("blosc:lz4:1", 5)))
    val badGrid = """{"zarr_format":3,"node_type":"array","shape":[2],
      "data_type":"float64","chunk_grid":{"name":"rectangular"},
      "fill_value":0.0,"codecs":[],"dimension_names":["d"]}"""
    val ex2 = intercept[RuntimeException](Zarr.parseMetaV3(badGrid))
    assert(ex2.getMessage.contains("chunk_grid"))
  }

  test("absent chunk reads as fill_value; unsupported compressor rejects") {
    val store = scratchDir("zfill")
    val m = ArrayMeta(Seq(4), Seq(2), '<', 'f', 8, None, -1.5, ".",
      Seq("d"), Map())
    Zarr.writeArray(spark, store, "v", m, Array(1.0, 2.0, 3.0, 4.0))
    Files.delete(Paths.get(store, "v", "1")) // drop second chunk
    val (_, back) = Zarr.readArray(spark, store, "v")
    assert(back.toSeq == Seq(1.0, 2.0, -1.5, -1.5))

    val bad = """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<f8",
      "compressor":{"id":"bz2","level":9},"fill_value":0.0,
      "order":"C","filters":null}"""
    val ex = intercept[RuntimeException](Zarr.parseMeta(bad, None))
    assert(ex.getMessage.contains("bz2"))
    // blosc (numcodecs defaults filled in) parses to the packed id
    val blosc = """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<f8",
      "compressor":{"id":"blosc","cname":"zstd","clevel":3,"shuffle":2},
      "fill_value":0.0,"order":"C","filters":null}"""
    assert(Zarr.parseMeta(blosc, None).compressor
      .contains(("blosc:zstd:2", 3)))
  }

  test("v3 sharding_indexed: roundtrip, shard-count layout, index + crc format pins") {
    import spark.implicits._
    val store = scratchDir("zv3shard")
    val df = (for (i <- 0 until 7; j <- 0 until 10)
      yield (i.toLong, j.toLong, i * 100.0 + j)).toSeq
      .toDF("row", "col", "v")
    // shard shape 4x6, inner chunks 2x3 -> 2x2 shard grid on disk, each
    // shard holding a 2x2 grid of gzip'd inner chunks + index
    Zarr.writeLongDF(df, store, "v", Seq("row", "col"),
      Seq(Array.tabulate(7)(_.toDouble), Array.tabulate(10)(_.toDouble)),
      chunks = Seq(4, 6), zarrFormat = 3, shardInner = Some(Seq(2, 3)))
    // format pin: metadata declares the sharding codec with inner chain
    val za = new String(Files.readAllBytes(
      Paths.get(store, "v", "zarr.json")), "UTF-8")
    assert(za.contains("\"name\":\"sharding_indexed\"") &&
      za.contains("\"chunk_shape\":[2,3]") &&
      za.contains("\"name\":\"crc32c\"") &&
      za.contains("\"index_location\":\"end\""))
    // disk layout: exactly ceil(7/4) x ceil(10/6) = 2x2 shard objects
    val shardFiles = for (i <- 0 until 2; j <- 0 until 2)
      yield Paths.get(store, "v", "c", i.toString, j.toString)
    shardFiles.foreach(p => assert(Files.exists(p), s"missing shard $p"))
    assert(!Files.exists(Paths.get(store, "v", "c", "0", "2")))
    // binary pin: 4 inner chunks -> 64-byte index + 4-byte crc at the end;
    // first inner chunk offset 0, all entries present (non -1)
    val raw = Files.readAllBytes(shardFiles.head.toFile.toPath)
    val ib = java.nio.ByteBuffer.wrap(raw, raw.length - 68, 64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val entries = (0 until 4).map(_ => (ib.getLong, ib.getLong))
    assert(entries.head._1 == 0L)
    assert(entries.forall { case (o, l) => o >= 0 && l > 0 })
    assert(entries.map { case (o, l) => o + l }.max <= raw.length - 68)
    // roundtrip through the shard-transparent distributed reader
    val back = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back == df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    // driver-side readArray is shard-transparent too
    val (m, arr) = Zarr.readArray(spark, store, "v")
    assert(m.shard.isDefined && arr(6 * 10 + 9) == 609.0)
    // a corrupted index byte must be caught by the crc32c
    val tampered = raw.clone(); tampered(raw.length - 68) =
      (tampered(raw.length - 68) ^ 0x1).toByte
    val ex2 = intercept[IllegalArgumentException](
      Zarr.decodeChunk(tampered, m))
    assert(ex2.getMessage.contains("crc32c"))
    // region write WITHOUT re-passing shardInner must inherit the store's
    // shard spec (plain chunk blobs at shard keys would corrupt the store)
    val patch = (for (i <- 4 until 7; j <- 0 until 6)
      yield (i.toLong, j.toLong, 9000.0 + i * 10 + j)).toSeq
      .toDF("row", "col", "v")
    Zarr.writeLongDF(patch, store, "v", Seq("row", "col"),
      Seq(Array.tabulate(7)(_.toDouble), Array.tabulate(10)(_.toDouble)),
      chunks = Seq(4, 6), zarrFormat = 3, region = true)
    val after = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(after((5L, 3L)) == 9053.0, "region write into sharded store")
    assert(after((0L, 0L)) == 0.0, "untouched shard keeps old data")
    // a region write with MISMATCHED geometry is rejected loudly
    val exG = intercept[IllegalArgumentException] {
      Zarr.writeLongDF(patch, store, "v", Seq("row", "col"),
        Seq(Array.tabulate(7)(_.toDouble), Array.tabulate(10)(_.toDouble)),
        chunks = Seq(2, 6), zarrFormat = 3, region = true)
    }
    assert(exG.getMessage.contains("chunk shape"))
  }

  test("v3 sharding: index_location=start and crc-less index both decode") {
    import graft.io.Zarr.{ArrayMeta, ShardSpec}
    val base = ArrayMeta(Seq(4, 6), Seq(4, 6), '<', 'f', 8,
      None, Double.NaN, "/", Seq("r", "c"), Map.empty, v3 = true)
    val vals = Array.tabulate(24)(_ * 1.5)
    for ((atEnd, crc) <- Seq((false, true), (false, false), (true, false))) {
      val m = base.copy(shard = Some(ShardSpec(Seq(2, 3),
        Some(("gzip", 1)), indexAtEnd = atEnd, indexCrc = crc)))
      val enc = {
        // encodeChunk is private; roundtrip through the public store API
        val dir = scratchDir("zshardloc")
        Zarr.writeArray(spark, dir, "v", m, vals)
        Files.readAllBytes(Paths.get(dir, "v", "c", "0", "0"))
      }
      val dec = Zarr.decodeChunk(enc, m)
      assert(dec.toSeq == vals.toSeq,
        s"shard roundtrip failed for indexAtEnd=$atEnd crc=$crc")
      // and the metadata on disk declares the location/codec choices
      val dir2 = scratchDir("zshardmeta")
      Zarr.writeArray(spark, dir2, "v", m, vals)
      val za = new String(Files.readAllBytes(
        Paths.get(dir2, "v", "zarr.json")), "UTF-8")
      assert(za.contains(if (atEnd) "\"index_location\":\"end\""
                         else "\"index_location\":\"start\""))
      assert(za.contains("crc32c") == crc)
      val m2 = Zarr.parseMetaV3(za)
      assert(m2.shard.get.indexAtEnd == atEnd && m2.shard.get.indexCrc == crc)
    }
  }

  test("v3 transpose codec: format pin — stored bytes are the permuted layout") {
    // hand-written store, independent of our writer: logical 2x3 chunk
    // a[i][j] = i*3+j with transpose order [1,0] -> stored C-order is the
    // 3x2 transposed sequence [0,3,1,4,2,5]
    val store = scratchDir("ztp")
    Files.createDirectories(Paths.get(store, "v", "c", "0"))
    val meta =
      """{"zarr_format":3,"node_type":"array","shape":[2,3],
         "data_type":"float64",
         "chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,3]}},
         "chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
         "fill_value":0.0,
         "codecs":[{"name":"transpose","configuration":{"order":[1,0]}},
                   {"name":"bytes","configuration":{"endian":"little"}}],
         "dimension_names":["i","j"]}"""
    Files.write(Paths.get(store, "v", "zarr.json"), meta.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(0.0, 3.0, 1.0, 4.0, 2.0, 5.0).foreach(bb.putDouble)
    Files.write(Paths.get(store, "v", "c", "0", "0"), bb.array())
    val m = Zarr.openMetaAny(spark, store, "v")
    assert(m.tperm.contains(Seq(1, 0)))
    val back = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back == (for (i <- 0 until 2; j <- 0 until 3)
      yield (i.toLong, j.toLong, (i * 3 + j).toDouble)).toSet)
  }

  test("v3 transpose codec: write roundtrip, 3-D permutation, edge chunks") {
    import spark.implicits._
    val store = scratchDir("ztp3")
    // 3x4x5 with chunks 2x3x2 (edge chunks in every dim) and a rotation
    // permutation [2,0,1]
    val df = (for (i <- 0 until 3; j <- 0 until 4; k <- 0 until 5)
      yield (i.toLong, j.toLong, k.toLong, i * 100.0 + j * 10.0 + k)).toSeq
      .toDF("a", "b", "c", "v")
    Zarr.writeLongDF(df, store, "v", Seq("a", "b", "c"),
      Seq(Array.tabulate(3)(_.toDouble), Array.tabulate(4)(_.toDouble),
        Array.tabulate(5)(_.toDouble)),
      chunks = Seq(2, 3, 2), zarrFormat = 3,
      transposeOrder = Some(Seq(2, 0, 1)))
    val za = new String(Files.readAllBytes(
      Paths.get(store, "v", "zarr.json")), "UTF-8")
    assert(za.contains("\"name\":\"transpose\"") &&
      za.contains("\"order\":[2,0,1]"))
    // transpose must precede bytes in the chain (array->array first)
    assert(za.indexOf("\"name\":\"transpose\"") <
      za.indexOf("\"name\":\"bytes\""))
    val back = Zarr.toLongDF(spark, store, "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(back == df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet)
  }

  test("v2 F-order arrays decode and re-encode through the reversal perm") {
    // hand-written order:"F" store: logical a[i][j] = i*3+j stored
    // column-major [0,3,1,4,2,5]
    val store = scratchDir("zforder")
    Files.createDirectories(Paths.get(store, "v"))
    val za = """{"zarr_format":2,"shape":[2,3],"chunks":[2,3],
      "dtype":"<f8","compressor":null,"fill_value":null,
      "order":"F","filters":null}"""
    Files.write(Paths.get(store, "v", ".zarray"), za.getBytes("UTF-8"))
    Files.write(Paths.get(store, "v", ".zattrs"),
      """{"_ARRAY_DIMENSIONS":["i","j"]}""".getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(0.0, 3.0, 1.0, 4.0, 2.0, 5.0).foreach(bb.putDouble)
    Files.write(Paths.get(store, "v", "0.0"), bb.array())
    val m = Zarr.openMetaAny(spark, store, "v")
    assert(m.tperm.contains(Seq(1, 0)))
    val want = (for (i <- 0 until 2; j <- 0 until 3)
      yield (i.toLong, j.toLong, (i * 3 + j).toDouble)).toSet
    assert(Zarr.toLongDF(spark, store, "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == want)
    // writer: a reversal tperm re-emits order:"F" and roundtrips; any
    // other permutation has no v2 encoding and fails loudly
    val dir2 = scratchDir("zforder2")
    Zarr.writeArray(spark, dir2, "w", m, Array(0.0, 1.0, 2.0, 3.0, 4.0, 5.0))
    val za2 = new String(Files.readAllBytes(
      Paths.get(dir2, "w", ".zarray")), "UTF-8")
    assert(za2.contains("\"order\":\"F\""))
    assert(Zarr.toLongDF(spark, dir2, "w").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == want)
    intercept[RuntimeException] {
      Zarr.writeArray(spark, scratchDir("zforder3"),
        "x", m.copy(shape = Seq(2, 3, 4), chunks = Seq(2, 3, 4),
          dims = Seq("i", "j", "k"), tperm = Some(Seq(1, 0, 2))),
        Array.fill(24)(0.0))
    }
  }

  test("v3 transpose codec: guards — bad permutation, sharding, v2") {
    import spark.implicits._
    val df = Seq((0L, 0L, 1.0)).toDF("a", "b", "v")
    def w(fmt: Int, tp: Option[Seq[Int]], inner: Option[Seq[Int]] = None) =
      Zarr.writeLongDF(df, scratchDir("ztpg"), "v",
        Seq("a", "b"), Seq(Array(0.0), Array(0.0)), chunks = Seq(1, 1),
        zarrFormat = fmt, transposeOrder = tp, shardInner = inner)
    intercept[IllegalArgumentException] { w(3, Some(Seq(0, 0))) }
    intercept[IllegalArgumentException] { w(3, Some(Seq(0))) }
    intercept[IllegalArgumentException] { w(2, Some(Seq(1, 0))) }
    intercept[IllegalArgumentException] {
      w(3, Some(Seq(1, 0)), inner = Some(Seq(1, 1)))
    }
    // parser: transpose nested inside sharding_indexed is rejected loudly
    val badMeta =
      """{"zarr_format":3,"node_type":"array","shape":[2,2],
         "data_type":"float64",
         "chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,2]}},
         "chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
         "fill_value":0.0,
         "codecs":[{"name":"sharding_indexed","configuration":{
           "chunk_shape":[1,1],
           "codecs":[{"name":"transpose","configuration":{"order":[1,0]}},
                     {"name":"bytes","configuration":{"endian":"little"}}],
           "index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},
                           {"name":"crc32c"}],
           "index_location":"end"}}],
         "dimension_names":["i","j"]}"""
    val e = intercept[RuntimeException] { Zarr.parseMetaV3(badMeta) }
    assert(e.getMessage.contains("transpose inside sharding_indexed"))
    // stacked transposes compose; silently keeping only the last would
    // scramble the decode — must reject with re-encode guidance
    val stacked =
      """{"zarr_format":3,"node_type":"array","shape":[2,2],
         "data_type":"float64",
         "chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,2]}},
         "chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
         "fill_value":0.0,
         "codecs":[{"name":"transpose","configuration":{"order":[1,0]}},
                   {"name":"transpose","configuration":{"order":[1,0]}},
                   {"name":"bytes","configuration":{"endian":"little"}}],
         "dimension_names":["i","j"]}"""
    val e2 = intercept[IllegalArgumentException] { Zarr.parseMetaV3(stacked) }
    assert(e2.getMessage.contains("multiple transpose codecs"))
  }

  /** Every file under `dir`, by relative path. */
  private def filesUnder(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private val grid7x11 = Seq(Array.tabulate(7)(_.toDouble), Array.tabulate(11)(_.toDouble))

  test("writeLongDF bytes do not depend on input partitioning or row order") {
    import spark.implicits._
    type Cells = Seq[(Long, Long, Option[Double])]
    val cells: Cells = for (i <- 0 until 7; j <- 0 until 11) yield
      (i.toLong, j.toLong, if (i == 2 && j == 3) None else Some(i * 100.0 + j))
    // covers shard/chunk (1, 1) = rows 4-6 x cols 6-10 only partly
    val region: Cells = for (i <- 4 until 6; j <- 6 until 9) yield (i.toLong, j.toLong, Option(-1.0))
    def frame(cs: Cells, parts: Int): DataFrame =
      spark.sparkContext.parallelize(cs, parts).toDF("row", "col", "v")
    // 7 input partitions hold one row each: chunk (0, 0), rows 0-3, spans 4
    assert(frame(cells, 7).where("row < 4 and col < 6")
      .select(spark_partition_id()).distinct().count() >= 3)
    def write(df: DataFrame, store: String, region: Boolean,
              layout: String): Unit = layout match {
      case "v2 zlib" => Zarr.writeLongDF(df, store, "v", Seq("row", "col"),
        grid7x11, Seq(4, 6), region = region)
      case "v2 blosc" => Zarr.writeLongDF(df, store, "v", Seq("row", "col"),
        grid7x11, Seq(4, 6), compressor = Some(("blosc:lz4:1", 5)), region = region)
      case "v3 sharded" => Zarr.writeLongDF(df, store, "v", Seq("row", "col"),
        grid7x11, Seq(4, 6), zarrFormat = 3, shardInner = Some(Seq(2, 3)),
        region = region)
    }
    Seq("v2 zlib", "v2 blosc", "v3 sharded").foreach { layout =>
      val stores = Seq[(Cells => Cells, Int)]((identity, 1), (identity, 7), (_.reverse, 7))
        .map { case (order, parts) =>
          val store = scratchDir("zinv")
          write(frame(order(cells), parts), store, region = false, layout)
          write(frame(order(region), parts), store, region = true, layout)
          store
        }
      val files = stores.map(filesUnder)
      assert(files.forall(_ == files.head), layout)
      val back = Zarr.toLongDF(spark, stores.head, "v").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      for (i <- 4 until 7; j <- 6 until 11) {
        val v = back((i.toLong, j.toLong))
        if (i < 6 && j < 9) assert(v == -1.0, s"$layout ($i, $j)")
        else assert(v.isNaN, s"$layout ($i, $j) = $v: uncovered cells read fill_value")
      }
      assert(back((0L, 0L)) == 0.0 && back((6L, 5L)) == 605.0 && back((2L, 3L)).isNaN,
        layout)
    }
  }

  test("writeLongDF: a partition holding more cells than the map-side buffer") {
    val (ny, nx) = (530, 500) // the buffer fills mid-row, inside chunk row 4
    assert(ny * nx > Zarr.PartialCells)
    val coords = Seq(Array.tabulate(ny)(_.toDouble), Array.tabulate(nx)(_.toDouble))
    val stores = Seq(1, 4).map { parts =>
      val df = spark.range(0, ny * nx, 1, parts)
        .selectExpr(s"id div $nx as y", s"id % $nx as x", "cast(id as double) / 4 as v")
      val store = scratchDir("zcap")
      Zarr.writeLongDF(df, store, "v", Seq("y", "x"), coords, Seq(128, 128))
      store
    }
    assert(filesUnder(stores(0)) == filesUnder(stores(1)))
    val n = ny.toLong * nx
    val r = Zarr.toLongDF(spark, stores(0), "v").agg(count("v"), sum("v")).head()
    assert(r.getLong(0) == n && r.getDouble(1) == (n - 1) * n / 8.0)
  }

  test("writeLongDF: two rows for one cell raise 'duplicate cell' with its labels") {
    import spark.implicits._
    val cells = Seq((0L, 10L, 1.0), (1L, 11L, 2.0), (1L, 10L, 5.0), (1L, 11L, 3.0))
    Seq(1, 2).foreach { parts => // the duplicates in one input partition, then two
      val df = spark.sparkContext.parallelize(cells, parts).toDF("row", "col", "v")
      val e = intercept[Exception] {
        Zarr.writeLongDF(df, scratchDir("zdup"), "v",
          Seq("row", "col"), Seq(Array(0.0, 1.0), Array(10.0, 11.0)), chunks = Seq(2, 2))
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage)
          .contains("duplicate cell (row=1.0, col=11.0) in writeLongDF")), e.getMessage)
    }
  }

  test("a store on another Hadoop filesystem round-trips like the local store") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.graftlocal.impl",
      classOf[OtherSchemeFS].getName)
    val df = (for (i <- 0 until 7; j <- 0 until 11)
      yield (i.toLong, j.toLong, i * 100.0 + j)).toDF("row", "col", "v")
    val patch = (for (i <- 0 until 3; j <- 0 until 3)
      yield (i.toLong, j.toLong, -1.0)).toDF("row", "col", "v")
    Seq(2, 3).foreach { fmt =>
      val stores = Seq("", "graftlocal:").map { scheme =>
        val dir = scratchDir("zfs")
        val store = scheme + dir
        Zarr.writeLongDF(df, store, "v", Seq("row", "col"), grid7x11, Seq(4, 6),
          zarrFormat = fmt)
        Zarr.writeLongDF(patch, store, "v", Seq("row", "col"), grid7x11, Seq(4, 6),
          zarrFormat = fmt, region = true)
        // value bits: the patched chunk holds NaN fill, and NaN != NaN
        val bits = java.lang.Double.doubleToLongBits _
        (dir, Zarr.toLongDF(spark, store, "v").collect()
          .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)))).toSet,
          Zarr.readArray(spark, store, "v")._2.toSeq.map(bits))
      }
      assert(filesUnder(stores(0)._1) == filesUnder(stores(1)._1), s"v$fmt")
      assert(stores(0)._2.size == 77 && stores(0)._2 == stores(1)._2, s"v$fmt")
      assert(stores(0)._3 == stores(1)._3, s"v$fmt")
    }
  }

  test("a local store with Hadoop .crc sidecars reads after a region rewrite") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileSystem, Path}
    val store = scratchDir("zcrc")
    val df = (for (i <- 0 until 7; j <- 0 until 11)
      yield (i.toLong, j.toLong, i * 100.0 + j)).toDF("row", "col", "v")
    Zarr.writeLongDF(df, store, "v", Seq("row", "col"), grid7x11, Seq(4, 6))
    // rewrite every file through Hadoop's checksummed local filesystem, as
    // a store written by Hadoop's local create carries a sidecar per file
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    filesUnder(store).foreach { case (rel, bytes) =>
      val out = local.create(new Path(store, rel), true)
      try out.write(bytes.toArray) finally out.close()
    }
    val crc00 = Paths.get(store, "v", ".0.0.crc")
    assert(Files.exists(crc00) && Files.exists(Paths.get(store, "v", ".1.1.crc")))
    val patch = (for (i <- 0 until 4; j <- 0 until 6)
      yield (i.toLong, j.toLong, -1.0)).toDF("row", "col", "v")
    Zarr.writeLongDF(patch, store, "v", Seq("row", "col"), grid7x11, Seq(4, 6),
      region = true)
    // the rewritten chunk's sidecar is gone, so Hadoop readers still agree
    assert(!Files.exists(crc00))
    filesUnder(store).keys.filterNot(_.split('/').last.startsWith(".")).foreach { rel =>
      val in = local.open(new Path(store, rel)); try in.readAllBytes() finally in.close()
    }
    def check(): Unit = {
      val back = Zarr.toLongDF(spark, store, "v").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(back.size == 77)
      assert(back((3L, 5L)) == -1.0 && back((4L, 5L)) == 405.0 && back((3L, 6L)) == 306.0)
    }
    check()
    // a stale sidecar is never consulted by the local read
    Files.copy(Paths.get(store, "v", ".1.1.crc"), crc00)
    check()
  }
}
