package graft.io

import java.io.File
import java.nio.file.{Files, Paths}

import scala.io.Source

import graft.SparkSpec
import graft.io.HDF5.WVar
import graft.io.Zarr.ArrayMeta

/** The byte-codec table: a stored stream that fails to decode names the
  * variable and chunk it belongs to, a 64-bit integer Zarr fill stays
  * exact until it becomes a cell, and no other module of `src/main`
  * calls a compression library. */
class CodecTableSpec extends SparkSpec {

  /** Every message on `t`'s cause chain (a task's failure arrives wrapped). */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")

  test("a truncated Zarr zstd chunk names its array and chunk") {
    val store = scratchDir("ztrunc")
    Zarr.initStore(spark, store)
    val m = ArrayMeta(Seq(4, 6), Seq(2, 3), '<', 'f', 8, Some(("zstd", 3)),
      Double.NaN, ".", Seq("a", "b"), Map())
    Zarr.writeArray(spark, store, "temp", m, Array.tabulate(24)(i => i * 0.75))
    val chunk = Paths.get(store, "temp", "1.0")
    val bytes = Files.readAllBytes(chunk)
    Files.write(chunk, bytes.take(bytes.length / 2))
    val e = intercept[IllegalArgumentException](Zarr.readArray(spark, store, "temp"))
    assert(e.getMessage.contains("'temp'") && e.getMessage.contains("1.0"), e.getMessage)
    val e2 = intercept[Exception](Zarr.toLongDF(spark, store, "temp").collect())
    assert(messages(e2).contains("zarr array 'temp' chunk 1.0"), messages(e2))
  }

  test("an HDF5 zstd chunk cut short names its variable") {
    val path = s"${scratchDir("h5trunc")}/z.nc4"
    HDF5.writeNc4(path,
      Seq("x" -> Array.tabulate(6)(_.toDouble), "y" -> Array.tabulate(4)(_.toDouble)),
      Seq(WVar("precip", Seq(0, 1), Array.tabulate(24)(i => i * 7.0 - i % 4 * 0.5),
        chunk = Some(Seq(3, 4)), zstd = true)))
    val bytes = Files.readAllBytes(Paths.get(path))
    val ref = HDF5.chunkRefsOf(ArraySrc(bytes), HDF5.parseFile(bytes).byName("precip")).head
    // the frame's second half is gone: zeros where its last block was
    java.util.Arrays.fill(bytes, ref.addr.toInt + ref.stored / 2,
      ref.addr.toInt + ref.stored, 0.toByte)
    val e = intercept[Exception](HDF5.readVar(bytes, HDF5.parseFile(bytes), "precip"))
    assert(e.getMessage.contains("a chunk of precip"), e.getMessage)
  }

  test("lzf outside scale-offset decodes to the packed size, an upper bound") {
    val path = s"${scratchDir("h5solzf")}/s.nc4"
    val v = Array.tabulate(24)(i => (i * 37 % 200).toDouble)
    HDF5.writeNc4(path,
      Seq("x" -> Array.tabulate(6)(_.toDouble), "y" -> Array.tabulate(4)(_.toDouble)),
      Seq(WVar("n", Seq(0, 1), v, chunk = Some(Seq(3, 2)), integral = true,
        lzf = true, soScale = Some((2, 0)))))
    val bytes = Files.readAllBytes(Paths.get(path))
    assert(HDF5.parseFile(bytes).byName("n").filters.map(_._1) === Seq(6, 32000))
    assert(HDF5.readVar(bytes, HDF5.parseFile(bytes), "n").toSeq === v.toSeq)
  }

  /** A v2 `<u8` array of shape [4] in chunks of 2, every chunk present,
    * whose fill 2^53 + 1 has no exact double. */
  private def u8Store(): String = {
    val store = scratchDir("zfill8")
    Zarr.initStore(spark, store)
    Files.createDirectories(Paths.get(store, "big"))
    Files.write(Paths.get(store, "big", ".zarray"),
      ("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<u8",""" +
        """"compressor":null,"fill_value":9007199254740993,"order":"C",""" +
        """"filters":null}""").getBytes("UTF-8"))
    for (c <- 0 until 2)
      Files.write(Paths.get(store, "big", c.toString),
        Elem('u', 8, bigEndian = false, "big").encode(Array(2.0 * c + 1, 2.0 * c + 2)))
    store
  }

  test("a u8 fill beyond 2^53 opens while no cell takes it") {
    val (m, vals) = Zarr.readArray(spark, u8Store(), "big")
    assert(m.kind == 'u' && vals.toSeq == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("a u8 fill beyond 2^53 raises where an absent chunk makes it a cell") {
    val store = u8Store()
    Files.delete(Paths.get(store, "big", "1"))
    val e = intercept[ArithmeticException](Zarr.readArray(spark, store, "big"))
    assert(e.getMessage.contains("'big'") &&
      e.getMessage.contains("9007199254740993"), e.getMessage)
  }

  test("an int64 NaT fill (-2^63) in a v3 array reads until it is a cell") {
    val store = scratchDir("zfill3")
    Zarr.initStoreV3(spark, store)
    Files.createDirectories(Paths.get(store, "t", "c"))
    Files.write(Paths.get(store, "t", "zarr.json"),
      ("""{"zarr_format":3,"node_type":"array","shape":[2],"data_type":"int64",""" +
        """"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[1]}},""" +
        """"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
        """"fill_value":-9223372036854775808,""" +
        """"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],""" +
        """"dimension_names":["t"]}""").getBytes("UTF-8"))
    for (c <- 0 until 2)
      Files.write(Paths.get(store, "t", "c", c.toString),
        java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putLong(c + 10L).array())
    assert(Zarr.readArray(spark, store, "t")._2.toSeq == Seq(10.0, 11.0))
    Files.delete(Paths.get(store, "t", "c", "0"))
    val e = intercept[ArithmeticException](Zarr.readArray(spark, store, "t"))
    assert(e.getMessage.contains("-9223372036854775808"), e.getMessage)
  }

  /** Writes a 4-cell long frame as `v` with `compressor`; returns the
    * store path and what the write raised. */
  private def refusedWrite(compressor: (String, Int), zarrFormat: Int) = {
    val store = s"${scratchDir("zbadcomp")}/s.zarr"
    val df = spark.range(4).selectExpr("cast(id as double) as x",
      "cast(id * 1.5 as double) as v")
    val e = intercept[IllegalArgumentException](Zarr.writeLongDF(df, store, "v",
      Seq("x"), Seq(Array(0.0, 1.0, 2.0, 3.0)), Seq(2),
      compressor = Some(compressor), zarrFormat = zarrFormat))
    (store, e)
  }

  test("a Zarr write refuses an unknown blosc cname before any metadata") {
    val (store, e) = refusedWrite(("blosc:foo:1", 5), 2)
    assert(e.getMessage.contains("unsupported blosc cname 'foo'"), e.getMessage)
    assert(!Files.exists(Paths.get(store)), "a refused write left files")
    val arr = scratchDir("zbadarr")
    val m = ArrayMeta(Seq(4), Seq(2), '<', 'f', 8, Some(("blosc:foo:1", 5)),
      Double.NaN, ".", Seq("x"), Map())
    intercept[IllegalArgumentException](
      Zarr.writeArray(spark, arr, "v", m, Array(1.0, 2.0, 3.0, 4.0)))
    assert(!Files.exists(Paths.get(arr, "v")), "a refused write left files")
  }

  test("a v3 blosc shuffle beyond 2 is refused by name, not by index") {
    val (store, e) = refusedWrite(("blosc:lz4:3", 5), 3)
    assert(e.getMessage.contains("unsupported blosc shuffle mode 3"), e.getMessage)
    assert(!Files.exists(Paths.get(store)), "a refused write left files")
  }

  test("only the codec table calls a compression library") {
    def scalaFiles(dir: File): Seq[File] =
      Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val main = new File("src/main/scala")
    assert(main.isDirectory,
      s"run from the repository root, not ${new File(".").getAbsolutePath}")
    val lib = ("com\\.github\\.luben|net\\.jpountz|org\\.xerial\\.snappy|" +
      "\\b(Inflater|Deflater|GZIPInputStream|GZIPOutputStream)\\b").r.unanchored
    val hits = scalaFiles(main).flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (lib(_*), i) => s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }
    assert(hits.map(_.takeWhile(_ != ':')).distinct ===
      Seq("src/main/scala/graft/io/Codec.scala"), hits.mkString(", "))
  }
}
