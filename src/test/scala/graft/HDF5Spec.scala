package graft

import java.nio.file.Files
import graft.io.HDF5
import graft.io.HDF5.WVar

/** HDF5/netCDF-4 subset: writer->reader roundtrips exercising every
  * reader path (superblock v0, v1 group btree+SNOD+heap, contiguous and
  * chunked+deflate layouts with EDGE chunks, f32/f64/int64 datatypes,
  * dimension scales and DIMENSION_LIST via the global heap). Spec
  * structures from the public HDF5 File Format Specification v2/3. */
class HDF5Spec extends SparkSpec {

  private def fixture(path: String): Unit = {
    val time = Array.tabulate(6)(_.toDouble)       // int64 coord
    val lat = Array.tabulate(5)(i => i * 0.5)      // f64 coord
    val temp = (for (t <- 0 until 6; l <- 0 until 5)
      yield t * 100.0 + l * 1.5).toArray
    val press = (for (t <- 0 until 6; l <- 0 until 5)
      yield (t + l * 10).toFloat.toDouble).toArray
    HDF5.writeNc4(path,
      Seq("time" -> time, "lat" -> lat),
      Seq(
        // chunk 4x2 does NOT divide 6x5 -> edge chunks on both axes
        WVar("temp", Seq(0, 1), temp, chunk = Some(Seq(4, 2))),
        WVar("press", Seq(0, 1), press, f32 = true)))
  }

  test("netCDF-4 roundtrip: dims, DIMENSION_LIST, chunked+deflate data") {
    val dir = scratchDir("graft_h5")
    val path = s"$dir/part0.nc4"
    fixture(path)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    assert(f.datasets.map(_.name).sorted === Seq("lat", "press", "temp", "time"))
    assert(f.dims.toMap === Map("time" -> 6L, "lat" -> 5L))
    val temp = f.byName("temp")
    assert(f.varDims(temp) === Seq("time", "lat"))
    assert(temp.deflate && temp.shape === Seq(6L, 5L))
    val got = HDF5.readVar(bytes, f, "temp")
    assert(got.toSeq === (for (t <- 0 until 6; l <- 0 until 5)
      yield t * 100.0 + l * 1.5))
    // f32 contiguous decodes through the float-32 path
    val press = HDF5.readVar(bytes, f, "press")
    assert(press.toSeq === (for (t <- 0 until 6; l <- 0 until 5)
      yield (t + l * 10).toFloat.toDouble))
    // int64 dimension scale reads back exact
    assert(HDF5.readVar(bytes, f, "time").toSeq ===
      Seq(0.0, 1.0, 2.0, 3.0, 4.0, 5.0))
  }

  test("UTF-8 variable names survive the v1 group walk (heap decode)") {
    // 'température' is 12 chars / 14 UTF-8 bytes; Byte.toChar would
    // sign-extend 0xC3/0xA9 into mojibake and break byName
    val dir = scratchDir("graft_h5utf")
    val path = s"$dir/part0.nc4"
    HDF5.writeNc4(path,
      Seq("x" -> Array.tabulate(3)(_.toDouble)),
      Seq(WVar("température", Seq(0),
        Array(1.5, 2.5, 3.5))))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    assert(f.datasets.map(_.name).contains("température"))
    assert(HDF5.readVar(bytes, f, "température").toSeq ===
      Seq(1.5, 2.5, 3.5))
  }

  test("fletcher32 filter: checksum roundtrip, verified on read, flip detection") {
    val dir = scratchDir("graft_h5fl")
    val path = s"$dir/fl.nc4"
    val x = Array.tabulate(7)(_.toDouble)
    val v = (for (i <- 0 until 7; j <- 0 until 3)
      yield i * 10.0 + j).toArray
    HDF5.writeNc4(path,
      Seq("x" -> x, "y" -> Array.tabulate(3)(_.toDouble)),
      Seq(
        // fletcher alone, and fletcher under the full shuffle+deflate
        // pipeline (apply order fletcher -> shuffle -> deflate)
        WVar("v", Seq(0, 1), v, chunk = Some(Seq(4, 2)), fletcher = true),
        WVar("vs", Seq(0, 1), v, chunk = Some(Seq(4, 2)), shuffle = true,
          fletcher = true)))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    assert(f.byName("v").fletcher32 && f.byName("vs").fletcher32)
    assert(HDF5.readVar(bytes, f, "v").toSeq === v.toSeq)
    assert(HDF5.readVar(bytes, f, "vs").toSeq === v.toSeq)
    // algorithm pins: flipping any byte changes the sum; odd tail = high
    // byte of a final word (HDF5 H5_checksum_fletcher32 contract)
    val buf = Array.tabulate(1001)(i => (i * 37 + 11).toByte)
    val base = HDF5.fletcherSum(buf, buf.length)
    Seq(0, 1, 500, 999, 1000).foreach { k =>
      val mut = buf.clone(); mut(k) = (mut(k) ^ 0x40).toByte
      assert(HDF5.fletcherSum(mut, mut.length) != base, s"flip at $k undetected")
    }
    // deterministic spot value: sum of a single big-endian word
    assert(HDF5.fletcherSum(Array[Byte](0x01, 0x02), 2) ==
      ((0x0102 << 16) | 0x0102))
    // single odd byte acts as the high byte of a word
    assert(HDF5.fletcherSum(Array[Byte](0x01), 1) ==
      ((0x0100 << 16) | 0x0100))
    // one's-complement fold boundary: 0x8000 + 0x7FFF = 0xFFFF must STAY
    // 0xFFFF (a mod-65535 reduction would collapse it to 0 and reject
    // valid HDF5-written files); sum2 = 0x8000 + 0xFFFF folds to 0x8000
    assert(HDF5.fletcherSum(
      Array[Byte](0x80.toByte, 0x00, 0x7F, 0xFF.toByte), 4) == 0x8000FFFF)
    // f32 + shuffle + fletcher: the 4-byte checksum occupies a FULL
    // element slot in the shuffle (es=4), unlike the unshuffled 4-byte
    // tail of the f64 case — both boundary treatments must roundtrip
    val dir2 = scratchDir("graft_h5fl32")
    val p32 = s"$dir2/fl32.nc4"
    val v32 = (for (i <- 0 until 5; j <- 0 until 4)
      yield (i * 2.5 + j).toFloat.toDouble).toArray
    HDF5.writeNc4(p32,
      Seq("a" -> Array.tabulate(5)(_.toDouble),
        "b" -> Array.tabulate(4)(_.toDouble)),
      Seq(WVar("vf", Seq(0, 1), v32, chunk = Some(Seq(3, 2)), f32 = true,
        shuffle = true, fletcher = true)))
    val b32 = Files.readAllBytes(java.nio.file.Paths.get(p32))
    val f32 = HDF5.parseFile(b32)
    assert(HDF5.readVar(b32, f32, "vf").toSeq === v32.toSeq)
  }

  test("h5py-style OUTER fletcher32: checksum at its declared pipeline position") {
    // h5py's set_fletcher32 after shuffle/deflate declares the checksum
    // LAST — it covers the compressed bytes, so the reader must verify
    // and strip it BEFORE inflating (the declared order, not a hardcoded
    // innermost assumption)
    val dir = scratchDir("graft_h5flo")
    val path = s"$dir/flo.nc4"
    val v = (for (i <- 0 until 7; j <- 0 until 3)
      yield i * 10.0 + j).toArray
    HDF5.writeNc4(path,
      Seq("x" -> Array.tabulate(7)(_.toDouble),
        "y" -> Array.tabulate(3)(_.toDouble)),
      Seq(
        WVar("vo", Seq(0, 1), v, chunk = Some(Seq(4, 2)),
          fletcher = true, fletcherOuter = true),
        WVar("vso", Seq(0, 1), v, chunk = Some(Seq(4, 2)), shuffle = true,
          fletcher = true, fletcherOuter = true)))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    // declared order is recorded, not collapsed to booleans
    assert(f.byName("vo").filters.map(_._1) === Seq(1, 3))
    assert(f.byName("vso").filters.map(_._1) === Seq(2, 1, 3))
    assert(HDF5.readVar(bytes, f, "vo").toSeq === v.toSeq)
    assert(HDF5.readVar(bytes, f, "vso").toSeq === v.toSeq)
  }

  test("szip roundtrip: chunked f32 variable through the CCSDS Rice codec") {
    val dir = scratchDir("graft_h5sz")
    val path = s"$dir/sz.nc4"
    val x = Array.tabulate(9)(_.toDouble)
    val v = (for (i <- 0 until 9; j <- 0 until 4)
      yield (i * 2.5f + j * 0.25f).toDouble).toArray
    HDF5.writeNc4(path,
      Seq("x" -> x, "y" -> Array.tabulate(4)(_.toDouble)),
      Seq(
        // edge chunks + szip, alone and stacked under an outer checksum
        WVar("plain", Seq(0, 1), v, chunk = Some(Seq(4, 3)), f32 = true,
          szip = true),
        WVar("checked", Seq(0, 1), v, chunk = Some(Seq(4, 3)), f32 = true,
          szip = true, fletcher = true, fletcherOuter = true)))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    val meta = f.byName("plain")
    assert(meta.filters.map(_._1) === Seq(4))
    assert(meta.filters.head._2.take(2) === Seq(
      graft.io.Szip.RawMask | graft.io.Szip.NnMask | graft.io.Szip.LsbMask,
      32))
    val want = v.map(d => d.toFloat.toDouble).toSeq
    assert(HDF5.readVar(bytes, f, "plain").toSeq === want)
    assert(f.byName("checked").filters.map(_._1) === Seq(4, 3))
    assert(HDF5.readVar(bytes, f, "checked").toSeq === want)
  }

  test("lzf roundtrip: chunked f64 variable through the h5py-format codec") {
    val dir = scratchDir("graft_h5lzf")
    val path = s"$dir/lzf.nc4"
    val x = Array.tabulate(7)(_.toDouble)
    val v = (for (i <- 0 until 7; j <- 0 until 5)
      yield i * 3.0 + j * 0.125).toArray
    HDF5.writeNc4(path,
      Seq("x" -> x, "y" -> Array.tabulate(5)(_.toDouble)),
      Seq(
        WVar("plain", Seq(0, 1), v, chunk = Some(Seq(3, 2)), lzf = true),
        // h5py's usual stack: shuffle under lzf
        WVar("shuffled", Seq(0, 1), v, chunk = Some(Seq(3, 2)), lzf = true,
          shuffle = true)))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    assert(f.byName("plain").filters.map(_._1) === Seq(32000))
    assert(f.byName("shuffled").filters.map(_._1) === Seq(2, 32000))
    assert(HDF5.readVar(bytes, f, "plain").toSeq === v.toSeq)
    assert(HDF5.readVar(bytes, f, "shuffled").toSeq === v.toSeq)
  }

  test("zstd filter roundtrip (id 32015, the netCDF-C 4.9+ encoding)") {
    val dir = scratchDir("graft_h5zst")
    val path = s"$dir/z.nc4"
    val x = Array.tabulate(6)(_.toDouble)
    val v = (for (i <- 0 until 6; j <- 0 until 4)
      yield i * 7.0 - j * 0.5).toArray
    HDF5.writeNc4(path,
      Seq("x" -> x, "y" -> Array.tabulate(4)(_.toDouble)),
      Seq(WVar("zv", Seq(0, 1), v, chunk = Some(Seq(4, 3)), zstd = true)))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    assert(f.byName("zv").filters.map(_._1) === Seq(32015))
    assert(HDF5.readVar(bytes, f, "zv").toSeq === v.toSeq)
  }

  test("unsupported szip parameters fail with actionable re-encode guidance") {
    import graft.io.HDF5.{Contiguous, DType, DatasetMetaH5, H5File}
    // 64-bit samples are outside szip's range; the reader must name the
    // parameters and point at the re-encode path, per-variable
    val d = DatasetMetaH5("v", 0L, Seq(1L),
      DType(0, 8, littleEndian = true, signed = true), Contiguous(0L, 8L),
      Nil, filters = Seq(4 -> Seq(137, 64, 32, 128)))
    val f = H5File(Seq(d))
    val e = intercept[IllegalArgumentException](
      HDF5.readVar(Array.empty[Byte], f, "v"))
    assert(e.getMessage.contains("szip") && e.getMessage.contains("h5repack"))
  }

  test("distributed toLongDF matches the in-memory decode") {
    val dir = scratchDir("graft_h5df")
    fixture(s"$dir/part0.nc4")
    val df = HDF5.toLongDF(spark, dir, "temp")
    assert(df.columns.toSeq === Seq("time", "lat", "temp"))
    assert(df.count() === 30)
    val row = df.filter(org.apache.spark.sql.functions.col("time") === 3L)
      .filter(org.apache.spark.sql.functions.col("lat") === 1.0)
      .head()
    assert(row.getDouble(2) === 3 * 100.0 + 2 * 1.5)
  }

  test("deflate: a valid zlib stream shorter than its chunk raises") {
    val dir = scratchDir("graft_h5short")
    val path = java.nio.file.Paths.get(s"$dir/part0.nc4")
    HDF5.writeNc4(path.toString,
      Seq("x" -> Array.tabulate(6)(_.toDouble),
        "y" -> Array.tabulate(4)(_.toDouble)),
      Seq(WVar("v", Seq(0, 1), Array.tabulate(24)(_ * 1.25),
        chunk = Some(Seq(3, 4)))))
    val bytes = Files.readAllBytes(path)
    val ref = HDF5.chunkRefsOf(bytes, HDF5.parseFile(bytes).byName("v")).head
    // a complete stream of 8 zero bytes, written over the start of a
    // 96-byte chunk's stored bytes: it ends long before the chunk does
    val d = new java.util.zip.Deflater(9)
    d.setInput(new Array[Byte](8)); d.finish()
    val short = new Array[Byte](64)
    val n = d.deflate(short); d.end()
    assert(n < ref.stored)
    System.arraycopy(short, 0, bytes, ref.addr.toInt, n)
    val e = intercept[IllegalArgumentException](
      HDF5.readVar(bytes, HDF5.parseFile(bytes), "v"))
    assert(e.getMessage.contains("decoded 8 of 96 bytes"))
    Files.write(path, bytes)
    val e2 = intercept[Exception](HDF5.toLongDF(spark, dir, "v").collect())
    assert(e2.getMessage.contains("decoded 8 of 96 bytes"))
  }

  test("fixed-length string dataset reads back as strings (class 3)") {
    val dir = scratchDir("graft_h5s")
    val path = s"$dir/names.h5"
    val names = Seq("OSLO", "NAIROBI", "LA PAZ", "") // padding + empty
    HDF5.writeStringFixture(path, "station", names, strlen = 8)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    val d = f.byName("station")
    assert(d.dtype.clazz === 3 && d.dtype.size === 8)
    assert(d.shape === Seq(4L))
    assert(HDF5.readStringVar(bytes, f, "station").toSeq === names)
    // numeric read of a string dataset refuses with the member hint absent
    intercept[RuntimeException] { HDF5.readVar(bytes, f, "station") }
  }
}
