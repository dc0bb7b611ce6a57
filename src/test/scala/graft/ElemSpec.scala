package graft.io

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.io.NetCDF.{Dim, NC_INT64, NC_UINT, NC_UINT64, Var}

/** The one element codec every array format calls: its bytes are the
  * bytes the format writers have always produced, and the 2^53 rule
  * holds in Zarr, HDF5, NetCDF and Npy alike. */
class ElemSpec extends SparkSpec {

  private val Max = 9007199254740992.0 // 2^53

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** Every message on `t`'s cause chain (a task's failure arrives wrapped). */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")

  private def raises(value: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    assert(messages(e).contains(s"64-bit integer $value exceeds"), messages(e))
  }

  test("golden bytes: every type and byte order encodes as the writers always did") {
    // (kind, size, value, little-endian bytes, big-endian bytes)
    val golden = Seq(
      ('f', 8, -2.5, "00000000000004c0", "c004000000000000"),
      ('f', 4, -2.5, "000020c0", "c0200000"),
      ('i', 8, -3.0, "fdffffffffffffff", "fffffffffffffffd"),
      ('u', 8, Max, "0000000000002000", "0020000000000000"),
      ('i', 4, -3.0, "fdffffff", "fffffffd"),
      ('u', 4, 3.0e9, "005ed0b2", "b2d05e00"),
      ('i', 2, -3.0, "fdff", "fffd"),
      ('u', 2, 60000.0, "60ea", "ea60"),
      ('i', 1, -3.0, "fd", "fd"),
      ('u', 1, 200.0, "c8", "c8"))
    for ((k, n, v, le, be) <- golden; (big, want) <- Seq(false -> le, true -> be)) {
      val e = Elem(k, n, big, "golden")
      val bytes = e.encode(Array(v))
      assert(hex(bytes) === want, s"$k$n big=$big")
      assert(e.decode(bytes, 0, 1, n).toSeq === Seq(v), s"$k$n big=$big")
    }
    // the narrowing casts stay: NaN stores 0, i4 saturates, u1/u2/u4 keep
    // the low bits, fractions truncate toward zero
    val narrowed = Seq(
      ('i', 8, Double.NaN, "0000000000000000"), ('i', 4, Double.NaN, "00000000"),
      ('u', 1, Double.NaN, "00"), ('i', 4, 3.0e9, "ffffff7f"),
      ('u', 4, -1.0, "ffffffff"), ('u', 2, 70000.0, "7011"),
      ('u', 1, 257.0, "01"), ('i', 2, -1.9, "ffff"))
    for ((k, n, v, want) <- narrowed)
      assert(hex(Elem(k, n, bigEndian = false, "narrow").encode(Array(v))) === want,
        s"$k$n $v")
  }

  test("decode is strided and refuses undecodable types by name") {
    val e = Elem('i', 2, bigEndian = true, "strided")
    // i2 values 1, 2, 3 interleaved with 2-byte gaps
    val b = Array[Byte](0, 1, 9, 9, 0, 2, 9, 9, 0, 3)
    val out = Array.fill(5)(-1.0)
    e.decode(b, 0, 3, 4, out, 1)
    assert(out.toSeq === Seq(-1.0, 1.0, 2.0, 3.0, -1.0))
    for ((k, n) <- Seq('f' -> 2, 'i' -> 16, 'c' -> 8)) {
      val ex = intercept[IllegalArgumentException](Elem(k, n, bigEndian = false, "arr x"))
      assert(ex.getMessage.contains(s"arr x: element type $k$n is not decodable"))
    }
  }

  test("2^53 rule: 64-bit integers read exactly to 2^53 and raise beyond") {
    def le(v: Long) = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    val i8 = Elem('i', 8, bigEndian = false, "i8")
    val u8 = Elem('u', 8, bigEndian = false, "u8")
    assert(i8.decode(le(1L << 53), 0, 1, 8).head === Max)
    assert(i8.decode(le(-(1L << 53)), 0, 1, 8).head === -Max)
    assert(u8.decode(le(1L << 53), 0, 1, 8).head === Max)
    raises("9007199254740993")(i8.decode(le((1L << 53) + 1), 0, 1, 8))
    raises("-9007199254740993")(i8.decode(le(-(1L << 53) - 1), 0, 1, 8))
    raises("9007199254740993")(u8.decode(le((1L << 53) + 1), 0, 1, 8))
    // the true unsigned value, not the signed bits
    raises("18446744073709551615")(u8.decode(le(-1L), 0, 1, 8))
    // netCDF's default int64 fill (-2^63 + 2)
    raises("-9223372036854775806")(i8.decode(le(Long.MinValue + 2), 0, 1, 8))
  }

  /** `file` with the 8 bytes `from` (which occur exactly once) replaced. */
  private def patch(file: String, from: String, to: String): Unit = {
    val b = Files.readAllBytes(Paths.get(file))
    val at = (0 to b.length - 8).filter(i => hex(b.slice(i, i + 8)) == from)
    assert(at.length === 1, s"$from occurs ${at.length} times in $file")
    val t = to.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    System.arraycopy(t, 0, b, at.head, 8)
    Files.write(Paths.get(file), b)
  }

  test("2^53 rule in Zarr <i8: 2^53 reads, 2^53+1 raises on the driver and in a task") {
    val store = scratchDir("elem_zarr")
    val m = Zarr.ArrayMeta(Seq(1), Seq(1), '<', 'i', 8, None, 0.0, ".",
      Seq("d"), Map())
    Zarr.writeArray(spark, store, "v", m, Array(Max))
    assert(Zarr.readArray(spark, store, "v")._2.toSeq === Seq(Max))
    assert(Zarr.toLongDF(spark, store, "v").collect().map(_.getLong(1)).toSeq ===
      Seq(1L << 53))
    patch(s"$store/v/0", "0000000000002000", "0100000000002000")
    raises("9007199254740993")(Zarr.readArray(spark, store, "v"))
    raises("9007199254740993")(Zarr.toLongDF(spark, store, "v").collect())
  }

  test("2^53 rule in Npy <i8") {
    val b = Npy.write(Seq(1), Array(Max), integral = true)
    assert(Npy.read(b)._2.toSeq === Seq(Max))
    b(b.length - 8) = 1
    raises("9007199254740993")(Npy.read(b))
  }

  test("2^53 rule in NetCDF NC_INT64 and NC_UINT64 (read unsigned)") {
    val dir = scratchDir("elem_nc")
    val path = s"$dir/v.nc"
    NetCDF.write(path, Seq(Dim("a", 1)), Seq(
      Var("s", Seq(0), NC_INT64, Array(Max)),
      Var("u", Seq(0), NC_UINT64, Array(Max))), version = 5)
    def read(v: String) = {
      val b = Files.readAllBytes(Paths.get(path))
      NetCDF.readVar(b, NetCDF.parseHeader(b), v)
    }
    assert(read("s").toSeq === Seq(Max) && read("u").toSeq === Seq(Max))
    assert(NetCDF.toLongDF(spark, dir, "s").collect().map(_.getLong(1)).toSeq ===
      Seq(1L << 53))
    // s's bytes precede u's: patch s to 2^53+1, then u to 2^64-1
    val b = Files.readAllBytes(Paths.get(path))
    b(b.length - 9) = 1
    b.indices.takeRight(8).foreach(i => b(i) = -1)
    Files.write(Paths.get(path), b)
    raises("9007199254740993")(read("s"))
    raises("18446744073709551615")(read("u"))
    raises("9007199254740993")(NetCDF.toLongDF(spark, dir, "s").collect())
    raises("18446744073709551615")(NetCDF.toLongDF(spark, dir, "u").collect())
  }

  test("2^53 rule in HDF5 int64: the guard checks the integer, not its rounded double") {
    val dir = scratchDir("elem_h5")
    val path = s"$dir/v.h5"
    HDF5.writeNc4(path, Seq("x" -> Array(0.0)),
      Seq(HDF5.WVar("v", Seq(0), Array(Max), integral = true)))
    def read() = {
      val b = Files.readAllBytes(Paths.get(path))
      HDF5.readVar(b, HDF5.parseFile(b), "v")
    }
    assert(read().toSeq === Seq(Max))
    patch(path, "0000000000002000", "0100000000002000")
    raises("9007199254740993")(read())
    raises("9007199254740993")(HDF5.toLongDF(spark, dir, "v").collect())
  }

  test("NetCDF NC_UINT round-trips values past 2^31 exactly") {
    val dir = scratchDir("elem_uint")
    val path = s"$dir/u.nc"
    val vals = Array(0.0, 2147483648.0, 4294967295.0)
    NetCDF.write(path, Seq(Dim("a", 3)), Seq(Var("u", Seq(0), NC_UINT, vals)),
      version = 5)
    val b = Files.readAllBytes(Paths.get(path))
    assert(NetCDF.readVar(b, NetCDF.parseHeader(b), "u").toSeq === vals.toSeq)
    assert(NetCDF.toLongDF(spark, dir, "u").collect().map(_.getLong(1)).sorted
      .toSeq === vals.map(_.toLong).toSeq)
  }

  test("Zarr <i8 edge padding beyond 2^53 is never decoded (C and F order)") {
    def le(vs: Long*) = {
      val b = java.nio.ByteBuffer.allocate(8 * vs.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vs.foreach(b.putLong); b.array()
    }
    val big = (1L << 53) + 1
    for (order <- Seq(None, Some(Seq(1, 0)))) {
      val store = scratchDir("elem_zpad")
      val m = Zarr.ArrayMeta(Seq(3, 3), Seq(2, 2), '<', 'i', 8, None, 0.0, ".",
        Seq("r", "c"), Map(), tperm = order)
      Zarr.writeArray(spark, store, "v", m, Array.tabulate(9)(_.toDouble))
      // corner chunk (1, 1): cell (2, 2) in shape, stored first in either
      // order; its three padding cells hold 2^53+1
      Files.write(Paths.get(store, "v", "1.1"), le(8L, big, big, big))
      assert(Zarr.readArray(spark, store, "v")._2.toSeq === (0 until 9).map(_.toDouble))
      assert(Zarr.toLongDF(spark, store, "v").collect().map(_.getLong(2)).sorted
        .toSeq === (0L until 9L), s"tperm $order")
    }
  }

  test("a CDF-5 int64 attribute beyond 2^53 (netCDF's default fill) rounds; the file opens") {
    val dir = scratchDir("elem_ncatt")
    val path = s"$dir/v.nc"
    // 72 KB of doubles: the header parse starts from a shorter prefix
    NetCDF.write(path, Seq(Dim("a", 3), Dim("b", 9000)), Seq(
      Var("s", Seq(0), NC_INT64, Array(1.0, 2.0, 3.0),
        Seq(NetCDF.Att("_FillValue", NC_INT64, nums = Array(Long.MinValue.toDouble)))),
      Var("big", Seq(1), NetCDF.NC_DOUBLE, Array.tabulate(9000)(_ + 0.5))), version = 5)
    patch(path, "8000000000000000", "8000000000000002") // -2^63 + 2
    val h = NetCDF.parseHeaderFile(path)
    assert(h.vars.head.atts.head.nums.toSeq === Seq(Long.MinValue.toDouble))
    assert(NetCDF.toLongDF(spark, dir, "s").collect().map(_.getLong(1)).sorted
      .toSeq === Seq(1L, 2L, 3L))
    // a truncated data section is a named refusal, not a buffer error
    val b = Files.readAllBytes(Paths.get(path))
    val cut = b.take(b.length - 8)
    val e = intercept[IllegalArgumentException](
      NetCDF.readVar(cut, NetCDF.parseHeader(cut), "big"))
    assert(e.getMessage.contains("variable data beyond file end"))
  }

  test("Zarr v2 refuses an undecodable dtype when the metadata is read, naming the array") {
    val store = scratchDir("elem_zdt")
    for (dt <- Seq("<f2", "<i16")) {
      Files.createDirectories(Paths.get(store, "h"))
      Files.write(Paths.get(store, "h", ".zarray"),
        (s"""{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"$dt",""" +
          """"compressor":null,"fill_value":0,"order":"C","filters":null}""")
          .getBytes("UTF-8"))
      for (open <- Seq(() => Zarr.openMeta(spark, store, "h"),
                       () => Zarr.toLongDF(spark, store, "h"))) {
        val e = intercept[IllegalArgumentException](open())
        assert(e.getMessage.contains(s"zarr array 'h': dtype '$dt'"), e.getMessage)
      }
    }
  }
}
