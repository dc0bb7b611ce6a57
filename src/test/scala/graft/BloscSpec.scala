package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import graft.io.{Blosc, Zarr}
import graft.io.Zarr.ArrayMeta

/** c-blosc v1 frame codec (zarr-python's default compressor): format pins
  * against hand-assembled frames (independent of the writer), writer ->
  * reader roundtrips across every inner codec and shuffle mode, and the
  * zarr v2/v3 store integration. Format: c-blosc README_HEADER.rst. */
class BloscSpec extends SparkSpec {

  private def f64(xs: Seq[Double]): Array[Byte] = {
    val b = ByteBuffer.allocate(xs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    xs.foreach(b.putDouble)
    b.array()
  }

  test("decodes a hand-assembled zlib frame (no shuffle, leftover block)") {
    // 20 bytes, blocksize 16 -> blocks of 16 and 4; single stream each;
    // frame assembled HERE from the published layout, not by Blosc.compress
    val plain = Array.tabulate(20)(i => (i * 7 + 3).toByte)
    def zlib(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(6)
      d.setInput(b); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    val s0 = zlib(plain.take(16))
    val s1 = zlib(plain.drop(16))
    val bodyBase = 16 + 2 * 4 // header + two bstarts
    val cbytes = bodyBase + (4 + s0.length) + (4 + s1.length)
    val out = ByteBuffer.allocate(cbytes).order(ByteOrder.LITTLE_ENDIAN)
    out.put(2.toByte).put(1.toByte)
      .put((0x10 | (3 << 5)).toByte) // dont-split | zlib
      .put(1.toByte)                 // typesize
      .putInt(20).putInt(16).putInt(cbytes)
    out.putInt(bodyBase)                     // bstart[0]
    out.putInt(bodyBase + 4 + s0.length)     // bstart[1]
    out.putInt(s0.length); out.put(s0)
    out.putInt(s1.length); out.put(s1)
    assert(Blosc.decompress(out.array(), 20).toSeq === plain.toSeq)
  }

  test("decodes a hand-assembled SPLIT lz4 frame with byte-shuffle") {
    // 6 doubles, one block, typesize 8 -> 8 streams of 6 bytes each after
    // shuffle; stream 2 stored RAW (clen == neblock) to pin that marker
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    val plain = f64(vals)
    val shuffled = {
      val outB = new Array[Byte](48)
      for (b <- 0 until 8; r <- 0 until 6) outB(b * 6 + r) = plain(r * 8 + b)
      outB
    }
    val c = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val streams = (0 until 8).map { s =>
      if (s == 2) (6, java.util.Arrays.copyOfRange(shuffled, 12, 18))
      else {
        val buf = new Array[Byte](c.maxCompressedLength(6))
        val n = c.compress(shuffled, s * 6, 6, buf, 0, buf.length)
        if (n >= 6) (6, java.util.Arrays.copyOfRange(shuffled, s * 6, s * 6 + 6))
        else (n, java.util.Arrays.copyOf(buf, n))
      }
    }
    val bodyBase = 16 + 4 // one block
    val cbytes = bodyBase + streams.map(4 + _._1).sum
    val out = ByteBuffer.allocate(cbytes).order(ByteOrder.LITTLE_ENDIAN)
    out.put(2.toByte).put(1.toByte)
      .put((0x01 | (1 << 5)).toByte) // byte-shuffle | lz4, split (bit4=0)
      .put(8.toByte)
      .putInt(48).putInt(48).putInt(cbytes)
    out.putInt(bodyBase)
    streams.foreach { case (n, bs) => out.putInt(n); out.put(bs) }
    val got = ByteBuffer.wrap(Blosc.decompress(out.array(), 48))
      .order(ByteOrder.LITTLE_ENDIAN)
    assert((0 until 6).map(_ => got.getDouble()) === vals)
  }

  test("memcpy'ed frame is a verbatim copy") {
    val plain = Array.tabulate(24)(i => (i * 31).toByte)
    val out = ByteBuffer.allocate(16 + 24).order(ByteOrder.LITTLE_ENDIAN)
    out.put(2.toByte).put(1.toByte).put((0x02 | (1 << 5)).toByte).put(8.toByte)
      .putInt(24).putInt(24).putInt(40).put(plain)
    assert(Blosc.decompress(out.array(), 24).toSeq === plain.toSeq)
  }

  test("compress -> decompress roundtrips every codec x shuffle x size") {
    // compressible (repetitive) data across block boundaries + leftover
    for {
      cname <- Seq("lz4", "lz4hc", "zlib", "zstd", "snappy")
      shuffle <- Seq(0, 1, 2)
      n <- Seq(1, 6, 1000, 4099) // 4099*8 spans blocksize 16384 with leftover
    } {
      val plain = f64(Seq.tabulate(n)(i => (i % 17) * 0.25 - 2))
      val frame = Blosc.compress(plain, 8, cname, 5, shuffle,
        blocksizeReq = 16384)
      val back = Blosc.decompress(frame, plain.length)
      assert(back.toSeq === plain.toSeq, s"$cname shuffle=$shuffle n=$n")
      // repetitive doubles must actually compress (guards against a
      // writer that silently falls back to memcpy everywhere)
      if (n >= 1000) assert(frame.length < plain.length / 2,
        s"$cname shuffle=$shuffle n=$n did not compress")
    }
  }

  test("shuffle with a non-multiple-of-typesize tail copies the leftover verbatim (c-blosc)") {
    // nbytes % typesize != 0 never comes from zarr-python, but c-blosc's
    // shuffle copies the leftover bytes through unchanged — roundtrip a
    // 21-byte payload at typesize 8 (5-byte tail) through every codec
    val plain = Array.tabulate(21)(i => (i * 7 + 3).toByte)
    for (cname <- Seq("zlib", "lz4", "zstd")) {
      val frame = Blosc.compress(plain, 8, cname, 5, 1)
      assert(Blosc.decompress(frame, plain.length).toSeq === plain.toSeq,
        s"codec $cname")
    }
  }

  test("incompressible data falls back to the memcpy frame") {
    val rnd = new scala.util.Random(42)
    val plain = Array.fill[Byte](512)(rnd.nextInt().toByte)
    val frame = Blosc.compress(plain, 8, "lz4", 5, 1)
    assert(frame.length === 16 + 512)     // header + verbatim payload
    assert((frame(2) & 0x02) !== 0)       // memcpy flag
    assert(Blosc.decompress(frame, 512).toSeq === plain.toSeq)
  }

  test("rejects blosclz and wrong sizes with clear errors") {
    val plain = f64(Seq.fill(64)(1.5)) // compressible -> a real framed body
    val ok = Blosc.compress(plain, 8, "lz4", 5, 1)
    assert((ok(2) & 0x02) === 0, "fixture unexpectedly memcpy'ed")
    val blosclz = ok.clone(); blosclz(2) = (blosclz(2) & 0x1f).toByte
    // blosclz only errors when a compressed stream must be decoded
    val e = intercept[Exception](Blosc.decompress(blosclz, plain.length))
    assert(e.getMessage.contains("blosclz") || e.getMessage.contains("lz4"))
    assert(intercept[Exception](Blosc.decompress(ok, plain.length + 8))
      .getMessage.contains("expects"))
    assert(intercept[Exception](Blosc.compress(plain, 8, "blosclz", 5, 1))
      .getMessage.contains("cname"))
    assert(intercept[Exception](Blosc.compress(plain, 8, "lz4", 5, 3))
      .getMessage.contains("shuffle"))
  }

  test("exactSize=false takes the frame's nbytes as authoritative") {
    // the scale-offset-inner case: the caller only knows an UPPER BOUND
    // on the decoded size (packed size is chunk-dependent), so the
    // frame's own nbytes header must drive the output length
    val plain = f64(Seq.tabulate(64)(_ * 0.25))
    val ok = Blosc.compress(plain, 8, "lz4", 5, 1)
    val out = Blosc.decompress(ok, plain.length + 21, exactSize = false)
    assert(out.toSeq === plain.toSeq)
    // but a frame LARGER than the declared bound still fails loudly
    assert(intercept[Exception](
      Blosc.decompress(ok, plain.length - 8, exactSize = false))
      .getMessage.contains("at most"))
  }

  test("decodes a hand-assembled BITSHUFFLE frame (LSB-first bit rows)") {
    // 8 u16 elements, element e = 1 << e (all bits in byte 0): bit-row b
    // of byte 0 is set exactly in element b, so the transposed block is
    // the identity matrix over the first 8 rows and zeros for byte 1 —
    // hand-written here, NOT produced by the Scala kernel
    val plain = {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      (0 until 8).foreach(e => b.putShort((1 << e).toShort))
      b.array()
    }
    val shuffled =
      (0 until 8).map(b => (1 << b).toByte).toArray ++ Array.fill(8)(0.toByte)
    def zlib(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(6)
      d.setInput(b); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    val s0 = zlib(shuffled)
    val bodyBase = 16 + 4
    val cbytes = bodyBase + 4 + s0.length
    val out = ByteBuffer.allocate(cbytes).order(ByteOrder.LITTLE_ENDIAN)
    out.put(2.toByte).put(1.toByte)
      .put((0x04 | 0x10 | (3 << 5)).toByte) // bitshuffle | dont-split | zlib
      .put(2.toByte)
      .putInt(16).putInt(16).putInt(cbytes)
    out.putInt(bodyBase)
    out.putInt(s0.length); out.put(s0)
    assert(Blosc.decompress(out.array(), 16).toSeq === plain.toSeq)
  }

  test("bitshuffle leftover: elements past the 8-element groups and the " +
    "sub-typesize tail pass through verbatim") {
    // 11 elements x 4 bytes + 3 tail bytes: only the first 8 elements are
    // bit-transposed; elements 8-10 and the tail copy through
    val plain = Array.tabulate(11 * 4 + 3)(i => (i * 13 + 1).toByte)
    for (cname <- Seq("zlib", "lz4", "zstd")) {
      val frame = Blosc.compress(plain, 4, cname, 5, 2)
      assert(Blosc.decompress(frame, plain.length).toSeq === plain.toSeq,
        s"codec $cname")
    }
  }

  test("decodes a no-shuffle SPLIT v2 frame (c-blosc splits lz4 frames " +
    "regardless of shuffle mode)") {
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    val plain = f64(vals)
    val c = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val streams = (0 until 8).map { s =>
      val buf = new Array[Byte](c.maxCompressedLength(6))
      val n = c.compress(plain, s * 6, 6, buf, 0, buf.length)
      if (n >= 6) (6, java.util.Arrays.copyOfRange(plain, s * 6, s * 6 + 6))
      else (n, java.util.Arrays.copyOf(buf, n))
    }
    val bodyBase = 16 + 4
    val cbytes = bodyBase + streams.map(4 + _._1).sum
    val out = ByteBuffer.allocate(cbytes).order(ByteOrder.LITTLE_ENDIAN)
    out.put(2.toByte).put(1.toByte)
      .put((1 << 5).toByte) // lz4, NO shuffle, split (dont-split clear)
      .put(8.toByte)
      .putInt(48).putInt(48).putInt(cbytes)
    out.putInt(bodyBase)
    streams.foreach { case (n, bs) => out.putInt(n); out.put(bs) }
    val got = ByteBuffer.wrap(Blosc.decompress(out.array(), 48))
      .order(ByteOrder.LITTLE_ENDIAN)
    assert((0 until 6).map(_ => got.getDouble()) === vals)
  }

  test("a VERSION-1 no-shuffle frame is single-stream (the don't-split " +
    "bit postdates v1; infer by the era's shuffle-only split policy)") {
    val plain = Array.tabulate(48)(i => (i * 7 + 3).toByte)
    def zlib(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(6)
      d.setInput(b); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    val s0 = zlib(plain)
    val bodyBase = 16 + 4
    val cbytes = bodyBase + 4 + s0.length
    val out = ByteBuffer.allocate(cbytes).order(ByteOrder.LITTLE_ENDIAN)
    out.put(1.toByte).put(1.toByte) // format VERSION 1
      .put((3 << 5).toByte)         // zlib, no shuffle, no dont-split bit
      .put(8.toByte)                // typesize 8 would split if v2 policy
      .putInt(48).putInt(48).putInt(cbytes)
    out.putInt(bodyBase)
    out.putInt(s0.length); out.put(s0)
    assert(Blosc.decompress(out.array(), 48).toSeq === plain.toSeq)
  }

  test("zarr v2 store roundtrip with the numcodecs-default blosc-lz4+shuffle") {
    import spark.implicits._
    val store = scratchDir("zblosc")
    val df = (for (i <- 0 until 5; j <- 0 until 7)
      yield (i.toLong, j.toLong, i * 100.0 + j)).toSeq.toDF("row", "col", "v")
    Zarr.writeLongDF(df, store, "v", Seq("row", "col"),
      Seq(Array.tabulate(5)(_.toDouble), Array.tabulate(7)(_.toDouble)),
      chunks = Seq(2, 3), compressor = Some(("blosc:lz4:1", 5)))
    // .zarray declares the numcodecs-shaped blosc config
    val za = new String(Files.readAllBytes(
      Paths.get(store, "v", ".zarray")), "UTF-8")
    assert(za.contains("\"id\":\"blosc\"") && za.contains("\"cname\":\"lz4\"")
      && za.contains("\"shuffle\":1"))
    // chunk files are real blosc frames (version byte 2, lz4 code)
    val chunk = Files.readAllBytes(Paths.get(store, "v", "0.0"))
    assert(chunk(0) === 2.toByte && ((chunk(2) >> 5) & 0x7) === 1)
    val back = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back === df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("zarr v3 store roundtrip with a blosc codec entry") {
    import spark.implicits._
    val store = scratchDir("zblosc3")
    val df = (for (i <- 0 until 4; j <- 0 until 5)
      yield (i.toLong, j.toLong, i * 10.0 + j)).toSeq.toDF("row", "col", "v")
    Zarr.writeLongDF(df, store, "v", Seq("row", "col"),
      Seq(Array.tabulate(4)(_.toDouble), Array.tabulate(5)(_.toDouble)),
      chunks = Seq(2, 2), compressor = Some(("blosc:zstd:0", 3)),
      zarrFormat = 3)
    val zj = new String(Files.readAllBytes(
      Paths.get(store, "v", "zarr.json")), "UTF-8")
    assert(zj.contains("\"name\":\"blosc\"") && zj.contains("\"cname\":\"zstd\"")
      && zj.contains("\"shuffle\":\"noshuffle\""))
    val m = Zarr.openMetaAny(spark, store, "v")
    assert(m.compressor.contains(("blosc:zstd:0", 3)))
    val back = Zarr.toLongDF(spark, store, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back === df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }
}
