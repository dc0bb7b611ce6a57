package graft

import java.nio.file.Files
import graft.io.{HDF5, NbitSO}
import graft.io.HDF5.WVar

/** HDF5 n-bit (id 5) and scale-offset (id 6) filters: hand-computed
  * bitstream pins (so the round-trip laws cannot pass by a
  * self-consistent-but-wrong packing), codec round-trips, and full
  * writer->reader netCDF-4 file round-trips including deflate stacking
  * and negative signed values through the reduced-precision dtype. */
class NbitSOSpec extends SparkSpec {

  // ---- n-bit: hand-computed packed bytes -------------------------------
  // size=4 LE, precision=6, offset=0, elements [1,2,3]. Each element
  // contributes its low 6 bits MSB-first into the stream:
  // 000001 000010 000011 -> 00000100 00100000 11000000 = 0x04 0x20 0xC0
  test("nbit packs 6-bit values MSB-first (pinned bytes)") {
    val cd = Seq(8, 0, 3, 1, 4, 0, 6, 0)
    val data = new Array[Byte](12)
    val bb = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1); bb.putInt(2); bb.putInt(3)
    val packed = NbitSO.nbitEncode(data, cd)
    assert(packed.toSeq === Seq(0x04.toByte, 0x20.toByte, 0xC0.toByte))
    assert(NbitSO.nbitDecode(packed, cd).toSeq === data.toSeq)
  }

  // precision spanning a byte boundary inside the element: size=2,
  // precision=12, offset=0, value 0xABC (2748): begin_i=1 (top 4 bits
  // 1010), end_i=0 (byte 10111100). Stream: 1010 10111100 -> 0xAB 0xC0
  test("nbit multi-byte span packs begin byte first (pinned bytes)") {
    val cd = Seq(8, 0, 1, 1, 2, 0, 12, 0)
    val data = Array[Byte](0xBC.toByte, 0x0A.toByte) // LE 0x0ABC
    val packed = NbitSO.nbitEncode(data, cd)
    assert(packed.toSeq === Seq(0xAB.toByte, 0xC0.toByte))
    assert(NbitSO.nbitDecode(packed, cd).toSeq === data.toSeq)
  }

  test("nbit encode rejects values exceeding the declared precision") {
    // prec=6 window holds [0, 64) unsigned or [-32, 32) signed; 64 is
    // silently-truncatable garbage and must raise, naming the value
    val cd = Seq(8, 0, 1, 1, 4, 0, 6, 0)
    def le4(v: Int): Array[Byte] = {
      val a = new Array[Byte](4)
      java.nio.ByteBuffer.wrap(a)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v)
      a
    }
    val e = intercept[IllegalArgumentException](
      NbitSO.nbitEncode(le4(64), cd))
    assert(e.getMessage.contains("does not fit"))
    // boundary fits: 63 unsigned, and -32 as a signed two's-complement
    // fill (high bits = sign extension of the window's top bit)
    assert(NbitSO.nbitEncode(le4(63), cd).nonEmpty)
    assert(NbitSO.nbitEncode(le4(-32), cd).nonEmpty)
    assert(intercept[IllegalArgumentException](
      NbitSO.nbitEncode(le4(-33), cd)).getMessage.contains("does not fit"))
    // nonzero bits BELOW a nonzero offset are also a corrupt fixture
    val cdOff = Seq(8, 0, 1, 1, 4, 0, 6, 2)
    assert(intercept[IllegalArgumentException](
      NbitSO.nbitEncode(le4(1), cdOff)).getMessage.contains("does not fit"))
    assert(NbitSO.nbitEncode(le4(4), cdOff).nonEmpty)
  }

  test("nbit BE packs the same MSB-first stream from BE memory (pinned)") {
    // big-endian memory of 0x0ABC at size=2, prec=12: bytes [0x0A, 0xBC].
    // The packed stream is the LOGICAL value MSB-first, identical to the
    // LE fixture's 0xAB 0xC0 — only the element byte walk differs
    // (ascending from the most significant byte, per H5Z__nbit_compress).
    val cd = Seq(8, 0, 1, 1, 2, 1, 12, 0)
    val data = Array[Byte](0x0A.toByte, 0xBC.toByte)
    val packed = NbitSO.nbitEncode(data, cd)
    assert(packed.toSeq === Seq(0xAB.toByte, 0xC0.toByte))
    assert(NbitSO.nbitDecode(packed, cd).toSeq === data.toSeq)
  }

  test("nbit BE codec round-trips randomized offsets/precisions") {
    val rnd = new scala.util.Random(11)
    for (size <- Seq(2, 4, 8); _ <- 1 to 15) {
      val prec = 1 + rnd.nextInt(size * 8 - 1)
      val off = rnd.nextInt(size * 8 - prec + 1)
      val n = 1 + rnd.nextInt(40)
      val cd = Seq(8, 0, n, 1, size, 1, prec, off)
      val data = new Array[Byte](n * size)
      for (e <- 0 until n) {
        val v = (rnd.nextLong().abs &
          (if (prec == 64) -1L else (1L << prec) - 1)) << off
        var i = 0
        // big-endian fill: byte 0 holds the most significant bits
        while (i < size) {
          data(e * size + i) = ((v >> (8 * (size - 1 - i))) & 0xff).toByte
          i += 1
        }
      }
      val dec = NbitSO.nbitDecode(NbitSO.nbitEncode(data, cd), cd)
      assert(dec.toSeq === data.toSeq, s"BE size=$size prec=$prec off=$off")
    }
  }

  test("netCDF-4 big-endian nbit writer->reader round-trip") {
    val dir = scratchDir("graft_benb")
    val path = s"$dir/part0.nc4"
    // negatives exercise the sign-extension through the BE span read
    val vals = Array(7.0, -3.0, 1023.0, -1024.0, 0.0, 512.0)
    HDF5.writeNc4(path,
      Seq("x" -> Array.tabulate(6)(_.toDouble)),
      Seq(WVar("packed_be", Seq(0), vals, chunk = Some(Seq(4)),
        integral = true, nbitPrec = 11, bigEndian = true)))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    val d = f.byName("packed_be")
    assert(d.filters.map(_._1) === Seq(5, 1))
    assert(HDF5.readVar(bytes, f, "packed_be").toSeq === vals.toSeq)
  }

  test("bigEndian + scale-offset is a loud reject at declaration") {
    // soCd codes order=LE and soEncode walks little-endian element
    // bytes — combining with a BE element stream would silently write
    // a corrupt fixture, so the WVar constructor refuses it
    val e = intercept[IllegalArgumentException](
      WVar("bad", Seq(0), Array(1.0, 2.0), chunk = Some(Seq(2)),
        integral = true, soScale = Some((2, 0)), bigEndian = true))
    assert(e.getMessage.contains("bigEndian + scale-offset"))
  }

  test("nbit no-need-to-compress flag is identity") {
    val cd = Seq(8, 1, 2, 1, 4, 0, 32, 0)
    val data = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    assert(NbitSO.nbitDecode(data, cd) eq data)
  }

  test("nbit codec round-trips randomized offsets/precisions") {
    val rnd = new scala.util.Random(7)
    for (size <- Seq(2, 4, 8); _ <- 1 to 20) {
      val prec = 1 + rnd.nextInt(size * 8 - 1)
      val off = rnd.nextInt(size * 8 - prec + 1)
      val n = 1 + rnd.nextInt(40)
      val cd = Seq(8, 0, n, 1, size, 0, prec, off)
      val data = new Array[Byte](n * size)
      val bb = java.nio.ByteBuffer.wrap(data)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val vals = Array.fill(n) {
        val v = (rnd.nextLong().abs &
          (if (prec == 64) -1L else (1L << prec) - 1)) << off
        var i = 0
        while (i < size) { bb.put(((v >> (8 * i)) & 0xff).toByte); i += 1 }
        v
      }
      val dec = NbitSO.nbitDecode(NbitSO.nbitEncode(data, cd), cd)
      assert(dec.toSeq === data.toSeq,
        s"size=$size prec=$prec off=$off vals=${vals.take(3).toSeq}")
    }
  }

  // ---- scale-offset: hand-computed chunk -------------------------------
  // int64 values [5,7,6]: min=5, span=3 -> minbits=2, deltas [0,2,1]
  // packed MSB-first: 00 10 01 xx -> 0x24; header = minbits(4 LE) +
  // minval(8 LE) + 9 reserved
  test("scale-offset int chunk layout (pinned bytes)") {
    val cd = Seq(2, 0, 3, 0, 8, 1, 0, 0) ++ Seq.fill(12)(0)
    val data = new Array[Byte](24)
    val bb = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(5L); bb.putLong(7L); bb.putLong(6L)
    val enc = NbitSO.soEncode(data, cd)
    assert(enc.length === 21 + 1)
    assert(enc.take(4).toSeq === Seq[Byte](2, 0, 0, 0))
    assert(enc.slice(4, 12).toSeq === Seq[Byte](5, 0, 0, 0, 0, 0, 0, 0))
    assert(enc(21) === 0x24.toByte)
    assert(NbitSO.soDecode(enc, cd).toSeq === data.toSeq)
  }

  test("scale-offset negative minima and all-equal chunks round-trip") {
    val cd = Seq(2, 0, 4, 0, 8, 1, 0, 0) ++ Seq.fill(12)(0)
    for (vals <- Seq(Seq(-9L, -3L, -9L, 4L), Seq(42L, 42L, 42L, 42L))) {
      val data = new Array[Byte](32)
      val bb = java.nio.ByteBuffer.wrap(data)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putLong)
      val enc = NbitSO.soEncode(data, cd)
      assert(NbitSO.soDecode(enc, cd).toSeq === data.toSeq, vals)
    }
  }

  test("scale-offset float D-scale: 2dp grid restores exactly") {
    val cd = Seq(0, 2, 5, 1, 8, 0, 0, 0) ++ Seq.fill(12)(0)
    val vals = Seq(1.25, -0.75, 3.5, 1.25, 0.0)
    val data = new Array[Byte](40)
    val bb = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putDouble)
    val enc = NbitSO.soEncode(data, cd)
    val dec = NbitSO.soDecode(enc, cd)
    val db = java.nio.ByteBuffer.wrap(dec)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val got = vals.indices.map(i => db.getDouble(i * 8))
    // delta/100 + min is exact for these dyadic+decimal values
    assert(got === vals)
  }

  // ---- full-file round-trips through the writer + reader ---------------
  test("netCDF-4 nbit variable round-trips, incl. negatives (dtype " +
    "precision sign-extension) and deflate stacking") {
    val dir = scratchDir("graft_nbit")
    val path = s"$dir/part0.nc4"
    val vals = Array(-500.0, 1023.0, -1024.0, 0.0, 7.0, 999.0)
    HDF5.writeNc4(path,
      Seq("x" -> Array.tabulate(6)(_.toDouble)),
      Seq(WVar("packed", Seq(0), vals, chunk = Some(Seq(4)),
        integral = true, nbitPrec = 11)))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    val d = f.byName("packed")
    assert(d.filters.map(_._1) === Seq(5, 1)) // nbit then deflate
    assert(HDF5.readVar(bytes, f, "packed").toSeq === vals.toSeq)
  }

  test("netCDF-4 scale-offset int and D-scale float round-trip") {
    val dir = scratchDir("graft_so")
    val path = s"$dir/part0.nc4"
    val ints = Array(100.0, 103.0, 101.0, 100.0, 107.0, 102.0)
    // dyadic quarters: delta/100 + min is then EXACT double arithmetic,
    // so the round-trip law can assert bit equality
    val floats = Array(21.5, 21.25, 22.0, 21.5, 23.75, 20.0)
    HDF5.writeNc4(path,
      Seq("x" -> Array.tabulate(6)(_.toDouble)),
      Seq(
        WVar("counts", Seq(0), ints, chunk = Some(Seq(3)),
          integral = true, soScale = Some((2, 0))),
        WVar("temps", Seq(0), floats, chunk = Some(Seq(6)),
          soScale = Some((0, 2)))))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    assert(f.byName("counts").filters.map(_._1) === Seq(6, 1))
    assert(HDF5.readVar(bytes, f, "counts").toSeq === ints.toSeq)
    assert(HDF5.readVar(bytes, f, "temps").toSeq === floats.toSeq)
  }

  test("scale-offset E-scale and array-class nbit reject loudly") {
    val eCd = Seq(1, 2, 5, 1, 8, 0, 0, 0) ++ Seq.fill(12)(0)
    val e = intercept[Exception](NbitSO.soDecode(new Array[Byte](21), eCd))
    assert(e.getMessage.contains("E-scale") ||
      e.getMessage.contains("scale type"))
    val aCd = Seq(8, 0, 3, 2, 4, 0, 6, 0) // class 2 = array
    val a = intercept[Exception](
      NbitSO.nbitDecode(new Array[Byte](3), aCd))
    assert(a.getMessage.contains("array/compound"))
  }
}
