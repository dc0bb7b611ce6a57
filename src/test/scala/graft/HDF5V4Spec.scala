package graft

import java.nio.file.Files
import graft.io.{ArraySrc, HDF5}
import graft.io.HDF5._

/** Layout-message v4 chunk indexes (HDF5 1.10+, h5py libver="latest"):
  * writer->reader roundtrips for fixed-array and single-chunk, synthetic
  * buffers for the implicit / paged-fixed-array / v2-B-tree decode
  * paths, and the extensible-array guidance error. */
class HDF5V4Spec extends SparkSpec {

  private val grid = (for (t <- 0 until 7; l <- 0 until 5)
    yield t * 10.0 + l * 0.25).toArray

  private def write(path: String, index: String,
                    chunk: Seq[Int]): Unit =
    HDF5.writeNc4(path,
      Seq("t" -> Array.tabulate(7)(_.toDouble),
        "l" -> Array.tabulate(5)(_.toDouble)),
      Seq(WVar("v", Seq(0, 1), grid, chunk = Some(chunk),
        index4 = Some(index))))

  test("fixed-array index: multi-chunk deflate roundtrip + structure pins") {
    val dir = scratchDir("h5fa")
    val path = s"$dir/fa.nc4"
    write(path, "fixed", Seq(3, 2)) // 3x3 grid of edge chunks
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    val v = f.byName("v")
    v.layout match {
      case ChunkedV4(3, addr, cd, _, _, _, _) =>
        assert(cd === Seq(3, 2))
        // FAHD signature on disk at the index address
        assert(new String(bytes.slice(addr.toInt, addr.toInt + 4)) === "FAHD")
        val refs = HDF5.chunkRefsOf(ArraySrc(bytes), v)
        assert(refs.length === 9)
        assert(refs.head.origin === Seq(0L, 0L))
        assert(refs.last.origin === Seq(6L, 4L))
      case other => fail(s"expected fixed-array ChunkedV4, got $other")
    }
    assert(HDF5.readVar(bytes, f, "v").toSeq === grid.toSeq)
  }

  test("single-chunk index: one whole-shape chunk, filtered size in the message") {
    val dir = scratchDir("h5sc")
    val path = s"$dir/sc.nc4"
    write(path, "single", Seq(7, 5))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    f.byName("v").layout match {
      case ChunkedV4(1, addr, cd, flags, _, sSize, _) =>
        assert(cd === Seq(7, 5) && (flags & 2) === 2)
        assert(sSize > 0 && sSize < 7 * 5 * 8) // deflate shrank it
        assert(addr > 0)
      case other => fail(s"expected single-chunk ChunkedV4, got $other")
    }
    assert(HDF5.readVar(bytes, f, "v").toSeq === grid.toSeq)
  }

  test("implicit index: dense unfiltered grid decodes by address arithmetic") {
    // synthetic: 4x3 f64 var, chunks 2x3 -> 2 chunks back to back at 100
    val vals = Array.tabulate(12)(_ * 1.5)
    val bytes = new Array[Byte](100 + 12 * 8)
    val bb = java.nio.ByteBuffer.wrap(bytes, 100, 96)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putDouble)
    val d = DatasetMetaH5("v", 0L, Seq(4L, 3L),
      DType(1, 8, littleEndian = true, signed = true),
      ChunkedV4(2, 100L, Seq(2, 3), 0, 0, 0L, 0), Nil)
    val refs = HDF5.chunkRefsOf(ArraySrc(bytes), d)
    assert(refs.map(_.addr) === Seq(100L, 148L))
    assert(refs.map(_.origin) === Seq(Seq(0L, 0L), Seq(2L, 0L)))
    assert(HDF5.readVar(bytes, HDF5.H5File(Seq(d)), "v").toSeq === vals.toSeq)
  }

  test("paged fixed array + client-0 entries decode (foreign-writer shape)") {
    // pageBits=2 (4 entries/page), 6 chunks -> 2 pages + bitmap byte.
    // client 0: 8-byte address-only entries, nominal stored size.
    val b = java.nio.ByteBuffer.allocate(400)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.position(10) // FAHD at 10
    b.put("FAHD".getBytes); b.put(0.toByte); b.put(0.toByte) // client 0
    b.put(8.toByte); b.put(2.toByte) // entry size, page bits
    b.putLong(6L); b.putLong(60L) // nelmts, data block addr
    b.putInt(0) // checksum (not verified by the reader)
    b.position(60) // FADB
    b.put("FADB".getBytes); b.put(0.toByte); b.put(0.toByte)
    b.putLong(10L) // header addr
    b.put(0x03.toByte) // page bitmap: both pages present
    b.putInt(0) // data-block prefix checksum (after the bitmap)
    // page 0: 4 entries + checksum; page 1: 2 entries + checksum
    Seq(500L, 600L, -1L, 700L).foreach(b.putLong); b.putInt(0)
    Seq(800L, 900L).foreach(b.putLong); b.putInt(0)
    // 6x1 grid of 1x1 chunks over shape (6,1)... use shape (6,), rank 1
    val refs = HDF5.fixedArrayRefs(ArraySrc(b.array()), 10L,
      Seq(1), Seq(6L), nominal = 8)
    // entry 2 is the undefined address -> missing chunk, skipped
    assert(refs.map(_.addr) === Seq(500L, 600L, 700L, 800L, 900L))
    assert(refs.map(_.origin.head) === Seq(0L, 1L, 3L, 4L, 5L))
    assert(refs.forall(r => r.stored == 8 && r.mask == 0))
  }

  test("v2 B-tree chunk records: scaled offsets, filtered sizes") {
    // depth-0 tree: BTHD at 20 -> BTLF at 100 with 2 type-11 records
    // (addr 8, size 8, mask 4, 2x scaled offset 8 => recSize 36)
    val b = java.nio.ByteBuffer.allocate(300)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.position(20)
    b.put("BTHD".getBytes); b.put(0.toByte); b.put(11.toByte)
    b.putInt(512); b.putShort(36.toShort); b.putShort(0.toShort)
    b.put(90.toByte); b.put(40.toByte)
    b.putLong(100L); b.putShort(2.toShort)
    b.position(100)
    b.put("BTLF".getBytes); b.put(0.toByte); b.put(11.toByte)
    b.putLong(1000L); b.putLong(77L); b.putInt(1) // chunk 0, mask 1
    b.putLong(0L); b.putLong(0L) // scaled (0,0)
    b.putLong(2000L); b.putLong(55L); b.putInt(0)
    b.putLong(1L); b.putLong(2L) // scaled (1,2)
    val refs = HDF5.btree2ChunkRefs(ArraySrc(b.array()), 20L,
      Seq(4, 3), nominal = 96)
    assert(refs === Seq(
      ChunkRef(Seq(0L, 0L), 1000L, 77, 1),
      ChunkRef(Seq(4L, 6L), 2000L, 55, 0)))
  }

  test("a broken extensible-array index fails with re-encode guidance") {
    val d = DatasetMetaH5("v", 0L, Seq(4L),
      DType(1, 8, littleEndian = true, signed = true),
      ChunkedV4(4, 50L, Seq(2), 0, 0, 0L, 0), Nil)
    val e = intercept[RuntimeException](
      HDF5.readVar(Array.empty[Byte], HDF5.H5File(Seq(d)), "v"))
    assert(e.getMessage.contains("extensible-array") &&
      e.getMessage.contains("h5repack"))
  }

  test("extensible-array index: multi-data-block deflate roundtrip " +
    "through a full .nc4 file") {
    val dir = scratchDir("h5ea")
    val path = s"$dir/ea.nc4"
    write(path, "ea", Seq(2, 1)) // 4x5 = 20 chunks: iblock(4) + 8 + 16
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    val v = f.byName("v")
    v.layout match {
      case ChunkedV4(4, addr, cd, _, _, _, _) =>
        assert(cd === Seq(2, 1))
        assert(new String(bytes.slice(addr.toInt, addr.toInt + 4)) === "EAHD")
        val refs = HDF5.chunkRefsOf(ArraySrc(bytes), v)
        assert(refs.length === 20)
        assert(refs.map(_.origin).toSet ===
          (for (t <- 0 until 4; l <- 0 until 5)
            yield Seq(t * 2L, l.toLong)).toSet)
      case other => fail(s"expected extensible-array ChunkedV4, got $other")
    }
    assert(HDF5.readVar(bytes, f, "v").toSeq === grid.toSeq)
  }
}
