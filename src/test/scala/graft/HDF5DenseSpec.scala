package graft

import java.nio.file.{Files, Paths}
import graft.io.HDF5
import graft.io.HDF5.WVar

/** Dense (fractal-heap) group + attribute storage, byte-shuffle filter,
  * and compound datatypes — the netCDF-4 reader tail (HDF5 File Format
  * Specification v3: "Fractal Heap", "Version 2 B-trees", "Datatype
  * Message" class 6, filter id 2). The writer emits the same structures
  * (superblock v2, Link Info -> FRHP/FHDB/BTHD/BTLF, Attribute Info per
  * data var) so the roundtrip covers every new reader branch. */
class HDF5DenseSpec extends SparkSpec {

  private def denseFixture(path: String): Unit = {
    val time = Array.tabulate(6)(_.toDouble)
    val lat = Array.tabulate(5)(i => i * 0.5)
    val temp = (for (t <- 0 until 6; l <- 0 until 5)
      yield t * 100.0 + l * 1.5).toArray
    val press = (for (t <- 0 until 6; l <- 0 until 5)
      yield (t + l * 10).toFloat.toDouble).toArray
    HDF5.writeNc4(path,
      Seq("time" -> time, "lat" -> lat),
      Seq(
        // shuffle + deflate, with edge chunks on both axes
        WVar("temp", Seq(0, 1), temp, chunk = Some(Seq(4, 2)),
          shuffle = true),
        WVar("press", Seq(0, 1), press, f32 = true)),
      dense = true)
  }

  test("dense group: superblock v2 + fractal-heap links + name index") {
    val dir = scratchDir("graft_h5d")
    val path = s"$dir/dense.nc4"
    denseFixture(path)
    val bytes = Files.readAllBytes(Paths.get(path))
    val f = HDF5.parseFile(bytes)
    assert(f.datasets.map(_.name).sorted ===
      Seq("lat", "press", "temp", "time"))
    assert(f.dims.toMap === Map("time" -> 6L, "lat" -> 5L))
    // DIMENSION_LIST arrives via DENSE attribute storage on data vars
    val temp = f.byName("temp")
    assert(f.varDims(temp) === Seq("time", "lat"))
    assert(temp.shuffleElem === Some(8))
    assert(temp.deflate)
  }

  test("shuffle+deflate chunks decode to the original values") {
    val dir = scratchDir("graft_h5d2")
    val path = s"$dir/dense.nc4"
    denseFixture(path)
    val bytes = Files.readAllBytes(Paths.get(path))
    val f = HDF5.parseFile(bytes)
    assert(HDF5.readVar(bytes, f, "temp").toSeq ===
      (for (t <- 0 until 6; l <- 0 until 5) yield t * 100.0 + l * 1.5))
    assert(HDF5.readVar(bytes, f, "press").toSeq ===
      (for (t <- 0 until 6; l <- 0 until 5)
        yield (t + l * 10).toFloat.toDouble))
    assert(HDF5.readVar(bytes, f, "time").toSeq ===
      Seq(0.0, 1.0, 2.0, 3.0, 4.0, 5.0))
  }

  test("dense toLongDF matches the compact-group decode") {
    val dirD = scratchDir("graft_h5d3")
    denseFixture(s"$dirD/part0.nc4")
    val df = HDF5.toLongDF(spark, dirD, "temp")
    assert(df.count() === 30)
    val row = df.filter(org.apache.spark.sql.functions.col("time") === 3L)
      .filter(org.apache.spark.sql.functions.col("lat") === 1.0)
      .head()
    assert(row.getDouble(2) === 303.0)
  }

  test("compound datatype: per-member extraction") {
    val dir = scratchDir("graft_h5c")
    val path = s"$dir/compound.h5"
    val t = Array.tabulate(7)(_ * 10.0)
    val v = Array.tabulate(7)(i => i * 1.5 - 2.0)
    HDF5.writeCompoundFixture(path, "obs", Seq("t" -> t, "v" -> v))
    val bytes = Files.readAllBytes(Paths.get(path))
    val f = HDF5.parseFile(bytes)
    val obs = f.byName("obs")
    assert(obs.dtype.clazz === 6)
    assert(obs.dtype.members.map(_._1) === Seq("t", "v"))
    assert(HDF5.readVarMember(bytes, f, "obs", "t").toSeq === t.toSeq)
    assert(HDF5.readVarMember(bytes, f, "obs", "v").toSeq === v.toSeq)
    // whole-compound read is rejected with the member list
    val e = intercept[RuntimeException](HDF5.readVar(bytes, f, "obs"))
    assert(e.getMessage.contains("readVarMember"))
  }

  test("wide dense group: depth-1 name index (BTIN + leaves) roundtrips") {
    // 200 data vars + 1 dim > the ~185-record single-leaf capacity, so
    // the writer emits a BTIN root and the reader walks it
    val dir = scratchDir("graft_h5w")
    val path = s"$dir/wide.nc4"
    val time = Array.tabulate(6)(_.toDouble)
    val vars = (0 until 200).map { i =>
      WVar(f"v$i%03d", Seq(0), Array.tabulate(6)(t => i * 1000.0 + t))
    }
    HDF5.writeNc4(path, Seq("time" -> time), vars, dense = true)
    val bytes = Files.readAllBytes(Paths.get(path))
    val f = HDF5.parseFile(bytes)
    assert(f.datasets.length === 201)
    assert(f.dims.toMap === Map("time" -> 6L))
    // spot-check vars from the first leaf, a separator record region,
    // and the last leaf
    Seq(0, 93, 187, 199).foreach { i =>
      val name = f"v$i%03d"
      assert(f.varDims(f.byName(name)) === Seq("time"))
      assert(HDF5.readVar(bytes, f, name).toSeq ===
        (0 until 6).map(t => i * 1000.0 + t))
    }
  }

  test("one corrupt object does not make the other variables unreadable") {
    val dir = scratchDir("graft_h5x")
    val path = s"$dir/mixed.nc4"
    denseFixture(path)
    val bytes = Files.readAllBytes(Paths.get(path))
    val pressAddr = HDF5.parseFile(bytes).byName("press").addr
    bytes(pressAddr.toInt) = 99 // smash press's object-header version
    val f = HDF5.parseFile(bytes)
    // press carries its parse error; everything else still decodes
    val e = intercept[RuntimeException](HDF5.readVar(bytes, f, "press"))
    assert(e.getMessage.contains("failed metadata parse"))
    assert(HDF5.readVar(bytes, f, "temp").toSeq ===
      (for (t <- 0 until 6; l <- 0 until 5) yield t * 100.0 + l * 1.5))
  }

  test("nested indirect fractal-heap blocks resolve managed heap IDs") {
    import java.nio.{ByteBuffer, ByteOrder}
    // Hand-assembled heap per the spec's doubling table: start=512,
    // maxDirect=512, width=2 -> rows 0-1 direct, row 2+ indirect. Root
    // FHIB (3 rows) -> child FHIB covering [2048,3072) -> FHDB at heap
    // offset 2560. The object lives in that nested direct block.
    val bytes = new Array[Byte](1024 + 512)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def put(pos: Int)(f: ByteBuffer => Unit): Unit = { bb.position(pos); f(bb) }
    // FRHP at 0 (maxHeapBits 32 -> offSize 4; maxManaged 4096 -> lenSize 2)
    put(0) { b =>
      b.put("FRHP".getBytes).put(0.toByte)
      b.putShort(7)           // heap id length
      b.putShort(0)           // io filter length (unfiltered)
      b.put(0.toByte)         // flags: no checksums
      b.putInt(4096)          // max managed object size
      (0 until 12).foreach(_ => b.putLong(0L)) // huge/free/managed/tiny stats
      b.putShort(2)           // table width
      b.putLong(512L)         // starting block size
      b.putLong(512L)         // max direct block size
      b.putShort(32)          // max heap size (bits)
      b.putShort(1)           // starting rows
      b.putLong(160L)         // root block address
      b.putShort(3)           // current rows (root is INDIRECT, 3 rows)
    }
    // root FHIB at 160: block offset 0; rows 0-1 direct (all absent),
    // row 2 = two 1024-byte spans -> entry 0 is the child FHIB
    put(160) { b =>
      b.put("FHIB".getBytes).put(0.toByte)
      b.putLong(0L)                        // heap header address
      b.putInt(0)                          // block offset (offSize = 4)
      Seq(-1L, -1L, -1L, -1L, 240L, -1L).foreach(b.putLong)
    }
    // child FHIB at 240: covers heap [2048, 3072); nrows(1024) = 1;
    // its row 0 holds two 512-byte direct blocks, only the second present
    put(240) { b =>
      b.put("FHIB".getBytes).put(0.toByte)
      b.putLong(0L)
      b.putInt(2048)
      Seq(-1L, 320L).foreach(b.putLong)
    }
    // FHDB at 320: the direct block covering heap [2560, 3072)
    put(320) { b =>
      b.put("FHDB".getBytes).put(0.toByte)
      b.putLong(0L)
      b.putInt(2560)
    }
    val payload = "nested!".getBytes
    put(320 + 100)(_.put(payload)) // heap offset 2560 + 100 = 2660
    val fh = HDF5.parseFRHP(bytes, 0L)
    assert(fh.tableWidth === 2 && fh.curRows === 3 && fh.offSize === 4)
    // the walk must surface all three present direct blocks... here just
    // the nested one, at its true heap offset
    assert(HDF5.directBlocks(bytes, fh) ===
      Seq(HDF5.DirectBlk(2560L, 512L, 320L)))
    val heapId = Array[Byte](0,
      (2660 & 0xff).toByte, ((2660 >> 8) & 0xff).toByte, 0, 0, // offset LE32
      payload.length.toByte, 0)                                // length LE16
    assert(new String(HDF5.fheapObject(bytes, fh, heapId)) === "nested!")
  }

  test("FILTERED fractal heaps: deflated direct blocks, per-block mask") {
    import java.nio.{ByteBuffer, ByteOrder}
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(6)
      d.setInput(b); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf2 = new Array[Byte](1024)
      while (!d.finished()) bos.write(buf2, 0, d.deflate(buf2))
      d.end(); bos.toByteArray
    }
    // embedded pipeline message (v2): one deflate filter, level 6
    val pipeMsg = {
      val b = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      b.put(2.toByte).put(1.toByte)      // version 2, one filter
      b.putShort(1).putShort(1.toShort)  // id=deflate, flags=optional
      b.putShort(1).putInt(6)            // 1 client value: level
      b.array()
    }
    def frhp(bb: ByteBuffer, curRows: Int, rootAddr: Long,
             filteredRootSize: Long, managed: Long): Unit = {
      bb.put("FRHP".getBytes).put(0.toByte)
      bb.putShort(7).putShort(pipeMsg.length.toShort) // idLen, filterLen
      bb.put(0.toByte).putInt(4096)
      (0 until 4).foreach(_ => bb.putLong(0L))
      bb.putLong(managed)                 // managed space = root blk size
      (0 until 7).foreach(_ => bb.putLong(0L))
      bb.putShort(2).putLong(512L).putLong(512L) // width, start, maxDirect
      bb.putShort(32).putShort(1)
      bb.putLong(rootAddr).putShort(curRows.toShort)
      bb.putLong(filteredRootSize).putInt(0)      // root stored size, mask
      bb.put(pipeMsg)
    }
    val payload = "filtered heap!".getBytes

    // --- case 1: ROOT DIRECT block, stored deflated whole ---
    val block = new Array[Byte](512)
    val blkB = ByteBuffer.wrap(block).order(ByteOrder.LITTLE_ENDIAN)
    blkB.put("FHDB".getBytes).put(0.toByte).putLong(0L).putInt(0)
    blkB.position(64); blkB.put(payload) // heap offset 64
    val packed = deflate(block)
    val bytes1 = new Array[Byte](256 + packed.length)
    val b1 = ByteBuffer.wrap(bytes1).order(ByteOrder.LITTLE_ENDIAN)
    frhp(b1, curRows = 0, rootAddr = 256L,
      filteredRootSize = packed.length, managed = 512L)
    b1.position(256); b1.put(packed)
    val fh1 = HDF5.parseFRHP(bytes1, 0L)
    assert(fh1.filters === Seq(1 -> Seq(6)))
    val id1 = Array[Byte](0, 64, 0, 0, 0, payload.length.toByte, 0)
    assert(new String(HDF5.fheapObject(bytes1, fh1, id1)) === "filtered heap!")

    // --- case 2: root INDIRECT; entry 0 deflated, entry 1 mask=1 (raw,
    // deflate skipped for that block) ---
    val blockA = new Array[Byte](512)
    val aB = ByteBuffer.wrap(blockA).order(ByteOrder.LITTLE_ENDIAN)
    aB.put("FHDB".getBytes).put(0.toByte).putLong(0L).putInt(0)
    aB.position(100); aB.put(payload) // heap offset 100
    val packedA = deflate(blockA)
    val blockB = new Array[Byte](512)
    val bB = ByteBuffer.wrap(blockB).order(ByteOrder.LITTLE_ENDIAN)
    bB.put("FHDB".getBytes).put(0.toByte).putLong(0L).putInt(512)
    bB.position(40); bB.put("raw block".getBytes) // heap offset 512 + 40
    // FHIB at 256: 1 row x 2 filtered direct entries:
    // (addr 8, stored size 8 = size-of-lengths, mask 4) each
    val fhibLen = 4 + 1 + 8 + 4 + 2 * (8 + 8 + 4)
    val addrA = 256L + fhibLen
    val addrB = addrA + packedA.length
    val bytes2 = new Array[Byte]((addrB + 512).toInt)
    val b2 = ByteBuffer.wrap(bytes2).order(ByteOrder.LITTLE_ENDIAN)
    frhp(b2, curRows = 1, rootAddr = 256L,
      filteredRootSize = 0L, managed = 1024L)
    b2.position(256)
    b2.put("FHIB".getBytes).put(0.toByte).putLong(0L).putInt(0)
    b2.putLong(addrA).putLong(packedA.length.toLong).putInt(0) // deflated
    b2.putLong(addrB).putLong(512L).putInt(1)        // mask: skip deflate
    b2.position(addrA.toInt); b2.put(packedA)
    b2.position(addrB.toInt); b2.put(blockB)
    val fh2 = HDF5.parseFRHP(bytes2, 0L)
    assert(HDF5.directBlocks(bytes2, fh2) === Seq(
      HDF5.DirectBlk(0L, 512L, addrA, packedA.length.toLong, 0),
      HDF5.DirectBlk(512L, 512L, addrB, 512L, 1)))
    val idA = Array[Byte](0, 100, 0, 0, 0, payload.length.toByte, 0)
    assert(new String(HDF5.fheapObject(bytes2, fh2, idA)) === "filtered heap!")
    val off2 = 512 + 40
    val idB = Array[Byte](0, (off2 & 0xff).toByte, ((off2 >> 8) & 0xff).toByte,
      0, 0, 9, 0)
    assert(new String(HDF5.fheapObject(bytes2, fh2, idB)) === "raw block")
  }

  test("lookup3 matches the published test vectors") {
    // Bob Jenkins' lookup3.c self-test values for hashlittle(...)
    assert(HDF5.lookup3("".getBytes("UTF-8"), 0) === 0xdeadbeef)
    assert(HDF5.lookup3("Four score and seven years ago".getBytes("UTF-8"),
      0) === 0x17770551)
    assert(HDF5.lookup3("Four score and seven years ago".getBytes("UTF-8"),
      1) === 0xcd628161)
  }
}
