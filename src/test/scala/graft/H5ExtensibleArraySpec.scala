package graft

import java.nio.{ByteBuffer, ByteOrder}
import graft.io.{ArraySrc, HDF5}

/** Extensible-array chunk index (HDF5 1.10+ unlimited-dimension files):
  * synthetic EAHD/EAIB/EASB/EADB structures built byte-for-byte per the
  * public format spec with REAL lookup3 checksums, decoded through
  * [[HDF5.extensibleArrayRefs]]. No h5py in this container, so spec
  * conformance rests on (a) these structural fixtures and (b) the
  * reader's checksum-verification-of-every-block contract, which turns
  * any layout drift on a real file into a loud error (pinned below). */
class H5ExtensibleArraySpec extends SparkSpec {

  private val UNDEF = -1L

  /** Little-endian byte builder with lookup3-checksummed block emission. */
  private class B(size: Int) {
    val buf: ByteBuffer =
      ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    def sig(s: String): B = { s.foreach(c => buf.put(c.toByte)); this }
    def u8(v: Int): B = { buf.put(v.toByte); this }
    def u32(v: Int): B = { buf.putInt(v); this }
    def u64(v: Long): B = { buf.putLong(v); this }
    def le(v: Long, nbytes: Int): B = {
      (0 until nbytes).foreach(i => buf.put((v >>> (8 * i)).toByte)); this
    }
    /** Append the Jenkins checksum of everything written since `from`. */
    def seal(from: Int): B = {
      val body = java.util.Arrays.copyOfRange(buf.array(), from, buf.position())
      u32(HDF5.lookup3(body, 0))
    }
    def pos: Int = buf.position()
  }

  /** Two-pass builder: pass 1 computes layout, pass 2 writes bytes. */
  private def buildEA(addrs: IndexedSeq[Long], eltSize: Int, client: Int,
                      maxBits: Int, idxElmts: Int, minElmts: Int,
                      minPtrs: Int, pageBits: Int,
                      uninitPages: Set[(Long, Int)] = Set.empty)
      : (Array[Byte], Long) = {
    def log2(v: Int) = Integer.numberOfTrailingZeros(v)
    val arrOff = (maxBits + 7) / 8
    val pageN = 1 << pageBits
    val nsblksTotal = 1 + maxBits - log2(minElmts)
    val firstSblk = 2 * log2(minPtrs)
    val ndblkAddrs = 2 * (minPtrs - 1)
    val nsblkAddrs = nsblksTotal - firstSblk
    val info = {
      var si = 0L; var sd = 0
      (0 until nsblksTotal).map { u =>
        val nd = 1 << (u / 2); val ne = (1 << ((u + 1) / 2)) * minElmts
        val r = (nd, ne, si, sd); si += nd.toLong * ne; sd += nd; r
      }
    }
    val n = addrs.length

    // ---- layout pass: assign offsets ----
    val hdrAddr = 0L
    val hdrLen = 72
    val iblkAddr = hdrLen.toLong
    val iblkLen = 14 + idxElmts * eltSize + (ndblkAddrs + nsblkAddrs) * 8 + 4
    var cursor = iblkAddr + iblkLen
    def alloc(len: Int): Long = { val a = cursor; cursor += len; a }
    case class DblkPlan(addr: Long, nelmts: Int, base: Long, paged: Boolean)
    val directPlans = (0 until firstSblk).flatMap { u =>
      val (nd, ne, si, _) = info(u)
      (0 until nd).map { k =>
        val base = idxElmts.toLong + si + k.toLong * ne
        if (base >= n) DblkPlan(UNDEF, ne, base, paged = false)
        else {
          require(ne <= pageN, "test plan: direct dblock must be unpaged")
          DblkPlan(alloc(14 + arrOff + ne * eltSize + 4), ne, base,
            paged = false)
        }
      }
    }
    case class SblkPlan(u: Int, addr: Long, dblks: IndexedSeq[DblkPlan])
    val sblkPlans = (firstSblk until nsblksTotal).map { u =>
      val (nd, ne, si, _) = info(u)
      val anyNeeded = idxElmts + si < n
      if (!anyNeeded) SblkPlan(u, UNDEF, IndexedSeq.empty)
      else {
        val paged = ne > pageN
        val npagesPer = if (paged) ne / pageN else 0
        val bitmapBytes = (nd * npagesPer + 7) / 8
        val saddr = alloc(14 + arrOff + bitmapBytes + nd * 8 + 4)
        val dblks = (0 until nd).map { k =>
          val base = idxElmts.toLong + si + k.toLong * ne
          if (base >= n) DblkPlan(UNDEF, ne, base, paged)
          else if (paged)
            DblkPlan(alloc(14 + arrOff + 4 + npagesPer * (pageN * eltSize + 4)),
              ne, base, paged)
          else DblkPlan(alloc(14 + arrOff + ne * eltSize + 4), ne, base, paged)
        }
        SblkPlan(u, saddr, dblks)
      }
    }

    // ---- write pass ----
    val b = new B(cursor.toInt)
    def writeElt(i: Long): Unit = {
      val a = if (i < n) addrs(i.toInt) else UNDEF
      b.u64(a)
      if (client == 1) { b.le(1000 + i, eltSize - 12); b.u32((i % 4).toInt) }
    }
    // header
    locally {
      val from = b.pos
      b.sig("EAHD").u8(0).u8(client).u8(eltSize).u8(maxBits).u8(idxElmts)
        .u8(minElmts).u8(minPtrs).u8(pageBits)
      (0 until 6).foreach(_ => b.u64(0L)) // stats, informational
      b.u64(iblkAddr).seal(from)
    }
    // index block
    locally {
      val from = b.pos
      require(from == iblkAddr.toInt)
      b.sig("EAIB").u8(0).u8(client).u64(hdrAddr)
      (0 until idxElmts).foreach(i => writeElt(i.toLong))
      directPlans.foreach(p => b.u64(p.addr))
      sblkPlans.foreach(p => b.u64(p.addr))
      b.seal(from)
    }
    def writeDblk(p: DblkPlan, uninit: Int => Boolean): Unit = {
      if (p.addr == UNDEF) return
      require(b.pos == p.addr.toInt, s"layout drift at dblk ${p.base}")
      if (!p.paged) {
        val from = b.pos
        b.sig("EADB").u8(0).u8(client).u64(hdrAddr)
        (0 until arrOff).foreach(_ => b.u8(0)) // block offset (unread)
        (0 until p.nelmts).foreach(k => writeElt(p.base + k))
        b.seal(from)
      } else {
        val from = b.pos
        b.sig("EADB").u8(0).u8(client).u64(hdrAddr)
        (0 until arrOff).foreach(_ => b.u8(0))
        b.seal(from) // paged prefix: checksum right after the offset
        val npages = p.nelmts / pageN
        (0 until npages).foreach { pg =>
          if (uninit(pg)) { // garbage page, INVALID checksum
            (0 until pageN * eltSize).foreach(_ => b.u8(0x5a))
            b.u32(0xdead)
          } else {
            val pfrom = b.pos
            (0 until pageN).foreach(k =>
              writeElt(p.base + pg.toLong * pageN + k))
            b.seal(pfrom)
          }
        }
      }
    }
    directPlans.foreach(p => writeDblk(p, _ => false))
    sblkPlans.foreach { sp =>
      if (sp.addr != UNDEF) {
        val (nd, ne, _, _) = info(sp.u)
        val paged = ne > pageN
        val npagesPer = if (paged) ne / pageN else 0
        val from = b.pos
        require(from == sp.addr.toInt, "layout drift at super block")
        b.sig("EASB").u8(0).u8(client).u64(hdrAddr)
        (0 until arrOff).foreach(_ => b.u8(0)) // block offset (unread)
        if (npagesPer > 0) { // bitmap, MSB-first: 1 = initialized
          val bits = nd * npagesPer
          val bm = new Array[Byte]((bits + 7) / 8)
          (0 until nd).foreach { k =>
            (0 until npagesPer).foreach { pg =>
              val init = sp.dblks(k).addr != UNDEF &&
                !uninitPages((sp.dblks(k).base, pg))
              if (init) {
                val i = k * npagesPer + pg
                bm(i / 8) = (bm(i / 8) | (1 << (7 - i % 8))).toByte
              }
            }
          }
          bm.foreach(x => b.u8(x & 0xff))
        }
        sp.dblks.foreach(d => b.u64(d.addr))
        b.seal(from)
        sp.dblks.foreach(d =>
          writeDblk(d, pg => uninitPages((d.base, pg))))
      }
    }
    (java.util.Arrays.copyOf(b.buf.array(), b.pos), hdrAddr)
  }

  test("client 0, h5py-default params: index block, direct data blocks, " +
    "one super block, missing chunks") {
    // 400 chunks of a 1-D dataset, chunk len 10 -> grid (idx*10)
    val missing = Set(7, 100, 399)
    val addrs = IndexedSeq.tabulate(400)(i =>
      if (missing(i)) UNDEF else 100000L + i * 1000L)
    val (bytes, hdr) = buildEA(addrs, eltSize = 8, client = 0,
      maxBits = 32, idxElmts = 4, minElmts = 16, minPtrs = 4, pageBits = 10)
    val refs = HDF5.extensibleArrayRefs(ArraySrc(bytes), hdr,
      cd = Seq(10), shape = Seq(4000), nominal = 80)
    assert(refs.length == 397)
    val byOrigin = refs.map(r => r.origin.head -> r).toMap
    (0 until 400).filterNot(missing).foreach { i =>
      val r = byOrigin(i * 10L)
      assert(r.addr == 100000L + i * 1000L && r.stored == 80 && r.mask == 0)
    }
    assert(!byOrigin.contains(70L) && !byOrigin.contains(1000L) &&
      !byOrigin.contains(3990L))
  }

  test("client 1 (filtered): per-chunk stored size and filter mask decode") {
    val addrs = IndexedSeq.tabulate(60)(i => 50000L + i * 777L)
    val (bytes, hdr) = buildEA(addrs, eltSize = 16, client = 1,
      maxBits = 32, idxElmts = 4, minElmts = 16, minPtrs = 4, pageBits = 10)
    val refs = HDF5.extensibleArrayRefs(ArraySrc(bytes), hdr,
      cd = Seq(5), shape = Seq(300), nominal = 40)
    assert(refs.length == 60)
    refs.sortBy(_.origin.head).zipWithIndex.foreach { case (r, i) =>
      assert(r.addr == 50000L + i * 777L)
      assert(r.stored == 1000 + i, s"stored size of element $i")
      assert(r.mask == i % 4, s"filter mask of element $i")
    }
  }

  test("paged data blocks under a super block, with an uninitialized page") {
    // minElmts=4, minPtrs=2, pageBits=3 (page=8): u=3 blocks are 16 elems
    // = 2 pages. 50 chunks -> last dblock (base 46) needs only page 0; its
    // page 1 is garbage + flagged uninitialized.
    val addrs = IndexedSeq.tabulate(50)(i => 900000L + i * 64L)
    val (bytes, hdr) = buildEA(addrs, eltSize = 8, client = 0,
      maxBits = 16, idxElmts = 2, minElmts = 4, minPtrs = 2, pageBits = 3,
      uninitPages = Set((46L, 1)))
    val refs = HDF5.extensibleArrayRefs(ArraySrc(bytes), hdr,
      cd = Seq(3), shape = Seq(150), nominal = 24)
    assert(refs.length == 50)
    refs.sortBy(_.origin.head).zipWithIndex.foreach { case (r, i) =>
      assert(r.origin.head == i * 3L && r.addr == 900000L + i * 64L)
    }
  }

  test("any single corrupted metadata byte fails loudly via checksums") {
    val addrs = IndexedSeq.tabulate(100)(i => 100000L + i * 1000L)
    val (bytes, hdr) = buildEA(addrs, eltSize = 8, client = 0,
      maxBits = 32, idxElmts = 4, minElmts = 16, minPtrs = 4, pageBits = 10)
    // corrupt one byte inside the index block's address region
    val broken = bytes.clone()
    broken(90) = (broken(90) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException] {
      HDF5.extensibleArrayRefs(ArraySrc(broken), hdr,
        cd = Seq(10), shape = Seq(1000), nominal = 80)
    }
    assert(e.getMessage.contains("checksum mismatch"))
  }

  test("more than one unlimited dimension on an EA index is a loud " +
    "malformed-file reject") {
    val d = HDF5.DatasetMetaH5("v", 0L, Seq(4L, 8L),
      HDF5.DType(1, 8, littleEndian = true, signed = true),
      HDF5.ChunkedV4(4, 0L, Seq(2, 2), 0, 0, 0L, 0),
      Nil, unlimDims = Seq(0, 1))
    val e = intercept[IllegalArgumentException] {
      HDF5.chunkRefsOf(ArraySrc(new Array[Byte](16)), d)
    }
    assert(e.getMessage.contains("exactly one"))
  }

  test("finite max dims larger than current dims are a loud reject on " +
    "grid-order indexes (implicit and EA lay chunks out over the MAX grid)") {
    // growable-but-bounded (max 8 > cur 4 on dim 1, no unlimited marker):
    // decoding with current-shape strides would silently permute chunks
    val d = HDF5.DatasetMetaH5("v", 0L, Seq(4L, 4L),
      HDF5.DType(1, 8, littleEndian = true, signed = true),
      HDF5.ChunkedV4(4, 0L, Seq(2, 2), 0, 0, 0L, 0),
      Nil, unlimDims = Nil, maxShape = Seq(4L, 8L))
    val e = intercept[IllegalArgumentException] {
      HDF5.chunkRefsOf(ArraySrc(new Array[Byte](16)), d)
    }
    assert(e.getMessage.contains("max dims exceed current"))
    val dImplicit = d.copy(layout = HDF5.ChunkedV4(2, 0L, Seq(2, 2), 0, 0, 0L, 0))
    assert(intercept[IllegalArgumentException] {
      HDF5.chunkRefsOf(ArraySrc(new Array[Byte](16)), dImplicit)
    }.getMessage.contains("max dims exceed current"))
    // an UNLIMITED max on the swizzle dim is of course fine (q389 path)
    val ok = d.copy(maxShape = Seq(4L, -1L), unlimDims = Seq(1))
    // decode proceeds past the guard and fails only on the garbage bytes
    val e2 = intercept[RuntimeException] {
      HDF5.chunkRefsOf(ArraySrc(new Array[Byte](16)), ok)
    }
    assert(!e2.getMessage.contains("max dims exceed current"))
  }

  test("unlimited dim != 0: swizzled chunk order round-trips and the " +
    "on-disk order is genuinely swizzled") {
    // 7x4 var chunked (2,1): grid 4x4 = 16 chunks; unlimited dim 1 —
    // libhdf5 stores EA element k as the chunk whose SWIZZLED coords
    // (dim-1 slowest) linearize to k
    val dir = scratchDir("graft_swz")
    val vals = Array.tabulate(28)(i => (i * 37 % 101).toDouble)
    val path = s"$dir/swz.nc4"
    HDF5.writeNc4(path,
      Seq("a" -> Array.tabulate(7)(_.toDouble),
        "b" -> Array.tabulate(4)(_.toDouble)),
      Seq(HDF5.WVar("v", Seq(0, 1), vals, chunk = Some(Seq(2, 1)),
        index4 = Some("ea"), unlimDim = Some(1))))
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    val d = f.byName("v")
    assert(d.unlimDims === Seq(1))
    assert(HDF5.readVar(bytes, f, "v").toSeq === vals.toSeq)
    // the on-disk (address-ascending = write-order) origins must walk
    // dim 1 slowest — i.e. NOT plain C order
    val refs = HDF5.chunkRefsOf(ArraySrc(bytes), d)
    val byAddr = refs.sortBy(_.addr).map(_.origin)
    assert(byAddr.take(5) === Seq(Seq(0L, 0L), Seq(2L, 0L), Seq(4L, 0L),
      Seq(6L, 0L), Seq(0L, 1L)))
    // a C-order writer would have put (0,1) second; the EA element list
    // itself (refs in index order) must equal the swizzled walk too
    assert(refs.map(_.origin) === byAddr)
  }

  test("unlimited dim at 0 keeps plain C order (netCDF-4 record dim)") {
    val dir = scratchDir("graft_swz0")
    val vals = Array.tabulate(28)(i => (i * 13 % 97).toDouble)
    val path = s"$dir/rec.nc4"
    HDF5.writeNc4(path,
      Seq("a" -> Array.tabulate(7)(_.toDouble),
        "b" -> Array.tabulate(4)(_.toDouble)),
      Seq(HDF5.WVar("v", Seq(0, 1), vals, chunk = Some(Seq(2, 1)),
        index4 = Some("ea"), unlimDim = Some(0))))
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    assert(f.byName("v").unlimDims === Seq(0))
    assert(HDF5.readVar(bytes, f, "v").toSeq === vals.toSeq)
  }

  test("swizzled order at the writer's chunk-count bound round-trips " +
    "(120 chunks through direct data blocks, ragged edges)") {
    // 19x23 chunked (2,2): grid 10x12 = 120 chunks (within the writer's
    // <= 124 direct-block bound), both dims ragged so edge-chunk padding
    // crosses the swizzled walk; values chosen so any chunk permutation
    // or transposition changes the readback
    val dir = scratchDir("graft_swzL")
    val vals = Array.tabulate(19 * 23)(i => ((i * 131) % 997).toDouble)
    val path = s"$dir/swzl.nc4"
    HDF5.writeNc4(path,
      Seq("a" -> Array.tabulate(19)(_.toDouble),
        "b" -> Array.tabulate(23)(_.toDouble)),
      Seq(HDF5.WVar("v", Seq(0, 1), vals, chunk = Some(Seq(2, 2)),
        index4 = Some("ea"), unlimDim = Some(1))))
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    assert(HDF5.readVar(bytes, f, "v").toSeq === vals.toSeq)
    // write-order pin: the dim-0 walk comes first under a dim-1-slowest
    // swizzle — chunks 0..9 are (0,0)..(18,0), then chunk 10 wraps to
    // the next dim-1 stripe (0,2)
    val byAddr = HDF5.chunkRefsOf(ArraySrc(bytes), f.byName("v"))
      .sortBy(_.addr).map(_.origin)
    assert(byAddr(1) === Seq(2L, 0L) && byAddr(9) === Seq(18L, 0L) &&
      byAddr(10) === Seq(0L, 2L))
  }

  test("swizzled round-trips over randomized shapes/chunks/unlim position") {
    val rng = new scala.util.Random(0x5eed16)
    (1 to 8).foreach { trial =>
      val nd = 2 + rng.nextInt(2) // 2 or 3 dims
      val shape = Seq.fill(nd)(2 + rng.nextInt(6))
      val chunk = shape.map(s => 1 + rng.nextInt(s))
      val u = 1 + rng.nextInt(nd - 1) // unlimited dim NEVER dim 0 here
      val grid = shape.zip(chunk).map { case (s, c) => (s + c - 1) / c }
      if (grid.product <= 124) { // the fixture writer's direct bound
        val dir = scratchDir(s"graft_swzf$trial")
        val n = shape.product
        val vals = Array.tabulate(n)(i => ((i * 193 + trial) % 1009).toDouble)
        val path = s"$dir/f.nc4"
        HDF5.writeNc4(path,
          shape.zipWithIndex.map { case (s, k) =>
            s"d$k" -> Array.tabulate(s)(_.toDouble) },
          Seq(HDF5.WVar("v", shape.indices, vals,
            chunk = Some(chunk), index4 = Some("ea"), unlimDim = Some(u))))
        val bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path))
        val f = HDF5.parseFile(bytes)
        assert(f.byName("v").unlimDims === Seq(u),
          s"trial $trial shape=$shape chunk=$chunk u=$u")
        assert(HDF5.readVar(bytes, f, "v").toSeq === vals.toSeq,
          s"trial $trial shape=$shape chunk=$chunk u=$u")
      }
    }
  }

  test("swizzled-file metadata corruption still fails loudly") {
    val dir = scratchDir("graft_swzc")
    val vals = Array.tabulate(28)(_.toDouble)
    val path = s"$dir/swz.nc4"
    HDF5.writeNc4(path,
      Seq("a" -> Array.tabulate(7)(_.toDouble),
        "b" -> Array.tabulate(4)(_.toDouble)),
      Seq(HDF5.WVar("v", Seq(0, 1), vals, chunk = Some(Seq(2, 1)),
        index4 = Some("ea"), unlimDim = Some(1))))
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(bytes)
    val d = f.byName("v")
    val hdrAddr = d.layout match {
      case HDF5.ChunkedV4(4, a, _, _, _, _, _) => a
      case other => fail(s"unexpected layout $other")
    }
    // flip a byte inside the EA index block's element region
    val broken = bytes.clone()
    val off = (hdrAddr + 72 + 20).toInt
    broken(off) = (broken(off) ^ 0x10).toByte
    val e = intercept[RuntimeException] {
      HDF5.chunkRefsOf(ArraySrc(broken), d)
    }
    assert(e.getMessage.contains("checksum") ||
      e.getMessage.contains("parse failed"))
  }
}
