package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal netCDF-4 (HDF5 container) reader + fixture writer — the
  * missing-most-often real-data entry point (reference engine
  * `backends/netCDF4_.py:680`, `backends/h5netcdf_.py`; every structure
  * below is from the public "HDF5 File Format Specification Version
  * 2.0/3.0", https://docs.hdfgroup.org/hdf5/develop/_f_m_t3.html).
  *
  * Bounded scope, mirroring the classic-CDF parser next door:
  *  - superblock v0 AND v2/v3 (scanned at the spec's 0/512/1024/... offsets)
  *  - v1 object headers (+ continuations) and v2 "OHDR" headers
  *  - old-style groups (v1 B-tree + SNOD + local heap), v2 COMPACT groups
  *    (link messages), and v2 DENSE groups (fractal heap + link-name
  *    B-tree v2; direct, root-indirect, and NESTED indirect blocks via
  *    the spec's doubling table; FILTERED heaps — deflate/shuffle/
  *    fletcher32 on whole direct blocks with per-block masks)
  *  - datasets: the [[Elem]] fixed-point and IEEE-float datatypes, nbit
  *    reduced-precision fixed point, compound types (per-member reads),
  *    contiguous and chunked layouts —
  *    the v1 chunk B-tree plus ALL five layout-v4 indexes HDF5 1.10+
  *    writes under libver="latest" (single chunk, implicit, fixed array
  *    incl. paged data blocks, extensible array incl. super blocks and
  *    paged data blocks, v2 B-tree); the filter pipeline in any declared
  *    order, each filter id a codec of the table ([[Codec]]), honoring the
  *    per-chunk filter mask — other ids are rejected per-variable
  *  - attributes: fixed-size strings/numbers, and vlen-of-object-reference
  *    via the global heap — exactly what netCDF-4's DIMENSION_LIST needs
  *  - netCDF-4 dimension model: datasets attributed
  *    CLASS="DIMENSION_SCALE" are dims; data variables map their axes
  *    through the DIMENSION_LIST references (netcdf-c docs, "NetCDF-4
  *    Format" dimension-scale convention)
  *
  * The writer emits the same subset (superblock v0, dimension scales,
  * DIMENSION_LIST, chunked+deflate) so the roundtrip exercises every
  * reader path; it is the fixture/export path, bulk data goes to parquet.
  *
  * 100 TB shape: like [[NetCDF.toLongDF]] — the driver parses only
  * metadata (headers, chunk indexes, coordinate scales); each stored
  * chunk or contiguous row band is one executor task that preads and
  * decodes exactly its bytes. */
object HDF5 {

  private val UNDEF = -1L // 0xFFFFFFFFFFFFFFFF
  private val SIG = Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')
    .map(_.toByte)

  // ------------------------------------------------------------------
  // model
  // ------------------------------------------------------------------

  /** Datatype subset: fixed-point / float / string / reference / vlen /
    * compound (members = (name, byteOffset, type)). `precBits`/`bitOff`
    * carry a fixed-point type's declared precision/bit-offset (0/full =
    * ordinary full-width integers) — an nbit-filtered variable restores
    * bytes with ONLY those bits populated, so the scalar decode must
    * extract + sign-extend that span, exactly as H5T conversion does. */
  case class DType(clazz: Int, size: Int, littleEndian: Boolean,
                   signed: Boolean, base: Option[DType] = None,
                   members: Seq[(String, Int, DType)] = Nil,
                   precBits: Int = 0, bitOff: Int = 0)

  sealed trait Layout
  case class Contiguous(addr: Long, size: Long) extends Layout
  case class Chunked(btree: Long, chunkDims: Seq[Int]) extends Layout
  /** Layout-message v4 chunked storage (HDF5 1.10+). `indexType`:
    * 1 = single chunk, 2 = implicit, 3 = fixed array, 4 = extensible
    * array, 5 = v2 B-tree — all five decoded. */
  case class ChunkedV4(indexType: Int, addr: Long, chunkDims: Seq[Int],
                       flags: Int, pageBits: Int,
                       singleSize: Long, singleMask: Int) extends Layout

  case class Attr(name: String, text: String = null,
                  nums: Array[Double] = null, refs: Array[Long] = null)

  /** `filters` is the DECLARED pipeline order from the 0x0B message:
    * (filter id, client data), applied first-to-last on write and undone
    * last-to-first on read. Order matters — h5py's set_fletcher32 puts
    * the checksum OUTERMOST (covers the compressed bytes) while netCDF-C
    * puts it innermost; the decode walks the recorded order either way. */
  case class DatasetMetaH5(name: String, addr: Long, shape: Seq[Long],
                           dtype: DType, layout: Layout, attrs: Seq[Attr],
                           filters: Seq[(Int, Seq[Int])] = Nil,
                           parseError: Option[String] = None,
                           unlimDims: Seq[Int] = Nil,
                           maxShape: Seq[Long] = Nil) {
    def deflate: Boolean = filters.exists(_._1 == 1)
    def shuffleElem: Option[Int] =
      filters.find(_._1 == 2).map(_._2.headOption.getOrElse(1))
    def fletcher32: Boolean = filters.exists(_._1 == 3)
    def badFilters: Seq[Int] = filters.filterNot(Codec.hdf5.isDefinedAt).map(_._1)
    def attr(n: String): Option[Attr] = attrs.find(_.name == n)
    def isDimScale: Boolean =
      attr("CLASS").exists(a => Option(a.text).contains("DIMENSION_SCALE"))
  }

  case class H5File(datasets: Seq[DatasetMetaH5]) {
    def byName(n: String): DatasetMetaH5 = datasets.find(_.name == n)
      .getOrElse(throw new NoSuchElementException(n))
    def byAddr(a: Long): Option[DatasetMetaH5] = datasets.find(_.addr == a)
    /** netCDF-4 dims: dimension-scale datasets (name -> length). */
    def dims: Seq[(String, Long)] =
      datasets.filter(_.isDimScale).map(d => d.name -> d.shape.head)
    /** A variable's dim names via its DIMENSION_LIST references. */
    def varDims(v: DatasetMetaH5): Seq[String] =
      v.attr("DIMENSION_LIST") match {
        case Some(a) if a.refs != null =>
          a.refs.toSeq.map(r => byAddr(r).getOrElse(sys.error(
            s"DIMENSION_LIST of ${v.name} references unknown object $r"))
            .name)
        case _ => sys.error(s"${v.name} has no DIMENSION_LIST " +
          "(only dimension-scale-attributed netCDF-4 files are supported)")
      }
  }

  // ------------------------------------------------------------------
  // reader
  // ------------------------------------------------------------------

  private def buf(bytes: H5Src, pos: Long, len: Int): ByteBuffer =
    bytes.at(pos, len)

  /** Superblock scan per spec: byte 0, then 512, 1024, ... */
  private def findSuperblock(bytes: H5Src): Long = {
    def sigAt(off: Long): Boolean =
      off + 8 <= bytes.length &&
        (0 until 8).forall(i => bytes.byteAt(off + i) == SIG(i))
    if (sigAt(0)) 0L
    else Iterator.iterate(512L)(_ * 2).takeWhile(_ < bytes.length)
      .find(sigAt)
      .getOrElse(sys.error("not an HDF5 file (no superblock signature)"))
  }

  /** Parse the file: returns every dataset reachable from the root group. */
  def parseFile(bytes: H5Src): H5File = {
    val sb = findSuperblock(bytes)
    val ver = bytes.byteAt(sb + 8) & 0xff
    val rootEntries: Seq[(String, Long)] = ver match {
      case 0 | 1 =>
        val b = buf(bytes, sb + 8, if (ver == 1) 92 else 88)
        b.get() // superblock version
        b.get(); b.get(); b.get(); b.get() // freespace/root/reserved/shm vers
        val offSz = b.get() & 0xff; val lenSz = b.get() & 0xff
        require(offSz == 8 && lenSz == 8,
          s"only 8-byte offsets/lengths supported (got $offSz/$lenSz)")
        b.get() // reserved
        b.getShort(); b.getShort() // group leaf/internal k
        b.getInt() // consistency flags
        // v1 inserts Indexed Storage Internal Node K (2) + reserved (2)
        // here — skipping it read base/root addresses 4 bytes early
        if (ver == 1) { b.getShort(); b.getShort() }
        b.getLong() // base address
        b.getLong() // free space
        b.getLong() // eof
        b.getLong() // driver info
        // root group symbol table entry
        b.getLong() // link name offset
        val rootOH = b.getLong()
        val cacheType = b.getInt(); b.getInt() // cache type + reserved
        val btreeAddr = b.getLong(); val heapAddr = b.getLong()
        if (cacheType == 1)
          // cached symbol-table scratch: B-tree + heap addresses are right
          // in the superblock entry; walk them
          walkGroupV1(bytes, btreeAddr, heapAddr)
        else {
          // no cached scratch: the root OH says how links are stored —
          // symbol-table message (old groups), link messages (compact), or
          // Link Info (dense fractal heap; libhdf5 emits these under a v0
          // superblock too once a group outgrows compact storage)
          val msgs = parseObjectHeader(bytes, rootOH)
          val links = msgs.collect { case m if m.typ == 0x06 =>
            parseLinkMessage(m.body) }
          msgs.find(_.typ == 0x11) match {
            case Some(st) =>
              val sb2 = ByteBuffer.wrap(st.body).order(ByteOrder.LITTLE_ENDIAN)
              walkGroupV1(bytes, sb2.getLong(), sb2.getLong())
            case None if links.nonEmpty => links
            case None => msgs.find(_.typ == 0x02) match {
              case Some(li) => walkDenseGroup(bytes, li.body)
              case None => sys.error("root group has no link storage")
            }
          }
        }
      case 2 | 3 =>
        val b = buf(bytes, sb + 8, 40)
        b.get() // version
        val offSz = b.get() & 0xff; val lenSz = b.get() & 0xff
        require(offSz == 8 && lenSz == 8, "only 8-byte offsets/lengths")
        b.get() // consistency flags
        b.getLong() // base address
        b.getLong() // superblock extension
        b.getLong() // eof
        val rootOH = b.getLong()
        val msgs = parseObjectHeader(bytes, rootOH)
        val links = msgs.collect { case m if m.typ == 0x06 =>
          parseLinkMessage(m.body) }
        // no compact link messages + a Link Info message -> DENSE group:
        // links live as fractal-heap objects indexed by a name v2 B-tree
        // (libhdf5's storage once a group passes the compact limit)
        if (links.nonEmpty) links
        else msgs.find(_.typ == 0x02) match {
          case Some(li) => walkDenseGroup(bytes, li.body)
          case None => links
        }
      case v => sys.error(s"unsupported superblock version $v")
    }
    // one unparseable object (exotic datatype, unknown message layout)
    // must not make every OTHER variable in the file unreadable: record
    // the error on the object and fail only on access
    H5File(rootEntries.map { case (name, addr) =>
      try parseDataset(bytes, name, addr)
      catch { case e: Exception =>
        DatasetMetaH5(name, addr, Nil, DType(-1, 0, littleEndian = true,
          signed = false), Contiguous(UNDEF, 0L), Nil,
          parseError = Some(String.valueOf(e.getMessage)))
      }
    })
  }

  /** v1 group: B-tree (node type 0) over SNOD symbol nodes + local heap. */
  private def walkGroupV1(bytes: H5Src, btreeAddr: Long,
                          heapAddr: Long): Seq[(String, Long)] = {
    // local heap: "HEAP" v0, data segment size/free-list/data address
    val hb = buf(bytes, heapAddr, 32)
    require(hb.get() == 'H' && hb.get() == 'E' && hb.get() == 'A' &&
      hb.get() == 'P', "bad local heap signature")
    hb.get(); hb.get(); hb.get(); hb.get() // version + reserved
    hb.getLong() // data segment size
    hb.getLong() // free list head
    val heapData = hb.getLong()
    def heapName(off: Long): String = {
      // NUL-terminated UTF-8 (Byte.toChar would sign-extend non-ASCII
      // bytes into mojibake — link messages already decode UTF-8, and the
      // two group walks must agree on names)
      var i = heapData + off
      val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
      while (bytes.byteAt(i) != 0) { bb += bytes.byteAt(i); i += 1 }
      new String(bb.toArray, "UTF-8")
    }
    def walkNode(addr: Long): Seq[(String, Long)] = {
      val b = buf(bytes, addr, 24)
      require(b.get() == 'T' && b.get() == 'R' && b.get() == 'E' &&
        b.get() == 'E', "bad group B-tree signature")
      val nodeType = b.get() & 0xff; val level = b.get() & 0xff
      require(nodeType == 0, s"expected group B-tree, got type $nodeType")
      val used = b.getShort() & 0xffff
      b.getLong(); b.getLong() // siblings
      // keys are heap offsets (8), children are addresses (8), interleaved
      val kb = buf(bytes, addr + 24, (used * 2 + 1) * 8)
      val childAddrs = (0 until used).map { _ =>
        kb.getLong() // key i (heap offset of the lowest name — unused)
        kb.getLong() // child i
      }
      childAddrs.flatMap { child =>
        if (level > 0) walkNode(child)
        else { // SNOD
          val s = buf(bytes, child, 8)
          require(s.get() == 'S' && s.get() == 'N' && s.get() == 'O' &&
            s.get() == 'D', "bad symbol node signature")
          s.get(); s.get() // version + reserved
          val n = s.getShort() & 0xffff
          (0 until n).map { i =>
            val e = buf(bytes, child + 8 + i * 40L, 40)
            val nameOff = e.getLong(); val oh = e.getLong()
            (heapName(nameOff), oh)
          }
        }
      }
    }
    walkNode(btreeAddr)
  }

  // ------------------------------------------------------------------
  // dense (fractal-heap) link/attribute storage
  // ------------------------------------------------------------------

  /** Fractal heap header fields needed to resolve managed heap IDs
    * (spec "Fractal Heap" / FRHP). A FILTERED heap (libhdf5's
    * H5Pset_link/attr_phase_change + deflate world) carries its own
    * embedded filter-pipeline message; every direct block is then stored
    * filtered whole — header included — with per-block stored sizes and
    * filter masks (in the FRHP for a root direct block, in the parent
    * FHIB entries otherwise). */
  private[graft] case class FractalHeap(idLen: Int, flags: Int, maxManagedSize: Int,
                                 tableWidth: Int, startBlockSize: Long,
                                 maxDirectSize: Long, maxHeapBits: Int,
                                 rootAddr: Long, curRows: Int,
                                 filters: Seq[(Int, Seq[Int])] = Nil,
                                 filteredRootSize: Long = 0L,
                                 rootFilterMask: Int = 0,
                                 managedSpace: Long = 0L) {
    def offSize: Int = (maxHeapBits + 7) / 8
    def lenSize: Int = minBytes(maxManagedSize.toLong & 0xffffffffL)
  }

  /** One managed direct block: heap-space offset, nominal size, file
    * address, and (filtered heaps only) the stored on-disk size + the
    * per-block filter mask (`stored` = -1 means unfiltered). */
  private[graft] case class DirectBlk(off: Long, size: Long, addr: Long,
                                      stored: Long = -1L, mask: Int = 0)

  private def minBytes(v: Long): Int = {
    var n = 1; var x = v >>> 8
    while (x != 0) { n += 1; x >>>= 8 }
    n
  }

  /** Filter-pipeline message body (object-header message 0x0B, and the
    * identical copy a filtered fractal heap embeds): (id, client data)
    * in declared pipeline order. */
  private def parseFilterPipeline(b: ByteBuffer): Seq[(Int, Seq[Int])] = {
    val ver = b.get() & 0xff
    val nf = b.get() & 0xff
    if (ver == 1) { b.getShort(); b.getInt() }
    (0 until nf).map { _ =>
      val id = b.getShort() & 0xffff
      val nameLen =
        if (ver == 2 && id < 256) 0 else b.getShort() & 0xffff
      b.getShort() // flags
      val ncd = b.getShort() & 0xffff
      b.position(b.position() + nameLen) // v1 length includes padding
      val cd = (0 until ncd).map(_ => b.getInt())
      if (ver == 1 && ncd % 2 == 1) b.getInt() // pad to 8
      id -> cd
    }
  }

  /** Undo a declared pipeline on ONE storage block (chunk or fractal-heap
    * direct block), last-to-first, honoring the per-block filter mask
    * (bit i set = pipeline[i] skipped). Each stage decodes to the nominal
    * size carried through every inner stage (fletcher32 adds its 4
    * checksum bytes, nbit packs); outside a scale-offset stage that size
    * is only an upper bound. */
  private def defilter(raw: Array[Byte], filters: Seq[(Int, Seq[Int])],
                       mask: Int, nominal: Int,
                       what: String): Array[Byte] = {
    val codecs = filters.zipWithIndex.collect {
      case (f, i) if (mask & (1 << i)) == 0 => Codec.hdf5.applyOrElse(f,
        (f: (Int, Seq[Int])) => sys.error(s"unsupported filter id ${f._1} in $what"))
    }
    val sizes = codecs.scanLeft(nominal)((n, c) => c.encodedSize(n))
    val exact = codecs.scanLeft(true)((e, c) => e && !c.isInstanceOf[Codec.ScaleOffset])
    codecs.indices.foldRight(raw)((k, cur) =>
      codecs(k).decode(cur, sizes(k), what, exact(k)))
  }

  private[graft] def parseFRHP(bytes: H5Src, addr: Long): FractalHeap = {
    val b = buf(bytes, addr, 200)
    require(b.get() == 'F' && b.get() == 'R' && b.get() == 'H' &&
      b.get() == 'P', "bad fractal heap signature")
    require((b.get() & 0xff) == 0, "fractal heap version")
    val idLen = b.getShort() & 0xffff
    val filterLen = b.getShort() & 0xffff
    val flags = b.get() & 0xff
    val maxManaged = b.getInt()
    b.getLong(); b.getLong() // next huge id + huge v2 btree
    b.getLong(); b.getLong() // free space + free space mgr
    val managedSpace = b.getLong()
    b.getLong() // allocated managed space
    b.getLong() // direct block iterator offset
    b.getLong() // number of managed objects
    b.getLong(); b.getLong() // huge size + count
    b.getLong(); b.getLong() // tiny size + count
    val tableWidth = b.getShort() & 0xffff
    val startBlock = b.getLong()
    val maxDirect = b.getLong()
    val maxHeapBits = b.getShort() & 0xffff
    b.getShort() // starting # rows in root indirect block
    val rootAddr = b.getLong()
    val curRows = b.getShort() & 0xffff
    // filtered heap: stored size + mask of the ROOT direct block (only
    // meaningful when curRows == 0), then the embedded pipeline message
    val (filters, filtRootSize, rootMask) =
      if (filterLen == 0) (Nil, 0L, 0)
      else {
        val frs = b.getLong()
        val fm = b.getInt()
        (parseFilterPipeline(b), frs, fm)
      }
    FractalHeap(idLen, flags, maxManaged, tableWidth, startBlock,
      maxDirect, maxHeapBits, rootAddr, curRows,
      filters, filtRootSize, rootMask, managedSpace)
  }

  /** Direct blocks of the heap as (heapSpaceOffset, size, fileAddr).
    * Root-direct, root-indirect, and NESTED indirect layouts (the spec's
    * doubling table: row r holds `tableWidth` blocks of
    * `startBlockSize << max(r-1, 0)` bytes; rows past the max-direct row
    * hold child indirect blocks whose own row grid restarts at
    * `startBlockSize` and tiles exactly the parent entry's span —
    * nrows(S) = log2(S / (startBlockSize*tableWidth)) + 1). Each FHIB
    * stores the heap offset it covers, so the walk trusts the file
    * rather than re-deriving child offsets. */
  private[graft] def directBlocks(bytes: H5Src,
                           fh: FractalHeap): Seq[DirectBlk] = {
    val filtered = fh.filters.nonEmpty
    if (fh.curRows == 0)
      // root IS a single direct block covering heap offsets [0, size);
      // every managed offset lands in it. Unfiltered needs no size bound;
      // filtered must know the nominal size to defilter, and a single-
      // block heap's managed space IS that block's size.
      return Seq(
        if (filtered) DirectBlk(0L, fh.managedSpace, fh.rootAddr,
          fh.filteredRootSize, fh.rootFilterMask)
        else DirectBlk(0L, Long.MaxValue, fh.rootAddr))
    def dblockSize(r: Int): Long =
      if (r <= 1) fh.startBlockSize else fh.startBlockSize << (r - 1)
    val maxDirectRows =
      (64 - java.lang.Long.numberOfLeadingZeros(
        fh.maxDirectSize / fh.startBlockSize)).toInt + 1
    def nrowsOf(iblockSize: Long): Int =
      (63 - java.lang.Long.numberOfLeadingZeros(
        iblockSize / (fh.startBlockSize * fh.tableWidth))).toInt + 1
    val out = Seq.newBuilder[DirectBlk]
    def walk(addr: Long, nrows: Int): Unit = {
      val directRows = math.min(nrows, maxDirectRows)
      // filtered heaps append (stored size: size-of-lengths = 8 bytes,
      // as libhdf5's H5HF indirect child entries encode it, mask: 4) to
      // every DIRECT-row entry — absent entries included
      val entryExtra = if (filtered) 8 + 4 else 0
      val b = buf(bytes, addr,
        4 + 1 + 8 + fh.offSize + nrows * fh.tableWidth * 8 +
          directRows * fh.tableWidth * entryExtra)
      require(b.get() == 'F' && b.get() == 'H' && b.get() == 'I' &&
        b.get() == 'B', "bad fractal heap indirect block signature")
      require((b.get() & 0xff) == 0, "indirect block version")
      b.getLong() // heap header address
      var blockOff = 0L
      (0 until fh.offSize).foreach(i =>
        blockOff |= (b.get() & 0xffL) << (8 * i))
      var heapOff = blockOff
      (0 until nrows).foreach { r =>
        val size = dblockSize(r)
        (0 until fh.tableWidth).foreach { _ =>
          val a = b.getLong()
          if (r < maxDirectRows) {
            var stored = -1L; var mask = 0
            if (filtered) {
              stored = b.getLong()
              mask = b.getInt()
            }
            if (a != UNDEF) out += DirectBlk(heapOff, size, a, stored, mask)
          } else if (a != UNDEF) walk(a, nrowsOf(size))
          heapOff += size // unallocated blocks still occupy heap space
        }
      }
    }
    walk(fh.rootAddr, fh.curRows)
    out.result()
  }

  /** Per-heap walk context: the direct-block table is computed ONCE and
    * defiltered block bytes are memoized, so resolving N objects costs
    * one defilter per block, not per object (a dense group keeps every
    * link in a handful of blocks — per-object defiltering was O(N) whole-
    * block inflates). */
  private[graft] final class HeapCtx(bytes: H5Src, fh: FractalHeap) {
    private val blocks = directBlocks(bytes, fh)
    private val plain =
      scala.collection.mutable.HashMap.empty[Long, Array[Byte]]
    /** Resolve a MANAGED heap ID to object bytes. Filtered heaps
      * defilter the whole containing direct block (header included —
      * that is how libhdf5 stores them) before slicing the object out. */
    def objectAt(heapId: Array[Byte]): Array[Byte] = {
      val idFlags = heapId(0) & 0xff
      require((idFlags & 0x30) == 0,
        s"only managed fractal-heap objects supported (type ${(idFlags >> 4) & 3})")
      var off = 0L
      (0 until fh.offSize).foreach(i => off |= (heapId(1 + i) & 0xffL) << (8 * i))
      var len = 0L
      (0 until fh.lenSize).foreach(i =>
        len |= (heapId(1 + fh.offSize + i) & 0xffL) << (8 * i))
      val blk = blocks
        .find(t => off >= t.off && off < t.off + t.size)
        .getOrElse(sys.error(s"heap offset $off outside any direct block"))
      if (blk.stored >= 0) {
        val p = plain.getOrElseUpdate(blk.addr, defilter(
          bytes.slice(blk.addr, blk.stored.toInt), fh.filters, blk.mask,
          blk.size.toInt, "a fractal-heap direct block"))
        java.util.Arrays.copyOfRange(p,
          (off - blk.off).toInt, (off - blk.off + len).toInt)
      } else bytes.slice(blk.addr + (off - blk.off), len.toInt)
    }
  }

  private[graft] def fheapObject(bytes: H5Src, fh: FractalHeap,
                          heapId: Array[Byte]): Array[Byte] =
    new HeapCtx(bytes, fh).objectAt(heapId)

  /** v2 B-tree (BTHD) record enumeration, depth 0 (one BTLF leaf) and
    * depth 1 (BTIN root over leaves — wide netCDF-4 groups/attr sets hit
    * this past ~185 entries). Internal nodes carry REAL records as leaf
    * separators, so enumeration interleaves child leaves and root
    * records. Depth ≥ 2 (hundreds of thousands of links) errors out. */
  private def v2BtreeRecords(bytes: H5Src,
                             addr: Long): Seq[Array[Byte]] = {
    val b = buf(bytes, addr, 38)
    require(b.get() == 'B' && b.get() == 'T' && b.get() == 'H' &&
      b.get() == 'D', "bad v2 B-tree signature")
    require((b.get() & 0xff) == 0, "v2 B-tree version")
    b.get() // record type
    val nodeSize = b.getInt()
    val recSize = b.getShort() & 0xffff
    val depth = b.getShort() & 0xffff
    require(depth <= 1, s"v2 B-tree depth $depth not supported (0/1 only)")
    b.get(); b.get() // split/merge percent
    val rootAddr = b.getLong()
    val rootNrec = b.getShort() & 0xffff
    def leafRecords(leafAddr: Long, n: Int): Seq[Array[Byte]] = {
      val lb = buf(bytes, leafAddr, 6)
      require(lb.get() == 'B' && lb.get() == 'T' && lb.get() == 'L' &&
        lb.get() == 'F', "bad v2 B-tree leaf signature")
      (0 until n).map { i =>
        bytes.slice(leafAddr + 6 + i.toLong * recSize, recSize)
      }
    }
    if (depth == 0) leafRecords(rootAddr, rootNrec)
    else {
      // child-pointer "number of records" field width derives from the
      // max records a leaf can hold (spec: v2 B-tree node pointer sizes)
      val szN = minBytes(((nodeSize - 10) / recSize).toLong)
      val ib = buf(bytes, rootAddr, 6)
      require(ib.get() == 'B' && ib.get() == 'T' && ib.get() == 'I' &&
        ib.get() == 'N', "bad v2 B-tree internal-node signature")
      var p = rootAddr + 6
      def childPtr(): (Long, Int) = {
        val cb = buf(bytes, p, 8 + szN)
        val a = cb.getLong()
        var n = 0L
        (0 until szN).foreach(i => n |= (cb.get() & 0xffL) << (8 * i))
        p += 8 + szN
        (a, n.toInt)
      }
      val out = Seq.newBuilder[Array[Byte]]
      (0 until rootNrec).foreach { _ =>
        val (ca, cn) = childPtr()
        out ++= leafRecords(ca, cn)
        out += bytes.slice(p, recSize)
        p += recSize
      }
      val (ca, cn) = childPtr()
      out ++= leafRecords(ca, cn)
      out.result()
    }
  }

  /** Link Info message (0x02) -> (fractal heap addr, name v2 btree addr). */
  private def parseLinkInfo(body: Array[Byte]): (Long, Long) = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    require((b.get() & 0xff) == 0, "link info version")
    val flags = b.get() & 0xff
    if ((flags & 1) != 0) b.getLong() // max creation index
    (b.getLong(), b.getLong())
  }

  /** Dense group walk: every name-index record's heap ID resolves to a
    * serialized link message in the group's fractal heap. Record type 5 =
    * hash(4) + heap ID; the hash is a lookup key we don't need — records
    * are enumerated exhaustively. */
  private def walkDenseGroup(bytes: H5Src,
                             linkInfoBody: Array[Byte]): Seq[(String, Long)] = {
    val (fheapAddr, btAddr) = parseLinkInfo(linkInfoBody)
    require(fheapAddr != UNDEF && btAddr != UNDEF,
      "dense group without fractal heap / name index")
    val heap = new HeapCtx(bytes, parseFRHP(bytes, fheapAddr))
    v2BtreeRecords(bytes, btAddr).map { rec =>
      parseLinkMessage(heap.objectAt(rec.drop(4)))
    }
  }

  /** Attribute Info message (0x15) -> dense attributes. Record type 8 =
    * heap ID(8) + message flags(1) + creation order(4) + hash(4). */
  private def denseAttrs(bytes: H5Src,
                         body: Array[Byte]): Seq[Attr] = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    require((b.get() & 0xff) == 0, "attribute info version")
    val flags = b.get() & 0xff
    if ((flags & 1) != 0) b.getShort() // max creation index (2 bytes here)
    val fheapAddr = b.getLong()
    val btAddr = b.getLong()
    if (fheapAddr == UNDEF || btAddr == UNDEF) Nil
    else {
      val heap = new HeapCtx(bytes, parseFRHP(bytes, fheapAddr))
      v2BtreeRecords(bytes, btAddr).map { rec =>
        parseAttr(bytes, heap.objectAt(rec.take(8)))
      }
    }
  }

  private case class Msg(typ: Int, body: Array[Byte])

  /** Object header messages, v1 (with continuations) or v2 "OHDR". */
  private def parseObjectHeader(bytes: H5Src, addr: Long): Seq[Msg] = {
    if (bytes.byteAt(addr) == 'O' && bytes.byteAt(addr + 1) == 'H') {
      // v2: OHDR — the prefix is up to 34 bytes when the times (0x20,
      // +16, libhdf5's obj_track_times DEFAULT) and phase-change (0x10,
      // +4) flags are set, so read a 40-byte window, and track consumed
      // bytes relative to the buffer's OWN start (ArraySrc buffers are
      // positioned at the absolute offset, PreadSrc copies start at 0 —
      // `position - addr` is wrong for the latter)
      val b = buf(bytes, addr,
        math.min(40L, bytes.length - addr).toInt)
      val p0 = b.position()
      b.get(); b.get(); b.get(); b.get() // "OHDR"
      require(b.get() == 2, "OHDR version")
      val flags = b.get() & 0xff
      if ((flags & 0x20) != 0) { b.getInt(); b.getInt(); b.getInt(); b.getInt() }
      if ((flags & 0x10) != 0) { b.getShort(); b.getShort() }
      val szBytes = 1 << (flags & 0x3)
      val chunk0 = szBytes match {
        case 1 => b.get() & 0xffL
        case 2 => b.getShort() & 0xffffL
        case 4 => b.getInt() & 0xffffffffL
        case 8 => b.getLong()
      }
      val start = addr + (b.position() - p0)
      parseV2Messages(bytes, start, chunk0, (flags & 0x4) != 0)
    } else {
      // v1
      val b = buf(bytes, addr, 16)
      require(b.get() == 1, "v1 object header version")
      b.get() // reserved
      val nmsg = b.getShort() & 0xffff
      b.getInt() // ref count
      val hdrSize = b.getInt() & 0xffffffffL
      // messages start 8-aligned (prefix is 16 bytes with padding)
      var out = Vector.empty[Msg]
      var blocks = List((addr + 16, hdrSize))
      var remaining = nmsg
      while (remaining > 0 && blocks.nonEmpty) {
        val (bAddr, bSize) = blocks.head; blocks = blocks.tail
        var p = bAddr
        val end = bAddr + bSize
        while (remaining > 0 && p + 8 <= end) {
          val mb = buf(bytes, p, 8)
          val typ = mb.getShort() & 0xffff
          val size = mb.getShort() & 0xffff
          mb.get(); mb.get(); mb.get(); mb.get() // flags + reserved
          val body = bytes.slice(p + 8, size)
          if (typ == 0x10) { // continuation
            val cb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
            blocks = blocks :+ ((cb.getLong(), cb.getLong()))
          } else out :+= Msg(typ, body)
          remaining -= 1
          p += 8 + size
        }
      }
      out
    }
  }

  /** v2 message stream (chunk 0 body; OCHK continuations). */
  private def parseV2Messages(bytes: H5Src, start: Long, size: Long,
                              creationOrder: Boolean): Seq[Msg] = {
    var out = Vector.empty[Msg]
    var blocks = List((start, size, false))
    while (blocks.nonEmpty) {
      val (bAddr, bSize, isCont) = blocks.head; blocks = blocks.tail
      var p = bAddr + (if (isCont) 4 else 0) // skip OCHK signature
      val end = bAddr + bSize - 4 // gap-free files: checksum at the end
      while (p + 4 <= end) {
        val mb = buf(bytes, p, 8)
        val typ = mb.get() & 0xff
        val size = mb.getShort() & 0xffff
        mb.get() // flags
        val hdr = if (creationOrder) { 6 } else 4
        if (creationOrder) buf(bytes, p + 4, 2).getShort()
        val body = bytes.slice(p + hdr, size)
        if (typ == 0x10) {
          val cb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
          blocks = blocks :+ ((cb.getLong(), cb.getLong(), true))
        } else out :+= Msg(typ, body)
        p += hdr + size
      }
    }
    out
  }

  /** Link message (v2 groups): hard links only. */
  private def parseLinkMessage(body: Array[Byte]): (String, Long) = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    require(b.get() == 1, "link message version")
    val flags = b.get() & 0xff
    val linkType = if ((flags & 0x08) != 0) b.get() & 0xff else 0
    require(linkType == 0, s"only hard links supported (type $linkType)")
    if ((flags & 0x04) != 0) b.getLong() // creation order
    if ((flags & 0x10) != 0) b.get() // charset
    val nameLen: Long = (flags & 0x3) match {
      case 0 => b.get() & 0xffL
      case 1 => b.getShort() & 0xffffL
      case 2 => b.getInt() & 0xffffffffL
      case 3 => b.getLong()
    }
    val name = new Array[Byte](nameLen.toInt); b.get(name)
    (new String(name, "UTF-8"), b.getLong())
  }

  private def parseDType(b: ByteBuffer): DType = {
    val cv = b.get() & 0xff
    val clazz = cv & 0xf
    val b0 = b.get() & 0xff; val b1 = b.get() & 0xff; b.get()
    val size = b.getInt()
    clazz match {
      case 0 => // fixed point: props bitoffset(2) precision(2)
        val bo = b.getShort() & 0xffff; val pr = b.getShort() & 0xffff
        DType(0, size, littleEndian = (b0 & 1) == 0,
          signed = (b0 & 8) != 0, precBits = pr, bitOff = bo)
      case 1 => // float: props 12 bytes
        b.getShort(); b.getShort(); b.get(); b.get(); b.get(); b.get()
        b.getInt()
        DType(1, size, littleEndian = (b0 & 1) == 0, signed = true)
      case 3 => // string
        DType(3, size, littleEndian = true, signed = false)
      case 7 => // reference
        DType(7, size, littleEndian = true, signed = false)
      case 6 => // compound: members inline, each a (name, offset, type)
        val ver = (cv >> 4) & 0xf
        val nMembers = b0 | (b1 << 8)
        val members = (0 until nMembers).map { _ =>
          val name = {
            val sb = new StringBuilder
            var c = b.get()
            while (c != 0) { sb.append(c.toChar); c = b.get() }
            if (ver <= 2) { // v1/v2 names null-pad to 8-byte multiples
              var read = sb.length + 1
              while (read % 8 != 0) { b.get(); read += 1 }
            }
            sb.toString
          }
          val off = ver match {
            case 1 | 2 => b.getInt()
            case _ => // v3: offset uses min bytes for the compound's size
              var v = 0L
              (0 until minBytes(size.toLong)).foreach(i =>
                v |= (b.get() & 0xffL) << (8 * i))
              v.toInt
          }
          if (ver == 1) { // v1: dimensionality + perm + reserved + 4 sizes
            b.get(); b.get(); b.get(); b.get()
            b.getInt(); b.getInt()
            (0 until 4).foreach(_ => b.getInt())
          }
          (name, off, parseDType(b))
        }
        DType(6, size, littleEndian = true, signed = false,
          members = members)
      case 9 => // vlen: base type follows
        val base = parseDType(b)
        DType(9, size, littleEndian = true, signed = false, Some(base))
      case c => sys.error(s"unsupported datatype class $c")
    }
  }

  private def parseDataspace(b: ByteBuffer): Seq[Long] =
    parseDataspaceFull(b)._1

  /** (dims, maxdims, indices of UNLIMITED dims). Max dims follow the
    * current dims when flags bit 0 is set (else max = current);
    * H5S_UNLIMITED is the undefined address. */
  private def parseDataspaceFull(b: ByteBuffer)
      : (Seq[Long], Seq[Long], Seq[Int]) = {
    val ver = b.get() & 0xff
    val rank = b.get() & 0xff
    val flags = b.get() & 0xff
    if (ver == 1) { b.get(); b.getInt() } // reserved(5)
    else b.get() // v2: type
    val dims = (0 until rank).map(_ => b.getLong())
    val maxdims =
      if ((flags & 1) != 0) (0 until rank).map(_ => b.getLong())
      else dims
    val unlim = maxdims.zipWithIndex
      .collect { case (m, i) if m == UNDEF => i }
    (dims, maxdims, unlim)
  }

  /** GCOL global heap object lookup (for vlen attribute values). */
  private def gheapObject(bytes: H5Src, collection: Long,
                          index: Int): Array[Byte] = {
    val b = buf(bytes, collection, 16)
    require(b.get() == 'G' && b.get() == 'C' && b.get() == 'O' &&
      b.get() == 'L', "bad global heap signature")
    b.get(); b.get(); b.get(); b.get() // version + reserved
    val collSize = b.getLong()
    var p = collection + 16
    val end = collection + collSize
    while (p + 16 <= end) {
      val ob = buf(bytes, p, 16)
      val idx = ob.getShort() & 0xffff
      ob.getShort(); ob.getInt() // refcount + reserved
      val size = ob.getLong()
      if (idx == 0) return sys.error(s"global heap object $index not found")
      if (idx == index)
        return bytes.slice(p + 16, size.toInt)
      val padded = (size + 7) / 8 * 8
      p += 16 + padded
    }
    sys.error(s"global heap object $index not found")
  }

  private def parseAttr(bytes: H5Src, body: Array[Byte]): Attr = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xff
    require(ver == 1 || ver == 3, s"attribute message version $ver")
    val flags = if (ver == 3) { b.get() & 0xff } else { b.get(); 0 }
    require(flags == 0, "shared attribute datatypes not supported")
    val nameSize = b.getShort() & 0xffff
    val dtSize = b.getShort() & 0xffff
    val dsSize = b.getShort() & 0xffff
    if (ver == 3) b.get() // name charset
    def pad8(n: Int): Int = if (ver == 1) (n + 7) / 8 * 8 else n
    val name = new String(body, b.position(), nameSize, "UTF-8")
      .takeWhile(_ != 0)
    var p = b.position() + pad8(nameSize)
    val dt = parseDType(
      ByteBuffer.wrap(body, p, dtSize).order(ByteOrder.LITTLE_ENDIAN))
    p += pad8(dtSize)
    val shape = parseDataspace(
      ByteBuffer.wrap(body, p, dsSize).order(ByteOrder.LITTLE_ENDIAN))
    p += pad8(dsSize)
    val n = shape.product.max(1L).toInt
    dt.clazz match {
      case 3 =>
        Attr(name, text = new String(body, p, dt.size, "UTF-8")
          .takeWhile(_ != 0))
      case 0 | 1 =>
        val nums = new Array[Double](n)
        numbers(dt, s"attribute $name", exact = false)(body, p, n, dt.size, nums, 0)
        Attr(name, nums = nums)
      case 9 if dt.base.exists(_.clazz == 7) =>
        // vlen of object references: per element 4-byte count + 12-byte
        // global heap ID; each heap object holds `count` 8-byte addresses
        val db = ByteBuffer.wrap(body, p, n * 16)
          .order(ByteOrder.LITTLE_ENDIAN)
        val refs = (0 until n).flatMap { _ =>
          val cnt = db.getInt()
          val coll = db.getLong(); val idx = db.getInt()
          val data = gheapObject(bytes, coll, idx)
          val rb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
          (0 until cnt).map(_ => rb.getLong())
        }
        Attr(name, refs = refs.toArray)
      case _ => Attr(name) // unsupported payload: keep the name only
    }
  }

  /** Decodes `n` elements, the i-th at byte `off + i * stride` of a
    * buffer, into `dst(at + i)`. */
  private type Runs[T] = (Array[Byte], Int, Int, Int, Array[T], Int) => Unit

  /** The decoder of a numeric datatype: a reduced-precision fixed-point
    * field (nbit variables) here, every full-width fixed-point or float
    * type through [[Elem]]. `what` names the variable in a refusal;
    * `exact` is [[Elem.decode]]'s. */
  private def numbers(dt: DType, what: => String,
                      exact: Boolean = true): Runs[Double] =
    dt.clazz match {
      case 0 if dt.precBits > 0 &&
          (dt.bitOff != 0 || dt.precBits < dt.size * 8) =>
        require(dt.size <= 8 && dt.precBits + dt.bitOff <= 64,
          s"$what: fixed-point precision ${dt.precBits}+${dt.bitOff} in " +
            s"${dt.size}-byte type")
        (src, off, n, stride, dst, at) => (0 until n).foreach(i =>
          dst(at + i) = bitField(src, off + i * stride, dt))
      case 0 | 1 =>
        Elem(if (dt.clazz == 1) 'f' else if (dt.signed) 'i' else 'u',
          dt.size, !dt.littleEndian, what).decode(_, _, _, _, _, _, exact)
      case c => sys.error(s"$what: non-numeric datatype class $c")
    }

  /** A reduced-precision element: the restored bytes carry the value at
    * bits [bitOff, bitOff+precBits), other bits zero. Extract the span and
    * sign-extend from its top bit — the H5T conversion step the full-width
    * read skips. */
  private def bitField(src: Array[Byte], off: Int, dt: DType): Double = {
    // the element's logical value from its memory order — byte 0 is least
    // significant for LE, most significant for BE
    var raw = 0L
    var i = 0
    if (dt.littleEndian)
      while (i < dt.size) { raw |= (src(off + i) & 0xffL) << (8 * i); i += 1 }
    else
      while (i < dt.size) { raw = (raw << 8) | (src(off + i) & 0xffL); i += 1 }
    val span = raw >>> dt.bitOff
    Elem.exact(
      if (dt.signed) (span << (64 - dt.precBits)) >> (64 - dt.precBits)
      else span & (if (dt.precBits == 64) -1L else (1L << dt.precBits) - 1),
      unsigned = !dt.signed)
  }

  private def parseDataset(bytes: H5Src, name: String,
                           addr: Long): DatasetMetaH5 = {
    val msgs = parseObjectHeader(bytes, addr)
    var shape: Seq[Long] = Nil
    var maxShape: Seq[Long] = Nil
    var unlimDims: Seq[Int] = Nil
    var dtype: DType = null
    var layout: Layout = null
    var filters = Vector.empty[(Int, Seq[Int])]
    val attrs = Vector.newBuilder[Attr]
    msgs.foreach { m =>
      val b = ByteBuffer.wrap(m.body).order(ByteOrder.LITTLE_ENDIAN)
      m.typ match {
        case 0x01 =>
          val (dims, maxdims, ul) = parseDataspaceFull(b)
          shape = dims; maxShape = maxdims; unlimDims = ul
        case 0x03 => dtype = parseDType(b)
        case 0x08 =>
          val ver = b.get() & 0xff
          require(ver == 3 || ver == 4,
            s"only layout message v3/v4 supported (got $ver)")
          val cls = b.get() & 0xff
          layout = (ver, cls) match {
            case (_, 1) => Contiguous(b.getLong(), b.getLong())
            case (3, 2) =>
              val rank = b.get() & 0xff
              val btree = b.getLong()
              val cd = (0 until rank).map(_ => b.getInt())
              Chunked(btree, cd.init) // last entry = element size
            case (4, 2) =>
              // HDF5 1.10+ ("latest" libver) chunked layout: chunk dims
              // at a declared encoded width, then one of five chunk
              // index types (spec "Data Layout Message" version 4)
              val flags = b.get() & 0xff
              val ndims = b.get() & 0xff // rank + 1, elem size last (as v3)
              val encLen = b.get() & 0xff
              val dims = (0 until ndims).map { _ =>
                var v = 0L
                (0 until encLen).foreach(i =>
                  v |= (b.get() & 0xffL) << (8 * i))
                v.toInt
              }
              val idxType = b.get() & 0xff
              var sSize = 0L; var sMask = 0; var pageBits = 0
              idxType match {
                case 1 => // single chunk; filtered variant carries size+mask
                  if ((flags & 2) != 0) { sSize = b.getLong(); sMask = b.getInt() }
                case 2 => () // implicit: dense unfiltered grid at address
                case 3 => pageBits = b.get() & 0xff // fixed array
                case 4 => // extensible array creation params (5 bytes)
                  b.get(); b.get(); b.get(); b.get(); b.get()
                case 5 => // v2 b-tree creation params
                  b.getInt(); b.get(); b.get()
                case o => sys.error(s"unknown chunk index type $o")
              }
              ChunkedV4(idxType, b.getLong(), dims.init, flags,
                pageBits, sSize, sMask)
            case (_, 0) => sys.error("compact layout not supported")
          }
        case 0x0B =>
          // record pipeline ORDER; an exotic filter id on ONE variable
          // must not make the whole file unreadable — badFilters fails
          // only readVar of this var
          filters ++= parseFilterPipeline(b)
        case 0x0C => attrs += parseAttr(bytes, m.body)
        case 0x15 => attrs ++= denseAttrs(bytes, m.body)
        case _ => ()
      }
    }
    require(dtype != null && layout != null,
      s"dataset $name lacks datatype/layout")
    DatasetMetaH5(name, addr, shape, dtype, layout, attrs.result(), filters,
      unlimDims = unlimDims, maxShape = maxShape)
  }

  /** Decode a dataset to a dense row-major Double array. */
  def readVar(bytes: H5Src, f: H5File, name: String): Array[Double] =
    readVarImpl(bytes, f, name, None)

  /** Decode ONE member of a compound dataset (ref user-defined compound
    * types, `backends/netCDF4_.py` usertype handling) to doubles. */
  def readVarMember(bytes: H5Src, f: H5File, name: String,
                    member: String): Array[Double] =
    readVarImpl(bytes, f, name, Some(member))

  /** Per-variable readability gate: metadata parse errors and filters
    * this reader cannot decode fail HERE with actionable guidance, not
    * deep inside a chunk decode. */
  private def checkReadable(d: DatasetMetaH5, name: String): Unit = {
    d.parseError.foreach(err =>
      sys.error(s"$name failed metadata parse: $err"))
    require(d.badFilters.isEmpty,
      s"$name uses unsupported filter ids ${d.badFilters.mkString(", ")}" +
        " — this reader decodes the filters of graft.io.Codec only. " +
        "Re-encode with `nccopy -F \"*,1\" in.nc4 out.nc4` (netCDF-C) or " +
        "`h5repack -f GZIP=1 in.h5 out.h5` to deflate, then re-read.")
    // a filter's client data is checked where it becomes a codec
    try d.filters.foreach(Codec.hdf5) catch { case e: IllegalArgumentException =>
      throw new IllegalArgumentException(s"$name uses ${e.getMessage}", e) }
  }

  /** One stored chunk: grid origin, file address, stored (possibly
    * filtered) byte count, per-chunk filter mask. The unit of parallelism
    * for the distributed read path. */
  private[graft] case class ChunkRef(origin: Seq[Long], addr: Long,
                                     stored: Int, mask: Int)

  /** Walk a v1 raw-data chunk B-tree to the full chunk list. */
  private[graft] def chunkRefs(bytes: H5Src, btree: Long,
                               rank: Int): Seq[ChunkRef] = {
    val out = Seq.newBuilder[ChunkRef]
    def walk(addr: Long): Unit = {
      val b = buf(bytes, addr, 24)
      require(b.get() == 'T' && b.get() == 'R' && b.get() == 'E' &&
        b.get() == 'E', "bad chunk B-tree signature")
      require((b.get() & 0xff) == 1, "expected raw-data chunk B-tree")
      val level = b.get() & 0xff
      val used = b.getShort() & 0xffff
      b.getLong(); b.getLong()
      // key: chunk size(4) + filter mask(4) + (rank+1) offsets(8)
      val keySize = 8 + (rank + 1) * 8
      var p = addr + 24
      (0 until used).foreach { _ =>
        val kb = buf(bytes, p, keySize)
        val chunkBytes = kb.getInt()
        val filterMask = kb.getInt() // bit i set = pipeline[i] skipped
        val origin = (0 until rank).map(_ => kb.getLong())
        kb.getLong() // trailing element offset
        val child = buf(bytes, p + keySize, 8).getLong()
        if (level > 0) walk(child)
        else out += ChunkRef(origin, child, chunkBytes, filterMask)
        p += keySize + 8
      }
    }
    walk(btree)
    out.result()
  }

  /** Chunk-grid origins in C order (the order fixed-array and implicit
    * indexes store entries in). */
  private def gridOrigins(shape: Seq[Long], cd: Seq[Int]): Seq[Seq[Long]] = {
    val grid = shape.zip(cd).map { case (s, c) => ((s + c - 1) / c).toInt }
    val n = grid.product
    val strides = grid.scanRight(1)(_ * _).tail
    (0 until n).map(i => grid.indices.map(k =>
      ((i / strides(k)) % grid(k)).toLong * cd(k)))
  }

  /** Chunk-grid origins in EXTENSIBLE-ARRAY element order when the
    * (single) unlimited dimension sits at position `u`: libhdf5
    * swizzles the scaled chunk coordinates so the unlimited dimension
    * varies SLOWEST (public C source `H5VM_swizzle_coords` — dst[0] =
    * src[u], dims before u shift right — and `H5D__earray_idx_*`,
    * which linearizes the swizzled coords C-order over the swizzled
    * chunk grid). u = 0, netCDF-4's record-dim-first layout,
    * degenerates to plain C order. */
  private def swizzledGridOrigins(shape: Seq[Long], cd: Seq[Int],
                                  u: Int): Seq[Seq[Long]] = {
    if (u == 0) gridOrigins(shape, cd)
    else {
      val grid = shape.zip(cd).map { case (s, c) => ((s + c - 1) / c).toInt }
      val sw = grid(u) +: grid.patch(u, Nil, 1)
      val n = grid.product
      val strides = sw.scanRight(1)(_ * _).tail
      (0 until n).map { i =>
        val c = sw.indices.map(k => (i / strides(k)) % sw(k))
        val orig = c.tail.patch(u, Seq(c.head), 0) // unswizzle
        orig.zip(cd).map { case (ci, ch) => ci.toLong * ch }
      }
    }
  }

  /** All stored chunks of a chunked dataset, whichever index structure
    * the file uses — the single entry point the distributed reader and
    * in-memory decode share. */
  private[graft] def chunkRefsOf(bytes: H5Src,
                                 d: DatasetMetaH5): Seq[ChunkRef] = {
    def nominal(cd: Seq[Int]): Int = cd.product * d.dtype.size
    // The implicit and extensible-array indexes linearize chunks over
    // the MAX-dims chunk grid. A finite maxdim larger than the current
    // dim (growable-but-bounded, no unlimited marker) would make the
    // current-shape strides below a silent chunk permutation — reject
    // loudly instead (netCDF-4 never writes this; h5repack normalizes).
    def requireMaxEqualsCur(): Unit =
      if (d.maxShape.nonEmpty) {
        val grown = d.maxShape.zip(d.shape).zipWithIndex.collect {
          case ((m, s), i) if m != UNDEF && m != s => i
        }
        require(grown.isEmpty,
          s"${d.name}: finite max dims exceed current dims at position" +
            s"(s) ${grown.mkString(",")} — the chunk index is laid out " +
            "over the max grid, which this reader does not decode; " +
            "re-encode with `h5repack` (fixed dims), then re-read")
      }
    d.layout match {
      case Chunked(btree, cd) => chunkRefs(bytes, btree, cd.length)
      case ChunkedV4(1, addr, cd, flags, _, sSize, sMask) =>
        if (addr == UNDEF) Nil // never written: all fill
        else if ((flags & 2) != 0)
          Seq(ChunkRef(cd.map(_ => 0L), addr, sSize.toInt, sMask))
        else Seq(ChunkRef(cd.map(_ => 0L), addr, nominal(cd), 0))
      case ChunkedV4(_, UNDEF, _, _, _, _, _) =>
        Nil // index never allocated: dataset is all fill
      case ChunkedV4(2, addr, cd, _, _, _, _) =>
        // implicit: dense unfiltered grid laid out back to back
        requireMaxEqualsCur()
        gridOrigins(d.shape, cd).zipWithIndex.map { case (o, i) =>
          ChunkRef(o, addr + i.toLong * nominal(cd), nominal(cd), 0)
        }
      case ChunkedV4(3, addr, cd, _, _, _, _) =>
        fixedArrayRefs(bytes, addr, cd, d.shape, nominal(cd))
      case ChunkedV4(5, addr, cd, _, _, _, _) =>
        btree2ChunkRefs(bytes, addr, cd, nominal(cd))
      case ChunkedV4(4, addr, cd, _, _, _, _) =>
        // one unlimited dim is the EA contract; at position != 0 libhdf5
        // SWIZZLES the chunk order (unlimited dim slowest-varying) —
        // decoded below via swizzledGridOrigins
        require(d.unlimDims.length <= 1,
          s"${d.name}: extensible-array chunk index with " +
            s"${d.unlimDims.length} unlimited dimensions " +
            s"(${d.unlimDims.mkString(",")}) — the EA index supports " +
            "exactly one; the file is malformed or mis-parsed")
        requireMaxEqualsCur()
        try extensibleArrayRefs(bytes, addr, cd, d.shape, nominal(cd),
          d.unlimDims.headOption.getOrElse(0))
        catch {
          case e: Exception => sys.error(s"${d.name}: extensible-array " +
            s"chunk index parse failed (${e.getMessage}) — re-encode " +
            "with `h5repack -l CHUNK=...` under the default libver, " +
            "then re-read")
        }
      case other => sys.error(s"${d.name}: $other is not chunked")
    }
  }

  /** Fixed Array chunk index (spec "Fixed Array"): FAHD header ->
    * FADB data block of (address [, stored size, filter mask]) entries
    * in C chunk order, paged above 2^pageBits elements. */
  private[graft] def fixedArrayRefs(bytes: H5Src, addr: Long, cd: Seq[Int],
                                    shape: Seq[Long],
                                    nominal: Int): Seq[ChunkRef] = {
    val h = buf(bytes, addr, 28)
    require(h.get() == 'F' && h.get() == 'A' && h.get() == 'H' &&
      h.get() == 'D', "bad fixed-array header signature")
    require((h.get() & 0xff) == 0, "fixed-array version")
    val client = h.get() & 0xff // 0 = chunks, 1 = filtered chunks
    require(client <= 1, s"fixed-array client $client")
    val entrySize = h.get() & 0xff
    val pageBits = h.get() & 0xff
    val nelmts = h.getLong()
    val dblk = h.getLong()
    val origins = gridOrigins(shape, cd)
    require(origins.length.toLong == nelmts,
      s"fixed array holds $nelmts entries, grid has ${origins.length}")
    val db = buf(bytes, dblk, 14)
    require(db.get() == 'F' && db.get() == 'A' && db.get() == 'D' &&
      db.get() == 'B', "bad fixed-array data-block signature")
    require((db.get() & 0xff) == 0 && (db.get() & 0xff) == client,
      "fixed-array data-block version/client")
    def parseEntries(pos: Long, n: Int, first: Int): Seq[ChunkRef] = {
      val eb = buf(bytes, pos, n * entrySize)
      (0 until n).flatMap { i =>
        val a = eb.getLong()
        val (stored, mask) =
          if (client == 1) {
            var s = 0L
            (0 until entrySize - 12).foreach(k =>
              s |= (eb.get() & 0xffL) << (8 * k))
            (s.toInt, eb.getInt())
          } else (nominal, 0)
        if (a == UNDEF) None // missing chunk: fill value
        else Some(ChunkRef(origins(first + i), a, stored, mask))
      }
    }
    val pageSize = 1L << pageBits
    if (nelmts <= pageSize) parseEntries(dblk + 14, nelmts.toInt, 0)
    else {
      val npages = ((nelmts + pageSize - 1) / pageSize).toInt
      val bitmapBytes = (npages + 7) / 8
      // the paged data-block PREFIX (header fields + bitmap) carries its
      // own 4-byte checksum before the first page
      var pos = dblk + 14 + bitmapBytes + 4
      (0 until npages).flatMap { p =>
        val n = math.min(pageSize, nelmts - p.toLong * pageSize).toInt
        val refs = parseEntries(pos, n, (p.toLong * pageSize).toInt)
        pos += n.toLong * entrySize + 4 // + page checksum
        refs
      }
    }
  }

  /** v2 B-tree chunk index (record types 10/11): address, then for the
    * filtered record a stored size + filter mask, then SCALED offsets
    * (chunk-grid units, unlike the v1 tree's element offsets). */
  private[graft] def btree2ChunkRefs(bytes: H5Src, addr: Long,
                                     cd: Seq[Int],
                                     nominal: Int): Seq[ChunkRef] = {
    val rank = cd.length
    v2BtreeRecords(bytes, addr).map { rec =>
      val rb = ByteBuffer.wrap(rec).order(ByteOrder.LITTLE_ENDIAN)
      val a = rb.getLong()
      // type 10 records are exactly 8 + 8*rank; anything longer carries
      // the filtered chunk's stored size (rec.length - 12 - 8*rank
      // bytes) and filter mask
      val (stored, mask) =
        if (rec.length == 8 + 8 * rank) (nominal, 0)
        else {
          val csize = rec.length - 12 - 8 * rank
          var s = 0L
          (0 until csize).foreach(k => s |= (rb.get() & 0xffL) << (8 * k))
          (s.toInt, rb.getInt())
        }
      val origin = (0 until rank).map(k => rb.getLong() * cd(k))
      ChunkRef(origin, a, stored, mask)
    }
  }

  /** Read a `len`-byte metadata block and verify its trailing Jenkins
    * lookup3 checksum — the guard that turns ANY layout misparse of the
    * extensible-array structures into a loud error instead of a silent
    * mis-decode (every EA block is checksummed per spec). */
  private def checkedBuf(bytes: H5Src, pos: Long, len: Int,
                         what: String): ByteBuffer = {
    val raw = bytes.slice(pos, len)
    val stored = ByteBuffer.wrap(raw, len - 4, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    require(lookup3(java.util.Arrays.copyOfRange(raw, 0, len - 4), 0)
      == stored, s"$what checksum mismatch at 0x${pos.toHexString} " +
      "(block-length or field-layout drift, or a corrupt file)")
    ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
  }

  private def log2of2(v: Int): Int = {
    require(v > 0 && (v & (v - 1)) == 0, s"$v is not a power of two")
    java.lang.Integer.numberOfTrailingZeros(v)
  }

  /** Extensible Array chunk index (spec "Extensible Array", the HDF5
    * 1.10+ index for ONE unlimited dimension; `backends/h5netcdf_.py`
    * reads these through h5py). Structure: EAHD header -> EAIB index
    * block holding the first `idxBlkElmts` elements + direct data-block
    * pointers for the first `2*(supBlkMinDataPtrs-1)` data blocks +
    * super-block pointers; super block u holds 2^(u/2) data blocks of
    * 2^((u+1)/2)*dataBlkMinElmts elements each (the doubling schedule
    * from the H5EA design); EADB data blocks hold the elements, paged
    * above 2^maxDblkPageNelmtsBits with per-page checksums and a
    * validity bitmap in the super block. Every block's checksum is
    * VERIFIED, so a real file laid out differently than parsed here
    * fails loudly rather than mis-decoding. */
  private[graft] def extensibleArrayRefs(bytes: H5Src, addr: Long,
                                         cd: Seq[Int], shape: Seq[Long],
                                         nominal: Int,
                                         unlimDim: Int = 0): Seq[ChunkRef] = {
    // ---- header (EAHD): creation params + stats + index block addr ----
    val h = checkedBuf(bytes, addr, 72, "extensible-array header")
    require(h.get() == 'E' && h.get() == 'A' && h.get() == 'H' &&
      h.get() == 'D', "bad extensible-array header signature")
    require((h.get() & 0xff) == 0, "extensible-array header version")
    val client = h.get() & 0xff // 0 = chunks, 1 = filtered chunks
    require(client <= 1, s"extensible-array client $client")
    val eltSize = h.get() & 0xff
    val maxNelmtsBits = h.get() & 0xff
    val idxBlkElmts = h.get() & 0xff
    val dataBlkMinElmts = h.get() & 0xff
    val supBlkMinDataPtrs = h.get() & 0xff
    val maxDblkPageNelmtsBits = h.get() & 0xff
    (0 until 6).foreach(_ => h.getLong()) // stats: nsblks/sblk size/
    // ndblks/dblk size/max index set/nelmts — informational
    val iblkAddr = h.getLong()
    require(eltSize == (if (client == 0) 8 else eltSize) && eltSize >= 8,
      s"extensible-array element size $eltSize")
    if (client == 1) require(eltSize >= 13 && eltSize <= 20,
      s"filtered extensible-array element size $eltSize")
    val arrOffSize = (maxNelmtsBits + 7) / 8
    val pageNelmts = 1 << maxDblkPageNelmtsBits
    val nsblksTotal = 1 + maxNelmtsBits - log2of2(dataBlkMinElmts)
    val firstSblk = 2 * log2of2(supBlkMinDataPtrs)
    val ndblkAddrs = 2 * (supBlkMinDataPtrs - 1)
    val nsblkAddrs = nsblksTotal - firstSblk
    // super-block schedule: (ndblks, dblkNelmts, startIdx, startDblk)
    val sblkInfo = {
      var si = 0L; var sd = 0
      (0 until nsblksTotal).map { u =>
        val nd = 1 << (u / 2)
        val ne = (1 << ((u + 1) / 2)) * dataBlkMinElmts
        val r = (nd, ne, si, sd)
        si += nd.toLong * ne; sd += nd
        r
      }
    }

    def readElt(b: ByteBuffer): Option[(Long, Int, Int)] = {
      val a = b.getLong()
      val (stored, mask) =
        if (client == 1) {
          var s = 0L
          (0 until eltSize - 12).foreach(k =>
            s |= (b.get() & 0xffL) << (8 * k))
          (s.toInt, b.getInt())
        } else (nominal, 0)
      if (a == UNDEF) None else Some((a, stored, mask))
    }

    val grid = swizzledGridOrigins(shape, cd, unlimDim)
    val need = grid.length // elements past the grid are never-written fill
    val out = Array.fill[Option[(Long, Int, Int)]](need)(None)

    // ---- index block (EAIB) ----
    if (iblkAddr != UNDEF && need > 0) {
      val iblkLen = 14 + idxBlkElmts * eltSize + (ndblkAddrs + nsblkAddrs) * 8 + 4
      val ib = checkedBuf(bytes, iblkAddr, iblkLen,
        "extensible-array index block")
      require(ib.get() == 'E' && ib.get() == 'A' && ib.get() == 'I' &&
        ib.get() == 'B', "bad extensible-array index-block signature")
      require((ib.get() & 0xff) == 0 && (ib.get() & 0xff) == client,
        "extensible-array index-block version/client")
      require(ib.getLong() == addr,
        "extensible-array index block does not point back to its header")
      (0 until idxBlkElmts).foreach { k =>
        val e = readElt(ib)
        if (k < need) out(k) = e
      }
      val dblkAddrs = (0 until ndblkAddrs).map(_ => ib.getLong())
      val sblkAddrs = (0 until nsblkAddrs).map(_ => ib.getLong())

      /** Decode one data block of `nelmts` elements whose first element
        * is array index `base`; `pageInit` gives per-page validity for
        * paged blocks (from the owning super block's bitmap). */
      def dblock(daddr: Long, nelmts: Int, base: Long,
                 pageInit: Int => Boolean): Unit = {
        if (daddr == UNDEF) return
        val npages = if (nelmts > pageNelmts) nelmts / pageNelmts else 0
        if (npages == 0) {
          val len = 14 + arrOffSize + nelmts * eltSize + 4
          val db = checkedBuf(bytes, daddr, len,
            "extensible-array data block")
          require(db.get() == 'E' && db.get() == 'A' && db.get() == 'D' &&
            db.get() == 'B', "bad extensible-array data-block signature")
          require((db.get() & 0xff) == 0 && (db.get() & 0xff) == client,
            "extensible-array data-block version/client")
          require(db.getLong() == addr,
            "extensible-array data block does not point back to its header")
          (0 until arrOffSize).foreach(_ => db.get()) // block offset
          (0 until nelmts).foreach { k =>
            val e = readElt(db)
            if (base + k < need) out((base + k).toInt) = e
          }
        } else {
          val prefixLen = 14 + arrOffSize + 4
          checkedBuf(bytes, daddr, prefixLen,
            "extensible-array paged data-block prefix")
          val pageBytes = pageNelmts * eltSize + 4
          (0 until npages).foreach { p =>
            val pos = daddr + prefixLen + p.toLong * pageBytes
            if (pageInit(p)) {
              val pb = checkedBuf(bytes, pos, pageBytes,
                "extensible-array data-block page")
              (0 until pageNelmts).foreach { k =>
                val idx = base + p.toLong * pageNelmts + k
                val e = readElt(pb)
                if (idx < need) out(idx.toInt) = e
              }
            } else {
              // an UNinitialized page whose checksum nonetheless verifies
              // means the bitmap was misread — fail loudly rather than
              // silently dropping real chunks (a short read = the page
              // space was never allocated, which is fine)
              val genuinelyUninit =
                try {
                  val raw = bytes.slice(pos, pageBytes)
                  val stored = ByteBuffer.wrap(raw, pageBytes - 4, 4)
                    .order(ByteOrder.LITTLE_ENDIAN).getInt
                  lookup3(java.util.Arrays.copyOfRange(
                    raw, 0, pageBytes - 4), 0) != stored
                } catch { case _: Exception => true }
              require(genuinelyUninit,
                "extensible-array page marked uninitialized carries a " +
                  "valid checksum — page-bitmap parse drift")
            }
          }
        }
      }

      // data blocks pointed at DIRECTLY from the index block (never paged:
      // their sizes precede the paging threshold under real cparams)
      var u = 0
      while (u < firstSblk && idxBlkElmts + sblkInfo(u)._3 < need) {
        val (nd, ne, si, sd) = sblkInfo(u)
        require(ne <= pageNelmts,
          "paged data block pointed directly from the index block")
        (0 until nd).foreach { k =>
          val base = idxBlkElmts.toLong + si + k.toLong * ne
          if (base < need) dblock(dblkAddrs(sd + k), ne, base, _ => false)
        }
        u += 1
      }
      // super blocks (EASB)
      u = firstSblk
      while (u < nsblksTotal && idxBlkElmts + sblkInfo(u)._3 < need) {
        val (nd, ne, si, _) = sblkInfo(u)
        val saddr = sblkAddrs(u - firstSblk)
        if (saddr != UNDEF) {
          val npagesPer = if (ne > pageNelmts) ne / pageNelmts else 0
          val bitmapBytes = (nd * npagesPer + 7) / 8
          val len = 14 + arrOffSize + bitmapBytes + nd * 8 + 4
          val sb = checkedBuf(bytes, saddr, len,
            "extensible-array super block")
          require(sb.get() == 'E' && sb.get() == 'A' && sb.get() == 'S' &&
            sb.get() == 'B', "bad extensible-array super-block signature")
          require((sb.get() & 0xff) == 0 && (sb.get() & 0xff) == client,
            "extensible-array super-block version/client")
          require(sb.getLong() == addr,
            "extensible-array super block does not point back to its header")
          (0 until arrOffSize).foreach(_ => sb.get()) // block offset
          val bitmap = new Array[Byte](bitmapBytes)
          sb.get(bitmap)
          // H5VM bit order: bit 0 of the bitmap is the MSB of byte 0
          def pageBit(i: Int): Boolean =
            (bitmap(i / 8) & (1 << (7 - i % 8))) != 0
          (0 until nd).foreach { k =>
            val daddr = sb.getLong()
            val base = idxBlkElmts.toLong + si + k.toLong * ne
            if (base < need)
              dblock(daddr, ne, base, p => pageBit(k * npagesPer + p))
          }
        }
        u += 1
      }
    }
    grid.indices.flatMap(i =>
      out(i).map { case (a, s, m) => ChunkRef(grid(i), a, s, m) })
  }

  private def readVarImpl(bytes: H5Src, f: H5File, name: String,
                          member: Option[String]): Array[Double] =
    readVarGeneric[Double](bytes, f, name, member,
      new Array[Double](_), numbers(_, name))

  /** Fixed-length string dataset (datatype class 3) decoded to strings,
    * trailing NUL padding stripped (ref `coding/strings.py`
    * CharacterArrayCoder surface; `backends/netCDF4_.py` char/str vars).
    * Same contiguous/chunked/filtered machinery as the numeric path. */
  def readStringVar(bytes: H5Src, f: H5File, name: String): Array[String] = {
    val d = f.byName(name)
    require(d.dtype.clazz == 3,
      s"$name is not a fixed-length string dataset (class ${d.dtype.clazz})")
    readVarGeneric[String](bytes, f, name, None, new Array[String](_),
      dt => (src, off, n, stride, dst, at) => (0 until n).foreach { i =>
        val o = off + i * stride
        var e = dt.size
        while (e > 0 && src(o + e - 1) == 0) e -= 1
        dst(at + i) = new String(src, o, e, "UTF-8")
      })
  }

  private def readVarGeneric[T](bytes: H5Src, f: H5File, name: String,
                                member: Option[String],
                                alloc: Int => Array[T],
                                runs: DType => Runs[T]): Array[T] = {
    val d = f.byName(name)
    // element stride is the FULL (possibly compound) type size; the value
    // read per element is either the scalar itself or one compound member
    val (mOff, edt) = member match {
      case None =>
        require(d.dtype.clazz != 6,
          s"$name is compound — read a member via readVarMember " +
            s"(members: ${d.dtype.members.map(_._1).mkString(", ")})")
        (0, d.dtype)
      case Some(m) =>
        require(d.dtype.clazz == 6, s"$name is not compound")
        val (_, off, t) = d.dtype.members.find(_._1 == m)
          .getOrElse(sys.error(s"$name has no member $m " +
            s"(members: ${d.dtype.members.map(_._1).mkString(", ")})"))
        (off, t)
    }
    checkReadable(d, name)
    val stride = d.dtype.size
    val n = d.shape.product.toInt
    val out = alloc(n)
    val decode = runs(edt)
    def decodeInto(raw: Array[Byte], chunkOrigin: Seq[Long],
                   chunkDims: Seq[Int]): Unit =
      LongGrid.foreachRun(d.shape, chunkOrigin, chunkDims) { (i, pos, len) =>
        decode(raw, i * stride + mOff, len, stride, out, pos.toInt)
      }
    d.layout match {
      case Contiguous(addr, size) =>
        require(addr != UNDEF, s"$name has no allocated data")
        decodeInto(bytes.slice(addr, size.toInt),
          d.shape.map(_ => 0L), d.shape.map(_.toInt))
      case chunked =>
        val chunkDims = chunked match {
          case Chunked(_, cd) => cd
          case c4: ChunkedV4 => c4.chunkDims
          case _ => sys.error("unreachable")
        }
        // Undo the DECLARED pipeline last-to-first, honoring the
        // per-chunk filter mask (netCDF-C declares fletcher32
        // innermost — checksum over raw bytes; h5py's set_fletcher32
        // after compression declares it outermost — checksum over the
        // compressed bytes; both decode here).
        val baseLen = chunkDims.map(_.toLong).product.toInt * stride
        chunkRefsOf(bytes, d).foreach { c =>
          val raw0 = bytes.slice(c.addr, c.stored)
          decodeInto(defilter(raw0, d.filters, c.mask, baseLen,
            s"a chunk of ${d.name}"), c.origin, chunkDims)
        }
    }
    out
  }

  /** HDF5's Fletcher-32 (spec: H5_checksum_fletcher32): byte pairs folded
    * big-endian into 16-bit words, sums reduced every 360 words by the
    * ONE'S-COMPLEMENT fold (sum & 0xffff) + (sum >> 16) — NOT mod 65535,
    * which differs exactly when a reduced sum lands on 0xFFFF (fold keeps
    * 0xFFFF, mod collapses to 0; real HDF5 files would then be rejected).
    * Odd trailing byte is the high byte of a final word; a double final
    * fold fully reduces both sums; result = sum2<<16 | sum1, appended
    * little-endian after the chunk payload. */
  private[graft] def fletcherSum(b: Array[Byte], len: Int): Int = {
    var sum1 = 0L; var sum2 = 0L
    def fold(s: Long): Long = (s & 0xffffL) + (s >>> 16)
    var off = 0
    var remaining = len / 2
    while (remaining > 0) {
      val tlen = math.min(remaining, 360)
      var j = 0
      while (j < tlen) {
        sum1 += (((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)).toLong
        sum2 += sum1
        off += 2; j += 1
      }
      sum1 = fold(sum1); sum2 = fold(sum2)
      remaining -= tlen
    }
    if ((len & 1) == 1) {
      sum1 += ((b(len - 1) & 0xff) << 8).toLong
      sum2 += sum1
      sum1 = fold(sum1); sum2 = fold(sum2)
    }
    // second reduction step: one more fold fully reduces to 16 bits
    sum1 = fold(sum1); sum2 = fold(sum2)
    ((sum2 << 16) | sum1).toInt
  }

  // ------------------------------------------------------------------
  // distributed converter
  // ------------------------------------------------------------------

  /** One unit of distributed read work: decode `cdims` cells at grid
    * `origin` from `stored` bytes at `addr` of `path`. Contiguous
    * layouts are split into row-band tasks (`mask` = 0, no filters). */
  private case class ReadTask(path: String, origin: Array[Long],
                              addr: Long, stored: Int, mask: Int,
                              cdims: Array[Int])

  /** most bytes of DECODED data per read task when banding a contiguous
    * variable (chunked variables parallelize per chunk) */
  private val ContigBandBytes = 32L << 20

  /** Open a directory of .nc4/.h5 files as ONE long-format DataFrame for
    * `varName`: a column per netCDF-4 dimension (the dimension-scale's
    * values) plus the value column. Schema from one driver-side parse;
    * decode runs in the executors, one task per stored chunk or
    * contiguous row band ([[LongGrid.bandRows]]: at most `bandBytesReq`
    * decoded bytes, at least `min(rows, defaultParallelism)` bands per
    * file). Each task is bounded by its own file's dimension scales, so a
    * filter on a dim column skips the chunks and bands it cannot match. */
  def toLongDF(spark: SparkSession, dir: String, varName: String,
               bandBytesReq: Long = ContigBandBytes): DataFrame = {
    // clamp so a generous caller value can never overflow a task's
    // Int-sized pread (band * rowBytes stays well under 2 GiB)
    val bandBytes = math.min(math.max(1L, bandBytesReq), 1L << 30)
    val files = LongGrid.listFiles(dir, ".nc4", ".h5", ".nc")
    // Driver pass: METADATA ONLY, through the paged pread source — the
    // object headers, B-trees and 1-D coordinate scales it touches are
    // kilobytes even when the file is not; the variable's payload is
    // never read here. Each stored chunk (or contiguous row band)
    // becomes one executor task that preads exactly its byte range —
    // chunk-granular parallelism and one-chunk peak memory per task,
    // independent of file count and file size.
    case class FilePlan(path: String, d: DatasetMetaH5, dims: Seq[String],
                        labels: Array[Option[LongGrid.Labels]],
                        coordIntegral: Seq[Boolean],
                        tasks: Seq[LongGrid.Task[ReadTask]])
    val cores = spark.sparkContext.defaultParallelism
    val plans = files.map { file =>
      val src = new PreadSrc(file.getAbsolutePath)
      try {
        val f = parseFile(src)
        val v = f.byName(varName)
        checkReadable(v, varName)
        require(v.dtype.clazz != 6,
          s"$varName is compound — convert one member at a time")
        val dns = f.varDims(v)
        val labels: Array[Option[LongGrid.Labels]] =
          dns.map(dn => Some(LongGrid.Labels(readVar(src, f, dn)))).toArray
        val coordIntegral = dns.map(dn => f.byName(dn).dtype.clazz == 0)
        val tasks = v.layout match {
          case chunked @ (_: Chunked | _: ChunkedV4) =>
            val cdims = chunked match {
              case Chunked(_, cd) => cd
              case c4: ChunkedV4 => c4.chunkDims
              case _ => sys.error("unreachable")
            }
            chunkRefsOf(src, v).map(c =>
              ReadTask(file.getAbsolutePath, c.origin.toArray, c.addr,
                c.stored, c.mask, cdims.toArray))
          case Contiguous(addr, size) =>
            require(addr != UNDEF, s"$varName has no allocated data")
            val sizes = v.shape.map(_.toInt)
            val rowBytes = sizes.tail.map(_.toLong).product * v.dtype.size
            require(rowBytes <= Int.MaxValue,
              s"$varName: one row spans $rowBytes bytes — a single task " +
                "cannot band it; re-chunk the file")
            val band = LongGrid.bandRows(sizes.head, rowBytes, bandBytes, cores)
            (0 until sizes.head by band).map { r0 =>
              val rows = math.min(band, sizes.head - r0)
              ReadTask(file.getAbsolutePath,
                (r0.toLong +: sizes.tail.map(_ => 0L)).toArray,
                addr + r0 * rowBytes, (rows * rowBytes).toInt, 0,
                (rows +: sizes.tail).toArray)
            }
        }
        val shape = v.shape.toArray
        FilePlan(file.getAbsolutePath, v, dns, labels, coordIntegral,
          tasks.map(t => LongGrid.Task(t,
            LongGrid.bounds(shape, t.origin, t.cdims, labels))))
      } finally src.close()
    }
    val p0 = plans.head
    val schema = LongGrid.schema(p0.dims.zip(p0.coordIntegral.map(Some(_))),
      varName, p0.d.dtype.clazz == 0)
    val metaB = spark.sparkContext.broadcast(
      plans.map(p => p.path -> (p.d, p.labels)).toMap)
    LongGrid.read(spark, schema, plans.flatMap(_.tasks)) { t =>
      val (d, labels) = metaB.value(t.path)
      val raw = {
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(t.path),
          java.nio.file.StandardOpenOption.READ)
        try H5Src.preadFully(ch, t.addr, t.stored, t.path).array()
        finally ch.close()
      }
      val stride = d.dtype.size
      val n = t.cdims.map(_.toLong).product.toInt
      val plain = defilter(raw, d.filters, t.mask, n * stride,
        s"a chunk of ${d.name}")
      val decode = numbers(d.dtype, d.name)
      val values = new Array[Double](n)
      LongGrid.foreachRun(d.shape, t.origin, t.cdims) { (i, _, len) =>
        decode(plain, i * stride, len, stride, values, i)
      }
      LongGrid.Block(d.shape.toArray, t.origin, t.cdims, values, labels)
    }
  }

  /** Converter job: .nc4 directory -> partitioned parquet. */
  def convert(spark: SparkSession, inDir: String, varName: String,
              outDir: String, chunkCols: Seq[String] = Nil): Unit =
    Store.write(toLongDF(spark, inDir, varName), outDir, chunkCols)

  /** `open_dataset` over a .nc4/.h5 directory: EVERY data variable
    * joined by [[LongGrid.openDataset]]. Dimension scales become dim
    * columns. */
  def openDataset(spark: SparkSession, dir: String): DataFrame = {
    val src = new PreadSrc(
      LongGrid.listFiles(dir, ".nc4", ".h5", ".nc").head.getAbsolutePath)
    val vars = try {
      val f = parseFile(src)
      f.datasets.filter(d => d.parseError.isEmpty && !d.isDimScale)
        .map(v => v.name -> f.varDims(v))
    } finally src.close()
    LongGrid.openDataset(vars, dir)(toLongDF(spark, dir, _))
  }

  // ------------------------------------------------------------------
  // writer (fixture/export path: superblock v0, dimension scales,
  // DIMENSION_LIST, contiguous or chunked+deflate)
  // ------------------------------------------------------------------

  /** Writer-side variable: `dims` by index into `dimDefs`; data row-major
    * doubles; f64 unless `f32`; chunked+deflate when `chunk` is set. */
  /** `fletcherOuter`: declare + apply fletcher32 LAST (h5py's
    * set_fletcher32 order — checksum covers the compressed bytes) instead
    * of the default netCDF-C order (checksum innermost, over raw bytes). */
  /** `nbitPrec` > 0 declares + applies the built-in n-bit filter (id 5,
    * integral vars, offset 0); `soScale` = (scaleType, scaleFactor)
    * declares + applies scale-offset (id 6): (2, 0|minbits) for
    * integers, (0, D) for D-scaled f64. Both precede the deflate stage
    * in pipeline order, as libhdf5 arranges them. */
  case class WVar(name: String, dims: Seq[Int], data: Array[Double],
                  chunk: Option[Seq[Int]] = None, f32: Boolean = false,
                  integral: Boolean = false, shuffle: Boolean = false,
                  fletcher: Boolean = false, fletcherOuter: Boolean = false,
                  szip: Boolean = false, lzf: Boolean = false,
                  zstd: Boolean = false, index4: Option[String] = None,
                  nbitPrec: Int = 0,
                  soScale: Option[(Int, Int)] = None,
                  bigEndian: Boolean = false,
                  unlimDim: Option[Int] = None) {
    require(Seq(szip, lzf, zstd).count(identity) <= 1,
      "szip/lzf/zstd are alternative compressors")
    require(nbitPrec == 0 || soScale.isEmpty,
      "nbit and scale-offset are alternative pre-compression filters")
    require(nbitPrec == 0 || (integral && chunk.isDefined),
      "nbit applies to chunked integral variables (precision of the " +
        "64-bit fixed-point element)")
    require(soScale.isEmpty || chunk.isDefined,
      "scale-offset applies to chunked variables")
    require(soScale.forall { case (st, _) =>
      (st == 2 && integral) || (st == 0 && !integral && !f32) },
      "scale-offset: INT (2) needs integral, FLOAT_DSCALE (0) needs f64")
    require(!bigEndian || integral,
      "bigEndian fixtures are supported for integral variables only")
    require(!bigEndian || soScale.isEmpty,
      "bigEndian + scale-offset is unimplemented (soCd codes order=LE; " +
        "soEncode reads little-endian element bytes)")
    /** H5Z__set_local_nbit-shaped client data for the atomic class:
      * [nValid, noNeedFlag, nelmts, class=atomic, size, order,
      * precision, offset=0] — order follows the declared dtype. */
    def nbitCd(chunkDims: Seq[Int]): Seq[Int] =
      Seq(8, 0, chunkDims.product, 1, 8, if (bigEndian) 1 else 0,
        nbitPrec, 0)
    /** H5Z__set_local_scaleoffset-shaped client data (20 words):
      * [scaleType, scaleFactor, nelmts, class, size, sign, order=LE,
      * filavail=undefined, 12 fill words]. */
    def soCd(chunkDims: Seq[Int]): Seq[Int] = {
      val (st, sf) = soScale.get
      Seq(st, sf, chunkDims.product, if (integral) 0 else 1, 8,
        if (integral) 1 else 0, 0, 0) ++ Seq.fill(12)(0)
    }
    require(index4.forall(Set("single", "fixed", "ea")),
      "index4 writes layout-v4 'single', 'fixed', or 'ea' chunk indexes")
    require(index4.isEmpty || chunk.isDefined,
      "index4 applies to chunked variables")
    require(unlimDim.forall(u => u >= 0 && u < dims.length),
      s"unlimDim $unlimDim out of range for ${dims.length} dims")
    require(unlimDim.isEmpty || index4.contains("ea"),
      "an unlimited dimension is written with the extensible-array " +
        "chunk index (the HDF5 1.10+ layout for one unlimited dim)")
    require(!szip || f32,
      "szip write path codes 32-bit samples — set f32 (8/16-bit reads " +
        "are supported; the f64 writer default cannot szip)")
    /** The filter pipeline of a chunked variable in apply order, as
      * (filter id, client data): nbit or scale-offset, fletcher32
      * (innermost: netCDF-C's checksum over the plain bytes), shuffle, the
      * compressor, then fletcher32 when `fletcherOuter` (h5py's order:
      * the checksum covers the compressed bytes). */
    private[io] def filters(level: Int): Seq[(Int, Seq[Int])] = chunk.toSeq.flatMap { cd =>
      val sum = Seq(3 -> Seq.empty[Int])
      (if (nbitPrec > 0) Seq(5 -> nbitCd(cd)) else Nil) ++
        soScale.map(_ => 6 -> soCd(cd)) ++
        (if (fletcher && !fletcherOuter) sum else Nil) ++
        (if (shuffle) Seq(2 -> Seq(elem.size)) else Nil) ++
        Seq(if (szip) 4 -> szipCd(cd) else if (lzf) 32000 -> Nil
          else if (zstd) 32015 -> Seq(3) else 1 -> Seq(level)) ++
        (if (fletcher && fletcherOuter) sum else Nil)
    }
    /** i8, f4 or f8, as declared by `integral`, `f32` and `bigEndian`. */
    private[io] def elem: Elem = Elem(if (integral) 'i' else 'f',
      if (f32 && !integral) 4 else 8, bigEndian, name)
    /** H5Z_set_local_szip-shaped client data: [mask, bpp, pixels/block,
      * pixels/scanline]; RAW+NN+LSB matches what libhdf5 stores for
      * little-endian data. */
    def szipCd(chunkDims: Seq[Int]): Seq[Int] = {
      val ppb = 16
      val elems = chunkDims.product
      Seq(Szip.RawMask | Szip.NnMask | Szip.LsbMask, 32, ppb,
        math.max(ppb, math.min(elems, 128 * ppb)))
    }
  }

  def writeNc4(path: String, dimDefs: Seq[(String, Array[Double])],
               vars: Seq[WVar], deflateLevel: Int = 1,
               dense: Boolean = false): Unit = {
    val out = new growable()
    out.bytes(SIG)
    // ---- layout plan.
    // compact (dense=false): superblock v0(96) | heap hdr(32) | heap data
    //   | group btree | snod | gcol(4096) | per-object OH + raw data.
    // dense: superblock v2(48) | root OH w/ Link Info(48) | FRHP(146) |
    //   FHDB direct block (one power-of-2 block holding every link
    //   message) | BTHD(38) | BTLF | per-data-var dense-attr region
    //   (FRHP+FHDB+BTHD+BTLF each) | gcol | objects. ----
    val dimVars = dimDefs.zipWithIndex.map { case ((n, vals), k) =>
      WVar(n, Seq(k), vals, None, f32 = false,
        integral = vals.forall(v => v == math.rint(v) && math.abs(v) < 1e15))
    }
    val all = (dimVars ++ vars).sortBy(_.name)
    // local heap data: "" at 0, then names
    val nameOff = scala.collection.mutable.Map.empty[String, Long]
    var hOff = 8L
    all.foreach { v =>
      nameOff(v.name) = hOff
      hOff += (v.name.length + 1 + 7) / 8 * 8
    }
    val heapDataSize = hOff
    val superEnd = if (dense) 48L else 96L
    val heapHdr = superEnd
    val heapData = heapHdr + 32
    val btreeAddr = heapData + heapDataSize
    val btreeSize = 24L + (1 * 2 + 1) * 8
    val snodAddr = btreeAddr + btreeSize
    val snodSize = 8L + all.length * 40L
    // dense-group region (v2-superblock path)
    val rootOHAddr = superEnd
    val rootOHSize = 16L + 8 + 24 // one Link Info message, 8-padded
    val frhpAddr = rootOHAddr + rootOHSize
    val linkBodies = all.map(v => linkMsgBody(v.name)) // addr patched later
    val fhdbContent = 17L + linkBodies.map(_.length.toLong).sum
    val linkBlockSize = math.max(512L,
      java.lang.Long.highestOneBit(fhdbContent - 1) * 2)
    val bthdAddr = frhpAddr + FRHP_SIZE + linkBlockSize
    // name-index records (hash + 7-byte heap ID, hash-sorted) and the
    // rendered index tree: single leaf, or BTIN + leaves past ~185 links
    val linkIds: Map[String, Array[Byte]] = {
      var lOff = 17L
      all.zip(linkBodies).map { case (v, body) =>
        val hid = heapId7(lOff, body.length)
        lOff += body.length
        v.name -> hid
      }.toMap
    }
    val linkIndex = v2BtreeBytes(
      all.map { v =>
        val h = lookup3(v.name.getBytes("UTF-8"), 0)
        (h, {
          val r = ByteBuffer.allocate(11).order(ByteOrder.LITTLE_ENDIAN)
          r.putInt(h); r.put(linkIds(v.name)); r.array()
        })
      }.sortBy(_._1 & 0xffffffffL).map(_._2),
      recType = 5, recSize = 11, addr = bthdAddr)
    // one dense-attribute region per data var (the DIMENSION_LIST attr
    // moves into a per-object fractal heap; dim vars stay compact)
    val denseAttrStart = bthdAddr + linkIndex.length
    val attrRegion = scala.collection.mutable.Map.empty[String, (Long, Long)]
    var attrCursor = denseAttrStart
    if (dense) vars.foreach { v =>
      val fr = attrCursor
      val bt = fr + FRHP_SIZE + 512L
      attrRegion(v.name) = (fr, bt)
      attrCursor = bt + BTHD_SIZE + (6L + 17L + 4)
    }
    val gcolAddr =
      if (dense) attrCursor
      else snodAddr + snodSize
    // global heap sized to the DIMENSION_LIST reference objects it holds
    // (16-byte object header + 8-byte address each, plus collection
    // header and free-space object), 4 KiB granularity
    val gcolSize = {
      val need = 16L + vars.map(_.dims.length).sum.toLong * 24L + 16L
      (math.max(need, 4096L) + 4095L) / 4096L * 4096L
    }
    // object headers + data, assigned sequentially after the heap block
    var cursor = gcolAddr + gcolSize
    val ohAddr = scala.collection.mutable.Map.empty[String, Long]
    val dataAddr = scala.collection.mutable.Map.empty[String, Long]
    val chunkAddrs = scala.collection.mutable.Map.empty[String,
      Seq[(Seq[Long], Long, Int)]] // (origin, addr, storedBytes)
    val chunkBlobs = scala.collection.mutable.Map.empty[String,
      Seq[Array[Byte]]]
    val btreeOf = scala.collection.mutable.Map.empty[String, Long]
    def shapeOf(v: WVar): Seq[Int] =
      v.dims.map(k => dimDefs(k)._2.length)
    // precompute encoded payloads
    all.foreach { v =>
      val ohSize = ohSizeOf(v, dimDefs, dense && attrRegion.contains(v.name))
      ohAddr(v.name) = cursor
      cursor += ohSize
      v.chunk match {
        case None =>
          dataAddr(v.name) = cursor
          cursor += shapeOf(v).map(_.toLong).product * v.elem.size
        case Some(cd) =>
          val shape = shapeOf(v)
          val grid = shape.zip(cd).map { case (s, c) => (s + c - 1) / c }
          // with an unlimited dim at u != 0 the EA element order is the
          // SWIZZLED chunk order (unlimited dim slowest-varying — see
          // swizzledGridOrigins); emit chunks in that order so EA
          // element k is the chunk the reader expects at k
          val gridIdx = v.unlimDim match {
            case Some(u) if u != 0 =>
              val sw = grid(u) +: grid.patch(u, Nil, 1)
              cartesian(sw.map(g => (0 until g).toSeq))
                .map(c => c.tail.patch(u, Seq(c.head), 0))
            case _ => cartesian(grid.map(g => (0 until g).toSeq))
          }
          val codecs = v.filters(deflateLevel).map(Codec.hdf5)
          val blobs = gridIdx.map { gi =>
            val origin = gi.zip(cd).map { case (g, c) => g.toLong * c }
            val slice = new Array[Double](cd.product) // padding stays 0
            LongGrid.foreachCell(shape.map(_.toLong), origin, cd) { (i, pos) =>
              slice(i) = v.data(pos.toInt)
            }
            (origin, codecs.foldLeft(v.elem.encode(slice))((b, c) => c.encode(b)))
          }
          chunkBlobs(v.name) = blobs.map(_._2)
          chunkAddrs(v.name) = blobs.map { case (origin, blob) =>
            val a = cursor; cursor += blob.length
            (origin, a, blob.length)
          }
          v.index4 match {
            case None =>
              btreeOf(v.name) = cursor
              cursor += 24L + blobs.length * (8 + (cd.length + 1) * 8 + 8) +
                (8 + (cd.length + 1) * 8) // final key
            case Some("single") =>
              require(blobs.length == 1,
                s"${v.name}: single-chunk index needs chunk >= shape " +
                  s"(got ${blobs.length} chunks)")
              btreeOf(v.name) = chunkAddrs(v.name).head._2
            case Some("ea") => // EAHD + EAIB + direct data blocks
              btreeOf(v.name) = cursor
              cursor += 72L + eaIblkLen +
                eaDirectPlan(blobs.length).map(p => 22L + 20L * p._1).sum
            case Some(_) => // fixed array: FAHD(28) + non-paged FADB
              btreeOf(v.name) = cursor
              cursor += 28L + 14L + blobs.length * 20L + 4L
          }
      }
    }
    val eof = cursor
    // global-heap object index per (var, axis): DIMENSION_LIST references
    // resolve through these (needed by both group-storage branches)
    val gIndex = scala.collection.mutable.Map.empty[(String, Int), Int]
    var gi = 1
    vars.foreach { v => v.dims.indices.foreach { k =>
      gIndex((v.name, k)) = gi; gi += 1 } }
    // ---- emit ----
    if (dense) {
      // superblock v2: rootOH address is REAL (the dense root needs its
      // Link Info message); trailing lookup3 checksum per spec
      out.u8(2); out.u8(8); out.u8(8); out.u8(0)
      out.u64(0); out.u64(UNDEF); out.u64(eof); out.u64(rootOHAddr)
      out.u32(lookup3(out.result(), 0) & 0xffffffffL)
      require(out.size == 48, s"superblock v2 size ${out.size}")
      // root OH (v1) with a single Link Info message
      val liBody = {
        val b = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
        b.put(0.toByte); b.put(0.toByte)
        b.putLong(frhpAddr); b.putLong(bthdAddr)
        b.array()
      }
      val rootMsgs = Seq(msg(0x02, liBody))
      out.u8(1); out.u8(0); out.u16(rootMsgs.length)
      out.u32(1); out.u32(rootMsgs.map(_.length).sum.toLong); out.u32(0)
      rootMsgs.foreach(out.bytes)
      require(out.size == frhpAddr, s"root OH drift ${out.size}")
      // link fractal heap: header + one root DIRECT block with every
      // link message packed at sequential heap offsets (header included
      // in heap space, so object offsets start at 17)
      out.bytes(frhpBytes(idLen = 7, maxManaged = 4096,
        startBlock = linkBlockSize, rootAddr = frhpAddr + FRHP_SIZE,
        nObjects = all.length, usedBytes = fhdbContent))
      val fhdb = new growable()
      fhdb.bytes("FHDB".getBytes); fhdb.u8(0); fhdb.u64(frhpAddr)
      fhdb.u32(0) // block offset (offSize = 4)
      all.zip(linkBodies).foreach { case (v, body0) =>
        // patch the target OH address into the link body tail
        val body = body0.clone()
        val ab = ByteBuffer.wrap(body, body.length - 8, 8)
          .order(ByteOrder.LITTLE_ENDIAN)
        ab.putLong(ohAddr(v.name))
        fhdb.bytes(body)
      }
      val fhdbArr = fhdb.result()
      out.bytes(fhdbArr)
      out.bytes(new Array[Byte]((linkBlockSize - fhdbArr.length).toInt))
      // name index: hash-sorted records, one leaf or BTIN + leaves
      out.bytes(linkIndex)
      // per-data-var dense-attribute regions (heap ID length 8:
      // offset 4 + length 3; record type 8 is 17 bytes)
      vars.foreach { v =>
        val (fr, bt) = attrRegion(v.name)
        require(out.size == fr, s"attr region drift ${out.size} vs $fr")
        val attrMsg = dimListAttrBody(v, gcolAddr, gIndex)
        require(attrMsg.length <= 512 - 17, s"attr too large for block")
        out.bytes(frhpBytes(idLen = 8, maxManaged = 65536,
          startBlock = 512L, rootAddr = fr + FRHP_SIZE,
          nObjects = 1, usedBytes = 17L + attrMsg.length))
        val ab = new growable()
        ab.bytes("FHDB".getBytes); ab.u8(0); ab.u64(fr); ab.u32(0)
        ab.bytes(attrMsg)
        out.bytes(ab.result())
        out.bytes(new Array[Byte](512 - ab.result().length.toInt))
        val rec = ByteBuffer.allocate(17).order(ByteOrder.LITTLE_ENDIAN)
        rec.put(heapId8(17L, attrMsg.length)) // heap ID first in type 8
        rec.put(0.toByte) // message flags
        rec.putInt(0) // creation order
        rec.putInt(lookup3("DIMENSION_LIST".getBytes("UTF-8"), 0))
        out.bytes(v2BtreeBytes(Seq(rec.array()), recType = 8, recSize = 17,
          addr = bt))
      }
      require(out.size == gcolAddr, s"group region drift ${out.size}")
    } else {
      // superblock v0
      out.u8(0); out.u8(0); out.u8(0); out.u8(0); out.u8(0)
      out.u8(8); out.u8(8); out.u8(0)
      out.u16(4); out.u16(16); out.u32(0)
      out.u64(0); out.u64(UNDEF); out.u64(eof); out.u64(UNDEF)
      // root group symbol table entry: the cache-type-1 scratch carries the
      // group B-tree + heap addresses, which is what every reader (ours
      // included) actually walks; the root OH address is left undefined —
      // the bounded-writer contract, documented for external tools.
      out.u64(0); out.u64(UNDEF)
      out.u32(1); out.u32(0)
      out.u64(btreeAddr); out.u64(heapHdr)
      require(out.size == 96, s"superblock size ${out.size}")
      // local heap
      out.bytes("HEAP".getBytes); out.u8(0); out.u8(0); out.u8(0); out.u8(0)
      out.u64(heapDataSize); out.u64(1L); out.u64(heapData)
      // heap data: empty string slot then names
      val heapBytes = new Array[Byte](heapDataSize.toInt)
      all.foreach { v =>
        val off = nameOff(v.name).toInt
        val nb = v.name.getBytes("UTF-8")
        System.arraycopy(nb, 0, heapBytes, off, nb.length)
      }
      out.bytes(heapBytes)
      // group B-tree: one leaf with one SNOD child
      out.bytes("TREE".getBytes); out.u8(0); out.u8(0); out.u16(1)
      out.u64(UNDEF); out.u64(UNDEF)
      out.u64(0) // key 0: offset of "" (lowest)
      out.u64(snodAddr)
      out.u64(nameOff(all.last.name)) // key 1: greatest name
      // SNOD
      out.bytes("SNOD".getBytes); out.u8(1); out.u8(0); out.u16(all.length)
      all.foreach { v =>
        out.u64(nameOff(v.name)); out.u64(ohAddr(v.name))
        out.u32(0); out.u32(0); out.u64(0); out.u64(0)
      }
    }
    // global heap: one object per variable with a DIMENSION_LIST, each
    // holding ONE object reference (one heap object per (var, axis))
    val gcol = ByteBuffer.allocate(gcolSize.toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    gcol.put('G'.toByte); gcol.put('C'.toByte); gcol.put('O'.toByte)
    gcol.put('L'.toByte); gcol.put(1.toByte)
    gcol.put(0.toByte); gcol.put(0.toByte); gcol.put(0.toByte)
    gcol.putLong(gcolSize)
    vars.foreach { v => v.dims.indices.foreach { k =>
      gcol.putShort(gIndex((v.name, k)).toShort)
      gcol.putShort(1.toShort); gcol.putInt(0)
      gcol.putLong(8L)
      gcol.putLong(ohAddr(dimDefs(v.dims(k))._1))
    } }
    // free-space object (index 0): size = rest of collection incl. header
    val freeStart = gcol.position()
    gcol.putShort(0.toShort); gcol.putShort(0.toShort); gcol.putInt(0)
    gcol.putLong(gcolSize - freeStart)
    out.bytes(gcol.array())
    // objects
    all.foreach { v =>
      out.bytes(renderOH(v, shapeOf(v), v.elem.size, dataAddr.get(v.name),
        btreeOf.get(v.name), deflateLevel, dimDefs, gcolAddr, gIndex,
        attrRegion.get(v.name),
        if (v.index4.contains("single"))
          Some(chunkAddrs(v.name).head._3) else None))
      v.chunk match {
        case None =>
          out.bytes(v.elem.encode(v.data))
        case Some(cd) =>
          chunkBlobs(v.name).foreach(out.bytes)
          val entries = chunkAddrs(v.name)
          v.index4 match {
            case Some("single") => () // layout message points at the chunk
            case Some("ea") =>
              // extensible array: EAHD + EAIB (4 elements inline, direct
              // data-block pointers) + EADB blocks, lookup3 checksums
              val eaAddr = btreeOf(v.name)
              require(entries.length <= 124,
                s"${v.name}: the EA fixture writer covers <= 124 chunks " +
                  s"(got ${entries.length}) — the reader itself handles " +
                  "super blocks; extend eaDirectPlan if a larger fixture " +
                  "is ever needed")
              val plan = eaDirectPlan(entries.length)
              val iblkAddr = eaAddr + 72
              val dblkAddrs = plan.scanLeft(iblkAddr + eaIblkLen) {
                case (a, (ne, _)) => a + 22L + 20L * ne
              }.init
              def elt(g: growable, i: Long): Unit =
                if (i < entries.length) {
                  val (_, a, stored) = entries(i.toInt)
                  g.u64(a); g.u64(stored.toLong); g.u32(0)
                } else { g.u64(UNDEF); g.u64(0); g.u32(0) }
              val hdr = new growable()
              hdr.bytes("EAHD".getBytes); hdr.u8(0)
              hdr.u8(1) // client: filtered dataset chunks
              hdr.u8(20); hdr.u8(EaMaxBits); hdr.u8(EaIdxElmts)
              hdr.u8(EaMinElmts); hdr.u8(EaMinPtrs); hdr.u8(EaPageBits)
              hdr.u64(0L); hdr.u64(0L) // nsblks, sblk size
              hdr.u64(plan.length.toLong) // ndblks
              hdr.u64(plan.map(22L + 20L * _._1).sum) // dblk size
              hdr.u64(entries.length.toLong) // max index set
              hdr.u64(entries.length.toLong) // nelmts
              hdr.u64(iblkAddr)
              hdr.u32(lookup3(hdr.result(), 0) & 0xffffffffL)
              out.bytes(hdr.result())
              val ib = new growable()
              ib.bytes("EAIB".getBytes); ib.u8(0); ib.u8(1)
              ib.u64(eaAddr)
              (0 until EaIdxElmts).foreach(i => elt(ib, i.toLong))
              (0 until 6).foreach(k => // direct data-block pointers
                ib.u64(if (k < plan.length) dblkAddrs(k) else UNDEF))
              (0 until 26).foreach(_ => ib.u64(UNDEF)) // super blocks
              ib.u32(lookup3(ib.result(), 0) & 0xffffffffL)
              out.bytes(ib.result())
              plan.zip(dblkAddrs).foreach { case ((ne, base), _) =>
                val db = new growable()
                db.bytes("EADB".getBytes); db.u8(0); db.u8(1)
                db.u64(eaAddr)
                db.u32(0) // block offset (arrOffSize = 4 at 32 bits)
                (0 until ne).foreach(k => elt(db, base + k))
                db.u32(lookup3(db.result(), 0) & 0xffffffffL)
                out.bytes(db.result())
              }
            case Some(_) =>
              // fixed array: FAHD header + non-paged FADB of
              // (addr, stored size, mask) entries, lookup3 checksums
              val fahdAddr = btreeOf(v.name)
              val hdr = new growable()
              hdr.bytes("FAHD".getBytes); hdr.u8(0)
              hdr.u8(1) // client: filtered dataset chunks
              hdr.u8(20) // entry size: addr(8) + size(8) + mask(4)
              hdr.u8(fixedArrayPageBits(entries.length))
              hdr.u64(entries.length.toLong)
              hdr.u64(fahdAddr + 28)
              hdr.u32(lookup3(hdr.result(), 0) & 0xffffffffL)
              out.bytes(hdr.result())
              val db = new growable()
              db.bytes("FADB".getBytes); db.u8(0); db.u8(1)
              db.u64(fahdAddr)
              entries.foreach { case (_, addr, stored) =>
                db.u64(addr); db.u64(stored.toLong); db.u32(0)
              }
              db.u32(lookup3(db.result(), 0) & 0xffffffffL)
              out.bytes(db.result())
            case None =>
              // v1 chunk B-tree leaf
              out.bytes("TREE".getBytes); out.u8(1); out.u8(0)
              out.u16(entries.length)
              out.u64(UNDEF); out.u64(UNDEF)
              entries.foreach { case (origin, addr, stored) =>
                out.u32(stored); out.u32(0)
                origin.foreach(out.u64); out.u64(0)
                out.u64(addr)
              }
              // final key: offsets just past the last chunk row
              out.u32(0); out.u32(0)
              shapeOf(v).zip(cd).foreach { case (s, c) =>
                out.u64(((s + c - 1) / c).toLong * c) }
              out.u64(0)
          }
      }
    }
    require(out.size == eof, s"layout drift: ${out.size} vs planned $eof")
    Files.write(Paths.get(path), out.result())
  }

  /** Fixture writer for the compound-datatype read path: ONE 1-D
    * contiguous dataset whose element type is a compound of f64 members
    * (spec "Datatype Message", class 6 version 1) in a minimal
    * v0-superblock file. Interleaved storage, row-major — exactly what
    * [[readVarMember]] must unpick. */
  def writeCompoundFixture(path: String, dsName: String,
                           members: Seq[(String, Array[Double])]): Unit = {
    val out = new growable()
    out.bytes(SIG)
    val n = members.head._2.length
    require(members.forall(_._2.length == n), "ragged members")
    val esz = 8 * members.length
    val nameHeapSize = 8L + (dsName.length + 1 + 7) / 8 * 8
    val heapHdr = 96L
    val heapData = heapHdr + 32
    val btreeAddr = heapData + nameHeapSize
    val snodAddr = btreeAddr + 24 + 24
    val ohAddr = snodAddr + 8 + 40
    val dt = {
      val g = new growable()
      g.u8(0x16) // class 6, version 1
      g.u8(members.length & 0xff); g.u8((members.length >> 8) & 0xff)
      g.u8(0)
      g.u32(esz.toLong)
      members.zipWithIndex.foreach { case ((mn, _), i) =>
        val nb = mn.getBytes("UTF-8")
        val padded = (nb.length + 1 + 7) / 8 * 8
        g.bytes(nb)
        (nb.length until padded).foreach(_ => g.u8(0))
        g.u32(i * 8L) // byte offset within the element
        g.u8(0); g.u8(0); g.u8(0); g.u8(0) // v1 dimensionality + reserved
        g.u32(0); g.u32(0) // dim permutation + reserved
        (0 until 4).foreach(_ => g.u32(0)) // dim sizes
        g.bytes(dtypeBody(8, integral = false))
      }
      g.result()
    }
    val headMsgs = Seq(
      msg(0x01, dataspaceBody(Seq(n))),
      msg(0x03, dt),
      msg(0x05, fillBody()))
    val layoutMsgSize = 8L + 24 // 18-byte contiguous body, 8-padded
    val ohSize = 16L + headMsgs.map(_.length.toLong).sum + layoutMsgSize
    val dataAddr = ohAddr + ohSize
    val eof = dataAddr + n.toLong * esz
    // superblock v0 + root symbol-table scratch
    out.u8(0); out.u8(0); out.u8(0); out.u8(0); out.u8(0)
    out.u8(8); out.u8(8); out.u8(0)
    out.u16(4); out.u16(16); out.u32(0)
    out.u64(0); out.u64(UNDEF); out.u64(eof); out.u64(UNDEF)
    out.u64(0); out.u64(UNDEF)
    out.u32(1); out.u32(0)
    out.u64(btreeAddr); out.u64(heapHdr)
    // local heap with the single name
    out.bytes("HEAP".getBytes); out.u8(0); out.u8(0); out.u8(0); out.u8(0)
    out.u64(nameHeapSize); out.u64(1L); out.u64(heapData)
    val heapBytes = new Array[Byte](nameHeapSize.toInt)
    System.arraycopy(dsName.getBytes("UTF-8"), 0, heapBytes, 8,
      dsName.length)
    out.bytes(heapBytes)
    out.bytes("TREE".getBytes); out.u8(0); out.u8(0); out.u16(1)
    out.u64(UNDEF); out.u64(UNDEF)
    out.u64(0); out.u64(snodAddr); out.u64(8L)
    out.bytes("SNOD".getBytes); out.u8(1); out.u8(0); out.u16(1)
    out.u64(8L); out.u64(ohAddr)
    out.u32(0); out.u32(0); out.u64(0); out.u64(0)
    // object header
    val allMsgs = headMsgs :+ msg(0x08,
      layoutBodyContig(dataAddr, n.toLong * esz))
    out.u8(1); out.u8(0); out.u16(allMsgs.length)
    out.u32(1); out.u32(allMsgs.map(_.length).sum.toLong); out.u32(0)
    allMsgs.foreach(out.bytes)
    require(out.size == dataAddr, s"layout drift ${out.size} vs $dataAddr")
    // interleaved element storage
    val db = ByteBuffer.allocate(n * esz).order(ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach { i =>
      members.foreach { case (_, vals) => db.putDouble(vals(i)) }
    }
    out.bytes(db.array())
    Files.write(Paths.get(path), out.result())
  }

  /** Minimal fixture: ONE fixed-length string dataset (datatype class 3,
    * null-terminated, contiguous layout) — the shape netCDF-4 stores
    * fixed-width char/str variables in. Mirrors
    * [[writeCompoundFixture]]'s layout arithmetic with strlen elements. */
  def writeStringFixture(path: String, dsName: String,
                         strings: Seq[String], strlen: Int): Unit = {
    val out = new growable()
    out.bytes(SIG)
    val n = strings.length
    strings.foreach(s => require(s.getBytes("UTF-8").length <= strlen,
      s"string '$s' exceeds strlen=$strlen"))
    val esz = strlen
    val nameHeapSize = 8L + (dsName.length + 1 + 7) / 8 * 8
    val heapHdr = 96L
    val heapData = heapHdr + 32
    val btreeAddr = heapData + nameHeapSize
    val snodAddr = btreeAddr + 24 + 24
    val ohAddr = snodAddr + 8 + 40
    val dt = {
      val g = new growable()
      g.u8(0x13) // version 1, class 3 (string)
      g.u8(0); g.u8(0); g.u8(0) // null-terminated, ASCII charset
      g.u32(esz.toLong)
      g.result()
    }
    val headMsgs = Seq(
      msg(0x01, dataspaceBody(Seq(n))),
      msg(0x03, dt),
      msg(0x05, fillBody()))
    val layoutMsgSize = 8L + 24
    val ohSize = 16L + headMsgs.map(_.length.toLong).sum + layoutMsgSize
    val dataAddr = ohAddr + ohSize
    val eof = dataAddr + n.toLong * esz
    out.u8(0); out.u8(0); out.u8(0); out.u8(0); out.u8(0)
    out.u8(8); out.u8(8); out.u8(0)
    out.u16(4); out.u16(16); out.u32(0)
    out.u64(0); out.u64(UNDEF); out.u64(eof); out.u64(UNDEF)
    out.u64(0); out.u64(UNDEF)
    out.u32(1); out.u32(0)
    out.u64(btreeAddr); out.u64(heapHdr)
    out.bytes("HEAP".getBytes); out.u8(0); out.u8(0); out.u8(0); out.u8(0)
    out.u64(nameHeapSize); out.u64(1L); out.u64(heapData)
    val heapBytes = new Array[Byte](nameHeapSize.toInt)
    System.arraycopy(dsName.getBytes("UTF-8"), 0, heapBytes, 8,
      dsName.length)
    out.bytes(heapBytes)
    out.bytes("TREE".getBytes); out.u8(0); out.u8(0); out.u16(1)
    out.u64(UNDEF); out.u64(UNDEF)
    out.u64(0); out.u64(snodAddr); out.u64(8L)
    out.bytes("SNOD".getBytes); out.u8(1); out.u8(0); out.u16(1)
    out.u64(8L); out.u64(ohAddr)
    out.u32(0); out.u32(0); out.u64(0); out.u64(0)
    val allMsgs = headMsgs :+ msg(0x08,
      layoutBodyContig(dataAddr, n.toLong * esz))
    out.u8(1); out.u8(0); out.u16(allMsgs.length)
    out.u32(1); out.u32(allMsgs.map(_.length).sum.toLong); out.u32(0)
    allMsgs.foreach(out.bytes)
    require(out.size == dataAddr, s"layout drift ${out.size} vs $dataAddr")
    strings.foreach { s =>
      val b = s.getBytes("UTF-8")
      out.bytes(b)
      (b.length until esz).foreach(_ => out.u8(0))
    }
    Files.write(Paths.get(path), out.result())
  }

  // ---- dense-group writer helpers --------------------------------------

  private val FRHP_SIZE = 146L
  private val BTHD_SIZE = 38L

  /** Bob Jenkins lookup3 hashlittle (public domain; the hash HDF5 uses
    * for v2 B-tree name records and metadata checksums). */
  private[graft] def lookup3(data: Array[Byte], init: Int): Int = {
    def rot(x: Int, k: Int): Int = (x << k) | (x >>> (32 - k))
    def word(o: Int, n: Int): Int = {
      var v = 0; var i = 0
      while (i < n && o + i < data.length) {
        v |= (data(o + i) & 0xff) << (8 * i); i += 1
      }
      v
    }
    var a = 0xdeadbeef + data.length + init
    var b = a; var c = a
    var off = 0; var len = data.length
    while (len > 12) {
      a += word(off, 4); b += word(off + 4, 4); c += word(off + 8, 4)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      off += 12; len -= 12
    }
    if (len > 0) {
      a += word(off, math.min(len, 4))
      b += word(off + 4, math.max(0, math.min(len - 4, 4)))
      c += word(off + 8, math.max(0, len - 8))
      c ^= b; c -= rot(b, 14)
      a ^= c; a -= rot(c, 11)
      b ^= a; b -= rot(a, 25)
      c ^= b; c -= rot(b, 16)
      a ^= c; a -= rot(c, 4)
      b ^= a; b -= rot(a, 14)
      c ^= b; c -= rot(b, 24)
    }
    c
  }

  /** Hard-link message body with an 8-byte address placeholder at the
    * tail (patched once object header addresses are final). */
  private def linkMsgBody(name: String): Array[Byte] = {
    val nb = name.getBytes("UTF-8")
    require(nb.length < 256, s"link name too long: $name")
    val b = ByteBuffer.allocate(3 + nb.length + 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte) // version
    b.put(0.toByte) // flags: 1-byte name length, hard link, no extras
    b.put(nb.length.toByte)
    b.put(nb)
    b.putLong(0L) // OH address placeholder
    b.array()
  }

  /** Managed heap ID, 7 bytes (links): flags + offset(4) + length(2). */
  private def heapId7(off: Long, len: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(7).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0.toByte); b.putInt(off.toInt); b.putShort(len.toShort)
    b.array()
  }

  /** Managed heap ID, 8 bytes (attributes): flags + offset(4) + length(3). */
  private def heapId8(off: Long, len: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0.toByte); b.putInt(off.toInt)
    b.put((len & 0xff).toByte); b.put(((len >> 8) & 0xff).toByte)
    b.put(((len >> 16) & 0xff).toByte)
    b.array()
  }

  /** Fractal heap header: root is a single DIRECT block (curRows = 0). */
  private def frhpBytes(idLen: Int, maxManaged: Int, startBlock: Long,
                        rootAddr: Long, nObjects: Int,
                        usedBytes: Long): Array[Byte] = {
    val g = new growable()
    g.bytes("FRHP".getBytes); g.u8(0)
    g.u16(idLen); g.u16(0) // ID length + I/O filter length
    g.u8(0) // flags: no checksummed direct blocks
    g.u32(maxManaged.toLong)
    g.u64(0); g.u64(UNDEF) // next huge ID + huge v2 B-tree
    g.u64(startBlock - usedBytes); g.u64(UNDEF) // free space + manager
    g.u64(startBlock); g.u64(startBlock) // managed + allocated space
    g.u64(usedBytes) // direct block iterator offset
    g.u64(nObjects.toLong)
    g.u64(0); g.u64(0); g.u64(0); g.u64(0) // huge/tiny sizes + counts
    g.u16(4) // table width
    g.u64(startBlock); g.u64(65536L) // starting + max direct block size
    g.u16(32) // max heap size (bits) -> 4-byte offsets
    g.u16(1) // starting rows in root indirect block
    g.u64(rootAddr)
    g.u16(0) // current rows: 0 = root is a direct block
    g.u32(lookup3(g.result(), 0) & 0xffffffffL)
    val arr = g.result()
    require(arr.length == FRHP_SIZE, s"FRHP size ${arr.length}")
    arr
  }

  /** v2 B-tree header. */
  private def bthdBytes(recType: Int, recSize: Int, rootAddr: Long,
                        rootNrec: Int, totalNrec: Int,
                        depth: Int): Array[Byte] = {
    val g = new growable()
    g.bytes("BTHD".getBytes); g.u8(0); g.u8(recType)
    g.u32(2048L) // node size
    g.u16(recSize); g.u16(depth)
    g.u8(100); g.u8(40) // split / merge percent
    g.u64(rootAddr); g.u16(rootNrec); g.u64(totalNrec.toLong)
    g.u32(lookup3(g.result(), 0) & 0xffffffffL)
    val arr = g.result()
    require(arr.length == BTHD_SIZE, s"BTHD size ${arr.length}")
    arr
  }

  private def btlfBytes(recs: Seq[Array[Byte]], recType: Int): Array[Byte] = {
    val g = new growable()
    g.bytes("BTLF".getBytes); g.u8(0); g.u8(recType)
    recs.foreach(g.bytes)
    g.u32(lookup3(g.result(), 0) & 0xffffffffL)
    g.result()
  }

  /** Whole v2 B-tree (header + nodes) for pre-sorted fixed-size records,
    * starting at file address `addr`: a single leaf when everything fits,
    * else a depth-1 BTIN root whose separator records interleave balanced
    * leaves — the same shape libhdf5 grows into for wide groups. */
  private def v2BtreeBytes(recs: Seq[Array[Byte]], recType: Int,
                           recSize: Int, addr: Long): Array[Byte] = {
    val cap = (2048 - 10) / recSize
    val g = new growable()
    if (recs.length <= cap) {
      g.bytes(bthdBytes(recType, recSize, addr + BTHD_SIZE,
        recs.length, recs.length, depth = 0))
      g.bytes(btlfBytes(recs, recType))
    } else {
      val szN = minBytes(cap.toLong)
      val l = (recs.length + cap - 1) / cap // leaves
      val leafTotal = recs.length - (l - 1) // root holds l-1 separators
      // balanced leaf sizes: first (leafTotal % l) leaves get one extra
      val baseN = leafTotal / l
      val leafNs = (0 until l).map(i =>
        baseN + (if (i < leafTotal % l) 1 else 0))
      // walk the sorted records into [leaf0, sep0, leaf1, sep1, ...]
      var idx = 0
      val leaves = Vector.newBuilder[Seq[Array[Byte]]]
      val seps = Vector.newBuilder[Array[Byte]]
      leafNs.zipWithIndex.foreach { case (n, i) =>
        leaves += recs.slice(idx, idx + n); idx += n
        if (i < l - 1) { seps += recs(idx); idx += 1 }
      }
      val leavesV = leaves.result(); val sepsV = seps.result()
      val btinAddr = addr + BTHD_SIZE
      val btinSize = 6L + (l - 1).toLong * recSize + l.toLong * (8 + szN) + 4
      val leafAddrs = leavesV.map(_.length).scanLeft(btinAddr + btinSize) {
        (a, n) => a + 6 + n.toLong * recSize + 4
      }
      g.bytes(bthdBytes(recType, recSize, btinAddr, l - 1, recs.length,
        depth = 1))
      val ib = new growable()
      ib.bytes("BTIN".getBytes); ib.u8(0); ib.u8(recType)
      (0 until l).foreach { i =>
        ib.u64(leafAddrs(i))
        (0 until szN).foreach(k =>
          ib.u8((leavesV(i).length >> (8 * k)) & 0xff))
        if (i < l - 1) ib.bytes(sepsV(i))
      }
      ib.u32(lookup3(ib.result(), 0) & 0xffffffffL)
      require(ib.result().length == btinSize, "BTIN size drift")
      g.bytes(ib.result())
      leavesV.foreach(lv => g.bytes(btlfBytes(lv, recType)))
    }
    g.result()
  }

  private def cartesian(axes: Seq[Seq[Int]]): Seq[Seq[Int]] =
    axes.foldLeft(Seq(Seq.empty[Int])) { (acc, ax) =>
      acc.flatMap(pfx => ax.map(pfx :+ _)) }

  // ---- v1 object header rendering --------------------------------------

  private def msg(typ: Int, body: Array[Byte]): Array[Byte] = {
    val padded = (body.length + 7) / 8 * 8
    val b = ByteBuffer.allocate(8 + padded).order(ByteOrder.LITTLE_ENDIAN)
    b.putShort(typ.toShort); b.putShort(padded.toShort)
    b.put(0.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
    b.put(body)
    b.array()
  }

  private def dataspaceBody(shape: Seq[Int],
                            unlim: Option[Int] = None): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + shape.length * 16)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.put(shape.length.toByte); b.put(1.toByte)
    b.put(0.toByte); b.putInt(0)
    shape.foreach(s => b.putLong(s.toLong))
    shape.zipWithIndex.foreach { case (s, i) => // maxdims = dims, except
      b.putLong(if (unlim.contains(i)) UNDEF else s.toLong) // H5S_UNLIMITED
    }
    b.array()
  }

  private def dtypeBody(elemSize: Int, integral: Boolean,
                        precBits: Int = 0,
                        bigEndian: Boolean = false): Array[Byte] = {
    val b = ByteBuffer.allocate(if (integral) 12 else 20)
      .order(ByteOrder.LITTLE_ENDIAN)
    if (integral) { // fixed-point, signed; bit 0 of the class field is
      // the byte order; nbit vars declare their reduced precision
      // (libhdf5 derives the filter cd from it)
      b.put(0x10.toByte)
      b.put((0x08 | (if (bigEndian) 1 else 0)).toByte)
      b.put(0.toByte); b.put(0.toByte)
      b.putInt(elemSize)
      b.putShort(0.toShort)
      b.putShort((if (precBits > 0) precBits else elemSize * 8).toShort)
    } else { // IEEE float, LE
      b.put(0x11.toByte); b.put(0x20.toByte)
      b.put((if (elemSize == 4) 31 else 63).toByte); b.put(0.toByte)
      b.putInt(elemSize)
      b.putShort(0.toShort); b.putShort((elemSize * 8).toShort)
      if (elemSize == 4) { b.put(23.toByte); b.put(8.toByte)
        b.put(0.toByte); b.put(23.toByte); b.putInt(127) }
      else { b.put(52.toByte); b.put(11.toByte)
        b.put(0.toByte); b.put(52.toByte); b.putInt(1023) }
    }
    b.array()
  }

  private def fillBody(): Array[Byte] =
    Array[Byte](2, 2, 2, 0) // v2, alloc late, write late, undefined

  private def scalarStrAttrBody(name: String, value: String): Array[Byte] = {
    val nb = name.getBytes("UTF-8") :+ 0.toByte
    val vb = value.getBytes("UTF-8") :+ 0.toByte
    val dt = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    dt.put(0x13.toByte); dt.put(0.toByte); dt.put(0.toByte); dt.put(0.toByte)
    dt.putInt(vb.length)
    val ds = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    ds.put(1.toByte); ds.put(0.toByte); ds.put(0.toByte); ds.put(0.toByte)
    ds.putInt(0)
    attrBody(nb, dt.array(), ds.array(), vb)
  }

  private def dimListAttrBody(v: WVar, gcolAddr: Long,
                              gIndex: ((String, Int)) => Int): Array[Byte] = {
    val nb = "DIMENSION_LIST".getBytes("UTF-8") :+ 0.toByte
    // vlen(sequence) of object references: base type class 7 size 8
    val dt = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
    dt.put(0x19.toByte); dt.put(0.toByte); dt.put(0.toByte); dt.put(0.toByte)
    dt.putInt(16)
    dt.put(0x17.toByte); dt.put(0.toByte); dt.put(0.toByte); dt.put(0.toByte)
    dt.putInt(8)
    val ds = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    ds.put(1.toByte); ds.put(1.toByte); ds.put(0.toByte); ds.put(0.toByte)
    ds.putInt(0)
    ds.putLong(v.dims.length.toLong)
    val data = ByteBuffer.allocate(v.dims.length * 16)
      .order(ByteOrder.LITTLE_ENDIAN)
    v.dims.indices.foreach { k =>
      data.putInt(1); data.putLong(gcolAddr); data.putInt(gIndex((v.name, k)))
    }
    attrBody(nb, dt.array(), ds.array(), data.array())
  }

  private def attrBody(name: Array[Byte], dt: Array[Byte], ds: Array[Byte],
                       data: Array[Byte]): Array[Byte] = {
    def p8(n: Int) = (n + 7) / 8 * 8
    val b = ByteBuffer.allocate(8 + p8(name.length) + p8(dt.length) +
      p8(ds.length) + data.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.put(0.toByte)
    b.putShort(name.length.toShort)
    b.putShort(dt.length.toShort); b.putShort(ds.length.toShort)
    b.put(name); b.position(8 + p8(name.length))
    b.put(dt); b.position(8 + p8(name.length) + p8(dt.length))
    b.put(ds); b.position(8 + p8(name.length) + p8(dt.length) + p8(ds.length))
    b.put(data)
    b.array()
  }

  private def layoutBodyContig(addr: Long, size: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
    b.put(3.toByte); b.put(1.toByte); b.putLong(addr); b.putLong(size)
    b.array()
  }

  /** Layout-message v4 chunked body: "single" embeds the filtered
    * chunk's stored size + mask; "fixed" points at an FAHD header. */
  private def layoutBodyChunkedV4(indexAddr: Long, chunk: Seq[Int],
                                  elemSize: Int, index: String,
                                  singleStored: Option[Int],
                                  gridN: Int): Array[Byte] = {
    val dims = chunk :+ elemSize
    val idxType = index match {
      case "single" => 1
      case "ea" => 4
      case _ => 3
    }
    val flags = if (idxType == 1) 2 else 0 // single carries size+mask
    val len = 5 + dims.length * 4 + 1 +
      (idxType match { case 1 => 12; case 4 => 5; case _ => 1 }) + 8
    val b = ByteBuffer.allocate(len).order(ByteOrder.LITTLE_ENDIAN)
    b.put(4.toByte).put(2.toByte) // version 4, chunked
    b.put(flags.toByte)
    b.put(dims.length.toByte)
    b.put(4.toByte) // dim size encoded length
    dims.foreach(b.putInt)
    b.put(idxType.toByte)
    idxType match {
      case 1 =>
        b.putLong(singleStored.getOrElse(0).toLong); b.putInt(0)
      case 4 => // EA creation params (the reader re-reads them from EAHD)
        b.put(EaMaxBits.toByte).put(EaIdxElmts.toByte)
          .put(EaMinPtrs.toByte).put(EaMinElmts.toByte)
          .put(EaPageBits.toByte)
      case _ => b.put(fixedArrayPageBits(gridN).toByte)
    }
    b.putLong(indexAddr)
    b.array()
  }

  /** Writer-side extensible-array creation params: filtered client,
    * 20-byte elements (addr 8 + size 8 + mask 4), a 4-element index
    * block, and direct data blocks 8/16/16/32/32 — covers up to 124
    * chunks without super blocks (the fixture writer's bound; the READER
    * handles super blocks and paging generally). */
  private val EaMaxBits = 32
  private val EaIdxElmts = 4
  private val EaMinElmts = 8
  private val EaMinPtrs = 4
  private val EaPageBits = 10
  private val eaIblkLen: Long = // 6 direct dblk ptrs + 26 sblk ptrs
    14L + EaIdxElmts * 20L + (6 + 26) * 8L + 4L

  /** (nelmts, first element index) of each direct data block actually
    * needed for `n` total elements. */
  private def eaDirectPlan(n: Int): Seq[(Int, Long)] = {
    var si = EaIdxElmts.toLong
    (0 until 4).flatMap { u =>
      val nd = 1 << (u / 2); val ne = (1 << ((u + 1) / 2)) * EaMinElmts
      (0 until nd).flatMap { _ =>
        val base = si; si += ne
        if (base < n) Some((ne, base)) else None
      }
    }
  }

  /** big enough that the data block stays non-paged */
  private def fixedArrayPageBits(n: Int): Int =
    math.max(10, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1, n - 1).toLong))

  private def layoutBodyChunked(btree: Long, chunk: Seq[Int],
                                elemSize: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(11 + (chunk.length + 1) * 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put(3.toByte); b.put(2.toByte); b.put((chunk.length + 1).toByte)
    b.putLong(btree)
    chunk.foreach(b.putInt); b.putInt(elemSize)
    b.array()
  }

  /** Filter-pipeline message (version 1) declaring `filters` in apply
    * order. Ids from 256 record their registered name, NUL-padded to 8;
    * client data pads to an even count. */
  private def pipelineBody(filters: Seq[(Int, Seq[Int])]): Array[Byte] = {
    val entries = filters.map { case f @ (id, cd) =>
      val name =
        if (id < 256) Array.emptyByteArray
        else java.util.Arrays.copyOf(Codec.hdf5(f).name.getBytes("US-ASCII"), 8)
      val b = ByteBuffer.allocate(8 + name.length + (cd.length + 1) / 2 * 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(id.toShort).putShort(name.length.toShort)
      // a checksum, nbit or scale-offset stage is mandatory: skipping it
      // would corrupt the data; the rest are optional
      b.putShort((if (Set(3, 5, 6)(id)) 0 else 1).toShort)
      b.putShort(cd.length.toShort).put(name)
      cd.foreach(b.putInt)
      b.array()
    }
    val b = ByteBuffer.allocate(8 + entries.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).put(entries.length.toByte).putShort(0.toShort).putInt(0)
    entries.foreach(b.put)
    b.array()
  }

  private def messagesOf(v: WVar, shape: Seq[Int], elemSize: Int,
                         dataAddr: Option[Long], btree: Option[Long],
                         level: Int, dimDefs: Seq[(String, Array[Double])],
                         gcolAddr: Long,
                         gIndex: ((String, Int)) => Int,
                         attrRegion: Option[(Long, Long)] = None,
                         singleStored: Option[Int] = None
                        ): Seq[Array[Byte]] = {
    val isDim = v.dims.length == 1 &&
      dimDefs.exists(_._1 == v.name)
    val base = Seq(
      msg(0x01, dataspaceBody(shape, v.unlimDim)),
      msg(0x03, dtypeBody(elemSize, v.integral, v.nbitPrec,
        v.bigEndian)),
      msg(0x05, fillBody()),
      v.chunk match {
        case None => msg(0x08, layoutBodyContig(dataAddr.get,
          shape.map(_.toLong).product * elemSize))
        case Some(cd) => msg(0x08, v.index4 match {
          case None => layoutBodyChunked(btree.get, cd, elemSize)
          case Some(ix) =>
            val gridN = shape.zip(cd)
              .map { case (s, c) => (s + c - 1) / c }.product
            layoutBodyChunkedV4(btree.get, cd, elemSize, ix,
              singleStored, gridN)
        })
      })
    val filters = v.filters(level) match {
      case Nil => Nil
      case fs => Seq(msg(0x0B, pipelineBody(fs)))
    }
    val attrs =
      if (isDim) Seq(
        msg(0x0C, scalarStrAttrBody("CLASS", "DIMENSION_SCALE")),
        msg(0x0C, scalarStrAttrBody("NAME", v.name)))
      else attrRegion match {
        case Some((fr, bt)) =>
          // DENSE attribute storage: Attribute Info message pointing at
          // the per-object fractal heap + name-index v2 B-tree
          Seq(msg(0x15, attrInfoBody(fr, bt)))
        case None => Seq(msg(0x0C, dimListAttrBody(v, gcolAddr, gIndex)))
      }
    base ++ filters ++ attrs
  }

  private def attrInfoBody(fheapAddr: Long, btAddr: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0.toByte); b.put(0.toByte) // version + flags (no creation order)
    b.putLong(fheapAddr); b.putLong(btAddr)
    b.array()
  }

  /** Rendered header size — MUST agree with [[renderOH]], so it renders
    * the same message set with dummy addresses (sizes are
    * address-independent). */
  private def ohSizeOf(v: WVar,
                       dimDefs: Seq[(String, Array[Double])],
                       denseAttr: Boolean): Long = {
    val shape = v.dims.map(_ => 1)
    val msgs = messagesOf(v, shape, v.elem.size, Some(0L), Some(0L), 1,
      dimDefs, 0L, _ => 1, if (denseAttr) Some((0L, 0L)) else None,
      if (v.index4.contains("single")) Some(0) else None)
    16L + msgs.map(_.length.toLong).sum
  }

  private def renderOH(v: WVar, shape: Seq[Int], elemSize: Int,
                       dataAddr: Option[Long], btree: Option[Long],
                       level: Int, dimDefs: Seq[(String, Array[Double])],
                       gcolAddr: Long,
                       gIndex: ((String, Int)) => Int,
                       attrRegion: Option[(Long, Long)] = None,
                       singleStored: Option[Int] = None
                      ): Array[Byte] = {
    val msgs = messagesOf(v, shape, elemSize, dataAddr, btree, level,
      dimDefs, gcolAddr, gIndex, attrRegion, singleStored)
    val total = msgs.map(_.length).sum
    val b = ByteBuffer.allocate(16 + total).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.put(0.toByte)
    b.putShort(msgs.length.toShort)
    b.putInt(1) // ref count
    b.putInt(total)
    b.putInt(0) // pad to 8-aligned message start
    msgs.foreach(b.put)
    b.array()
  }

  /** tiny growable byte sink */
  private final class growable {
    private val bos = new java.io.ByteArrayOutputStream()
    def bytes(a: Array[Byte]): Unit = bos.write(a)
    def u8(v: Int): Unit = bos.write(v & 0xff)
    def u16(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = (0 until 4).foreach(i =>
      bos.write(((v >> (8 * i)) & 0xff).toInt))
    def u64(v: Long): Unit = (0 until 8).foreach(i =>
      bos.write(((v >> (8 * i)) & 0xff).toInt))
    def size: Long = bos.size().toLong
    def result(): Array[Byte] = bos.toByteArray
  }
}
