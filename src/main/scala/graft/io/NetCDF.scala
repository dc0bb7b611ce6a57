package graft.io

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** netCDF classic (CDF-1/2/5) reader/writer + the distributed .nc ->
  * parquet converter (the most common real-data entry point the engine was
  * missing; reference dispatch `xarray/backends/api.py:395`, scipy engine
  * `backends/scipy_.py`, netCDF4 engine `backends/netCDF4_.py:680`).
  *
  * Format (public netCDF classic spec, netcdf-c
  * `docs/file_format_specifications.md` grammar): magic `CDF\x01|\x02|
  * \x05`, big-endian header — numrecs, dim_list, gatt_list, var_list
  * (name, dimids, vatt_list, nc_type, vsize, begin) — then 4-byte-aligned
  * data sections. Offset widths per the grammar's NON_NEG/OFFSET rules:
  * CDF-2 ("64-bit offset") widens only `begin` to INT64; CDF-5 ("64-bit
  * data") widens EVERY NON_NEG field (numrecs, name lengths, dim lengths,
  * nelems counts, dimids, vsize) to INT64 and adds the 64-bit types.
  * Scope: fixed-size (non-record) variables; attributes parsed and
  * skipped. netCDF-4 (HDF5 container) files are handled by the bounded
  * native reader in [[HDF5]]; exotic HDF5 features route through an
  * external converter job (ncks/nccopy to classic), see README.
  *
  * 100 TB shape: the header sits at the file start, so the driver
  * parses a GROWING PREFIX (kilobytes) per file plus the small fixed
  * coordinates, then bands the payload into ~32 MiB tasks — record
  * ranges for record variables (one contiguous pread spans the
  * interleaved records, which also carries the record coordinate),
  * row bands otherwise. Parallelism scales with data volume, not file
  * count, and no task ever holds more than one band. */
object NetCDF {

  val NC_BYTE = 1; val NC_CHAR = 2; val NC_SHORT = 3
  val NC_INT = 4; val NC_FLOAT = 5; val NC_DOUBLE = 6
  // CDF-5 additions (same numbering as the public spec)
  val NC_UBYTE = 7; val NC_USHORT = 8; val NC_UINT = 9
  val NC_INT64 = 10; val NC_UINT64 = 11
  private val NC_DIMENSION = 10; private val NC_VARIABLE = 11
  private val NC_ATTRIBUTE = 12

  /** `size == 0` marks the UNLIMITED (record) dimension — at most one,
    * and record variables must lead with it (classic spec). */
  case class Dim(name: String, size: Int)
  /** Attribute: NC_CHAR carries `text`, numeric types carry `nums`. */
  case class Att(name: String, ncType: Int,
                 text: String = null, nums: Array[Double] = null) {
    def nelems: Int = if (ncType == NC_CHAR) text.getBytes("UTF-8").length
                      else nums.length
    /** CF-consumable string form (what DatasetMeta.varAttrs stores);
      * integral types format per ELEMENT so multi-valued attrs match. */
    def asString: String =
      if (ncType == NC_CHAR) text
      else {
        def fmt(d: Double): String =
          if (isIntegral(ncType)) d.toLong.toString else d.toString
        nums.map(fmt).mkString(",")
      }
  }
  object Att {
    def str(name: String, v: String): Att = Att(name, NC_CHAR, text = v)
    def dbl(name: String, v: Double): Att =
      Att(name, NC_DOUBLE, nums = Array(v))
  }
  /** Writer-side variable: values as doubles, encoded per `ncType`. */
  case class Var(name: String, dimIds: Seq[Int], ncType: Int,
                 data: Array[Double], atts: Seq[Att] = Nil)
  case class VarMeta(name: String, dimIds: Seq[Int], ncType: Int,
                     begin: Long, vsize: Long, atts: Seq[Att] = Nil)
  case class Header(version: Int, numrecs: Long, dims: Seq[Dim],
                    vars: Seq[VarMeta], gatts: Seq[Att] = Nil) {
    def recordDimId: Int = dims.indexWhere(_.size == 0)
    def isRecord(v: VarMeta): Boolean =
      v.dimIds.headOption.contains(recordDimId) && recordDimId >= 0
    /** Effective size of a dim (record dim reads as numrecs). */
    def dimSize(id: Int): Int =
      if (id == recordDimId) numrecs.toInt else dims(id).size
    /** Bytes per record across ALL record variables (the interleaved
      * record-slab stride). Single record variable: unpadded per spec. */
    def recSize: Long = {
      val rv = vars.filter(isRecord)
      if (rv.length == 1) {
        val v = rv.head
        v.dimIds.tail.map(dims(_).size.toLong).product * elem(v.ncType).size
      } else rv.map(_.vsize).sum
    }
  }

  /** nc_type -> its big-endian stored element. */
  private val Elems: Map[Int, Elem] = Map(
    NC_BYTE -> ('i', 1), NC_CHAR -> ('i', 1), NC_SHORT -> ('i', 2),
    NC_INT -> ('i', 4), NC_FLOAT -> ('f', 4), NC_DOUBLE -> ('f', 8),
    NC_UBYTE -> ('u', 1), NC_USHORT -> ('u', 2), NC_UINT -> ('u', 4),
    NC_INT64 -> ('i', 8), NC_UINT64 -> ('u', 8)).map { case (t, (k, n)) =>
      t -> Elem(k, n, bigEndian = true, s"nc_type $t") }
  private def elem(t: Int): Elem =
    Elems.getOrElse(t, sys.error(s"unsupported nc_type $t"))
  private def pad4(n: Int): Int = (4 - n % 4) % 4
  private def pad4L(n: Long): Long = (4 - n % 4) % 4

  // ------------------------------------------------------------------
  // writer (fixtures + tooling)
  // ------------------------------------------------------------------

  def write(path: String, dims: Seq[Dim], vars: Seq[Var],
            version: Int = 1, gatts: Seq[Att] = Nil): Unit = {
    require(version == 1 || version == 2 || version == 5,
      s"unsupported CDF version $version")
    val out = new ByteArrayOutputStream()
    def i32(v: Int): Unit = out.write(ByteBuffer.allocate(4).putInt(v).array())
    def i64(v: Long): Unit = out.write(ByteBuffer.allocate(8).putLong(v).array())
    // NON_NEG per the grammar: INT for CDF-1/2, INT64 for CDF-5
    def nn(v: Long): Unit = if (version == 5) i64(v) else i32(v.toInt)
    // OFFSET (var begin): INT for CDF-1, INT64 for CDF-2 and CDF-5
    def off(v: Long): Unit = if (version == 1) i32(v.toInt) else i64(v)
    val nnSz = if (version == 5) 8 else 4
    val offSz = if (version == 1) 4 else 8
    def name(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      nn(b.length); out.write(b); out.write(new Array[Byte](pad4(b.length)))
    }
    def headerSize: Long = {
      // sized in UTF-8 BYTES to match what name() actually emits — char
      // count would shift every begin offset on non-ASCII names
      def nameSz(s: String): Long = {
        val b = s.getBytes("UTF-8").length
        nnSz + b + pad4(b)
      }
      def attsSz(atts: Seq[Att]): Long = 2L * nnSz + atts.map { a =>
        val payload = a.nelems.toLong * elem(a.ncType).size
        nameSz(a.name) + 4L + nnSz + payload + pad4L(payload)
      }.sum
      4L + nnSz + // magic + numrecs
        2L * nnSz + dims.map(d => nameSz(d.name) + nnSz).sum + // dim_list
        attsSz(gatts) +
        2L * nnSz + vars.map(v => nameSz(v.name) + nnSz +
          nnSz.toLong * v.dimIds.length + attsSz(v.atts) +
          4 + nnSz + offSz).sum // nc_type, vsize, begin
    }
    val recDimId = dims.indexWhere(_.size == 0)
    require(dims.count(_.size == 0) <= 1, "at most one UNLIMITED dimension")
    // classic spec: the record dim may only appear as a variable's FIRST
    // dim — a non-leading reference would silently shape a 0-size slab
    vars.foreach(v => require(
      recDimId < 0 || !v.dimIds.tail.contains(recDimId),
      s"${v.name}: the UNLIMITED dim must be the leading dimension"))
    def isRec(v: Var): Boolean = recDimId >= 0 && v.dimIds.headOption.contains(recDimId)
    val (recVars, fixVars) = vars.partition(isRec)
    // record slab: product of the NON-record dims; numrecs inferred from
    // the record variables' data lengths (must agree AND divide exactly —
    // floor division would silently truncate a partial record)
    def slabElems(v: Var): Int = v.dimIds.tail.map(dims(_).size).product
    val numrecs: Long =
      if (recVars.isEmpty) 0L
      else {
        recVars.foreach(v => require(v.data.length % slabElems(v) == 0,
          s"${v.name}: data length ${v.data.length} is not a whole number " +
            s"of ${slabElems(v)}-element records"))
        val ns = recVars.map(v => v.data.length.toLong / slabElems(v)).distinct
        require(ns.length == 1, s"record vars disagree on numrecs: $ns")
        ns.head
      }
    def vsize(v: Var): Int =
      if (isRec(v)) {
        val n = slabElems(v) * elem(v.ncType).size
        n + pad4(n)
      } else {
        val n = v.dimIds.map(dims(_).size).product * elem(v.ncType).size
        n + pad4(n)
      }
    // per-record stride: single record var is UNPADDED (classic spec note)
    val recSize: Long =
      if (recVars.length == 1)
        slabElems(recVars.head).toLong * elem(recVars.head.ncType).size
      else recVars.map(vsize(_).toLong).sum
    // `n` values from `from` as `t`, zero-padded to `bytes`
    def put(t: Int, data: Array[Double], from: Int, n: Int,
            bytes: Int): Unit = {
      val b = new Array[Byte](bytes)
      elem(t).encode(data, from, n, b, 0)
      out.write(b)
    }
    def attList(atts: Seq[Att]): Unit =
      if (atts.isEmpty) { nn(0L); nn(0L) }
      else {
        nn(NC_ATTRIBUTE); nn(atts.length)
        atts.foreach { a =>
          name(a.name); i32(a.ncType); nn(a.nelems)
          if (a.ncType == NC_CHAR) {
            val b = a.text.getBytes("UTF-8")
            out.write(b); out.write(new Array[Byte](pad4(b.length)))
          } else {
            val sz = a.nelems * elem(a.ncType).size
            put(a.ncType, a.nums, 0, a.nelems, sz + pad4(sz))
          }
        }
      }
    out.write(Array[Byte]('C', 'D', 'F', version.toByte))
    nn(numrecs)
    nn(NC_DIMENSION); nn(dims.length)
    dims.foreach { d => name(d.name); nn(d.size) }
    attList(gatts)
    nn(NC_VARIABLE); nn(vars.length)
    // layout: all fixed vars first, then the record section (vars keep
    // their declared order inside each section)
    val begins = scala.collection.mutable.Map.empty[String, Long]
    var begin = headerSize
    fixVars.foreach { v => begins(v.name) = begin; begin += vsize(v) }
    recVars.foreach { v => begins(v.name) = begin; begin += vsize(v) }
    vars.foreach { v =>
      name(v.name); nn(v.dimIds.length); v.dimIds.foreach(id => nn(id))
      attList(v.atts)
      i32(v.ncType); nn(vsize(v)); off(begins(v.name))
    }
    fixVars.foreach(v => put(v.ncType, v.data, 0, v.data.length, vsize(v)))
    // record section: records interleave all record vars' slabs
    (0L until numrecs).foreach { r =>
      recVars.foreach { v =>
        val se = slabElems(v)
        val slabBytes =
          if (recVars.length == 1) se * elem(v.ncType).size
          else vsize(v)
        put(v.ncType, v.data, r.toInt * se, se, slabBytes)
      }
    }
    Files.write(Paths.get(path), out.toByteArray)
  }

  // ------------------------------------------------------------------
  // reader
  // ------------------------------------------------------------------

  def parseHeader(bytes: Array[Byte]): Header = {
    val buf = ByteBuffer.wrap(bytes)
    require(buf.get() == 'C' && buf.get() == 'D' && buf.get() == 'F',
      "not a netCDF classic file")
    val version = buf.get()
    require(version == 1 || version == 2 || version == 5,
      s"unsupported CDF version $version (netCDF-4/HDF5 files go through graft.io.HDF5)")
    // NON_NEG: INT for CDF-1/2, INT64 for CDF-5 (grammar rule)
    def nonNeg(): Long = if (version == 5) buf.getLong() else buf.getInt().toLong
    // OFFSET: INT for CDF-1, INT64 for CDF-2/5
    def offset(): Long =
      if (version == 1) buf.getInt().toLong else buf.getLong()
    val numrecs = nonNeg()
    // length fields bound by the remaining buffer BEFORE allocating —
    // a corrupted header must raise, never attempt a huge allocation
    def bounded(len: Long, what: String): Int = {
      require(len >= 0 && len <= buf.remaining,
        s"$what of $len bytes exceeds the ${buf.remaining} remaining")
      len.toInt
    }
    def name(): String = {
      val len = bounded(nonNeg(), "name")
      val b = new Array[Byte](len); buf.get(b)
      buf.position(buf.position() + pad4(len))
      new String(b, "UTF-8")
    }
    def readAtts(): Seq[Att] = {
      val tag = nonNeg().toInt; val n = nonNeg().toInt
      require(tag == NC_ATTRIBUTE || (tag == 0 && n == 0), "bad att_list")
      (0 until n).map { _ =>
        val an = name()
        val t = buf.getInt()
        val rawN = nonNeg()
        if (t == NC_CHAR) {
          val nelems = bounded(rawN, "attribute text")
          val b = new Array[Byte](nelems); buf.get(b)
          buf.position(buf.position() + pad4(nelems))
          Att(an, t, text = new String(b, "UTF-8"))
        } else {
          val e = elem(t)
          val sz = bounded(rawN * e.size, "attribute values")
          val nums = new Array[Double](sz / e.size)
          e.decode(bytes, buf.position(), nums.length, e.size, nums, 0, exact = false)
          buf.position(buf.position() + sz + pad4(sz))
          Att(an, t, nums = nums)
        }
      }
    }
    val dimTag = nonNeg().toInt; val ndims = nonNeg().toInt
    require(dimTag == NC_DIMENSION || (dimTag == 0 && ndims == 0), "bad dim_list")
    val dims = (0 until ndims).map(_ => Dim(name(), nonNeg().toInt))
    val gatts = readAtts() // global attributes
    val varTag = nonNeg().toInt; val nvars = nonNeg().toInt
    require(varTag == NC_VARIABLE || (varTag == 0 && nvars == 0), "bad var_list")
    val vars = (0 until nvars).map { _ =>
      val vn = name()
      val nd = nonNeg().toInt
      val dimIds = (0 until nd).map(_ => nonNeg().toInt)
      val atts = readAtts()
      val t = buf.getInt(); val vsize = nonNeg(); val begin = offset()
      VarMeta(vn, dimIds, t, begin, vsize, atts)
    }
    Header(version, numrecs, dims, vars, gatts)
  }

  /** Decode one variable's values as doubles, C (row-major) order along
    * its dims. Record variables stride the interleaved record section:
    * record r's slab sits at `begin + r * recSize`. */
  def readVar(bytes: Array[Byte], hdr: Header, varName: String): Array[Double] = {
    val v = hdr.vars.find(_.name == varName)
      .getOrElse(throw new NoSuchElementException(varName))
    val e = elem(v.ncType)
    if (hdr.isRecord(v)) {
      val slab = v.dimIds.tail.map(hdr.dims(_).size).product
      val out = new Array[Double](hdr.numrecs.toInt * slab)
      require(hdr.numrecs == 0 || v.begin + (hdr.numrecs - 1) * hdr.recSize +
        slab.toLong * e.size <= bytes.length, "record slab beyond file end")
      records(bytes, v, v.begin.toInt, hdr.recSize.toInt, slab, out)
      out
    } else {
      val n = v.dimIds.map(hdr.dims(_).size).product
      require(v.begin <= Int.MaxValue - n.toLong * e.size,
        "in-memory decode is bounded by a 2 GiB byte array; " +
          "larger CDF-2/5 files need the file-channel path")
      require(v.begin + n.toLong * e.size <= bytes.length, "variable data beyond file end")
      e.decode(bytes, v.begin.toInt, n, e.size)
    }
  }

  /** `out.length / n` records of `n` values of `c`, record r's at byte
    * `at + r * rec` of `bytes` (one strided decode when `n` is 1). */
  private def records(bytes: Array[Byte], c: VarMeta, at: Int, rec: Int,
                      n: Int, out: Array[Double]): Unit = {
    val e = elem(c.ncType)
    if (n == 1) e.decode(bytes, at, out.length, rec, out, 0)
    else (0 until out.length / math.max(n, 1)).foreach(r =>
      e.decode(bytes, r * rec + at, n, e.size, out, r * n))
  }

  /** NC_CHAR variable decoded to fixed-width STRINGS: the last dimension
    * is the string length and collapses away (ref `coding/strings.py`
    * `char_to_bytes` / CharacterArrayCoder — how xarray surfaces classic
    * netCDF station-name matrices); trailing NUL and space padding is
    * stripped per the netCDF convention. */
  def readCharVar(bytes: Array[Byte], hdr: Header,
                  varName: String): Array[String] = {
    val v = hdr.vars.find(_.name == varName)
      .getOrElse(throw new NoSuchElementException(varName))
    require(v.ncType == NC_CHAR, s"$varName is not NC_CHAR")
    require(v.dimIds.nonEmpty, s"$varName is a char scalar (no string dim)")
    require(!(hdr.isRecord(v) && v.dimIds.length == 1),
      s"$varName: the record dimension cannot be the string-length dim")
    val strlen = hdr.dims(v.dimIds.last).size
    require(strlen > 0, s"$varName has a zero-length string dimension")
    // NC_CHAR decodes as signed bytes: each double is its byte exactly
    val raw = readVar(bytes, hdr, varName).map(_.toByte)
    raw.grouped(strlen).map { g =>
      var e = g.length
      while (e > 0 && (g(e - 1) == 0 || g(e - 1) == ' '.toByte)) e -= 1
      new String(g, 0, e, "UTF-8")
    }.toArray
  }

  /** Writer-side inverse (ref `coding/strings.py` `bytes_to_char` /
    * EncodedStringCoder): strings NUL-padded to `strlen`, emitted as the
    * byte-valued doubles [[write]]'s NC_CHAR variables carry. */
  def charData(strings: Seq[String], strlen: Int): Array[Double] = {
    strings.flatMap { s =>
      val b = s.getBytes("UTF-8")
      require(b.length <= strlen,
        s"string '$s' (${b.length} bytes) exceeds strlen=$strlen")
      b.map(_.toDouble) ++ Array.fill(strlen - b.length)(0.0)
    }.toArray
  }

  private def isIntegral(t: Int): Boolean = t != NC_CHAR && elem(t).integral

  /** Parse just the header by reading a GROWING PREFIX of the file —
    * classic netCDF puts the whole header first, so a multi-gigabyte
    * archive file costs kilobytes of driver IO. A truncated prefix
    * surfaces as buffer underflow; retry bigger until the header fits. */
  def parseHeaderFile(path: String): Header = {
    val fileLen = new java.io.File(path).length()
    // headers are KBs; cap the prefix so >2 GiB files cannot truncate
    // the Int conversion into an ever-retrying loop
    val maxTake = math.min(fileLen, (Int.MaxValue - 8).toLong)
    var sz = 64L * 1024
    while (true) {
      val take = math.min(sz, maxTake).toInt
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(path), java.nio.file.StandardOpenOption.READ)
      val prefix = try {
        // a prefix may legitimately end at EOF mid-read: fill what exists
        val b = ByteBuffer.allocate(take)
        var o = 0
        var n = 0
        while (o < take && { n = ch.read(b, o.toLong); n > 0 }) o += n
        b.array()
      } finally ch.close()
      try return parseHeader(prefix)
      catch {
        // a truncated prefix surfaces as underflow OR as the bounded-
        // allocation guard tripping on a length past the prefix end; at
        // take == fileLen the same exceptions mean real corruption and
        // propagate
        case _: java.nio.BufferUnderflowException if take < maxTake =>
          sz *= 8
        case _: IndexOutOfBoundsException if take < maxTake =>
          sz *= 8
        case _: IllegalArgumentException if take < maxTake =>
          sz *= 8
      }
    }
    sys.error("unreachable")
  }

  private def pread(ch: java.nio.channels.FileChannel, pos: Long,
                    len: Int): ByteBuffer =
    H5Src.preadFully(ch, pos, len, "netCDF data section")

  /** One distributed read unit: `count` leading-dim slices (records for
    * a record variable, rows otherwise) starting at `first`, covered by
    * ONE contiguous pread of [`spanPos`, `spanPos` + `spanLen`). */
  private case class NcTask(path: String, first: Long, count: Int,
                            spanPos: Long, spanLen: Long)

  /** most decoded bytes of the target variable per read task */
  private val BandBytes = 32L << 20

  /** Open a directory of .nc files as ONE long-format DataFrame for a
    * data variable: one row per element, one column per dimension (the
    * 1-D coordinate variable's values when present, else the 0-based
    * index) plus the value column — `open_dataset(engine=
    * "netcdf-converted")`. Schema from one driver-side header parse;
    * decoding runs in the executors, one task per band
    * ([[LongGrid.bandRows]]: at most `bandBytesReq` bytes, at least
    * `min(rows, defaultParallelism)` bands per file). Each task is bounded
    * by its file's fixed coordinates; a record coordinate is read by the
    * task itself, so a filter on the record dim drops no task. */
  def toLongDF(spark: SparkSession, dir: String, varName: String,
               bandBytesReq: Long = BandBytes): DataFrame = {
    val bandBytes = math.min(math.max(1L, bandBytesReq), 1L << 30)
    val files = LongGrid.listFiles(dir, ".nc")
    // Driver pass: header-prefix parse + SMALL fixed-coordinate reads
    // only; the variable payload is banded into tasks that each pread
    // exactly one contiguous span. Record variables take their record
    // coordinate from the span itself (it is interleaved there), so no
    // driver pass ever walks the record section.
    def coordOf(h: Header, d: Dim): Option[VarMeta] = h.vars.find(w =>
      w.name == d.name &&
        w.dimIds == Seq(h.dims.indexWhere(_.name == d.name)))
    case class FilePlan(path: String, h: Header, v: VarMeta,
                        fixedLabels: Array[Option[LongGrid.Labels]],
                        tasks: Seq[LongGrid.Task[NcTask]])
    val cores = spark.sparkContext.defaultParallelism
    val plans = files.map { file =>
      val path = file.getAbsolutePath
      val h = parseHeaderFile(path)
      val v = h.vars.find(_.name == varName)
        .getOrElse(throw new NoSuchElementException(varName))
      val ds = v.dimIds.map(h.dims(_))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(path), java.nio.file.StandardOpenOption.READ)
      val (fixedLabels, tasks) = try {
        // 1-D fixed coordinates: contiguous, small — pread driver-side.
        // The record coordinate (if any) is dim 0 of a record var and is
        // read per task from the span; None here.
        val fixedLabels = ds.zipWithIndex.map { case (d, k) =>
          coordOf(h, d).filter(c => !(h.isRecord(v) && k == 0)).map { c =>
            val e = elem(c.ncType)
            LongGrid.Labels(e.decode(
              pread(ch, c.begin, d.size * e.size).array(), 0, d.size, e.size))
          }
        }.toArray
        val tasks = if (h.isRecord(v)) {
          val rec = h.recSize
          require(rec <= Int.MaxValue,
            s"$varName: one record spans $rec bytes — a single task " +
              "cannot band it")
          // the span preads whole interleaved records, so the band is
          // bounded by the full record stride, not the target's slab
          val band = LongGrid.bandRows(h.numrecs, rec, bandBytes, cores)
          val recBegin = h.vars.filter(h.isRecord).map(_.begin).min
          val fileLen = ch.size()
          // bytes of THIS variable (and its record coord, if any) that a
          // span must cover within its final record — writers MAY omit
          // the padding after the last variable of the last record, so
          // the final span is clamped to the bytes that exist instead of
          // demanding the full n*recSize.
          val slabBytes = v.dimIds.tail.map(h.dims(_).size.toLong).product *
            elem(v.ncType).size
          val coordEnd = coordOf(h, ds.head)
            .filter(_ => h.isRecord(v))
            .map(c => c.begin - recBegin + elem(c.ncType).size.toLong)
            .getOrElse(0L)
          val lastNeeded = math.max(v.begin - recBegin + slabBytes, coordEnd)
          (0L until h.numrecs by band.toLong).map { r0 =>
            val n = math.min(band.toLong, h.numrecs - r0).toInt
            val pos = recBegin + r0 * rec
            val len = math.min(n.toLong * rec, fileLen - pos)
            require(len >= (n - 1).toLong * rec + lastNeeded,
              s"$varName: file ends ${(n - 1).toLong * rec + lastNeeded - len}" +
                s" bytes before record ${r0 + n - 1}'s data for this " +
                "variable — truncated file (unpadded final-record tails " +
                "are tolerated, missing variable bytes are not)")
            NcTask(path, r0, n, pos, len)
          }
        } else {
          val sizes = v.dimIds.map(h.dims(_).size)
          val rowBytes = sizes.tail.map(_.toLong).product * elem(v.ncType).size
          require(rowBytes <= Int.MaxValue,
            s"$varName: one row spans $rowBytes bytes — a single task " +
              "cannot band it")
          val band = LongGrid.bandRows(sizes.head, rowBytes, bandBytes, cores)
          (0 until sizes.head by band).map { r0 =>
            val rows = math.min(band, sizes.head - r0)
            NcTask(path, r0.toLong, rows,
              v.begin + r0 * rowBytes, rows * rowBytes)
          }
        }
        (fixedLabels, tasks)
      } finally ch.close()
      val shape = v.dimIds.map(h.dimSize(_).toLong).toArray
      // the driver never reads a record coordinate: that dim is unbounded
      val recCoord = h.isRecord(v) && coordOf(h, ds.head).isDefined
      FilePlan(path, h, v, fixedLabels, tasks.map { t =>
        val origin = t.first +: shape.tail.map(_ => 0L)
        val box = t.count +: shape.tail.map(_.toInt)
        val b = LongGrid.bounds(shape, origin, box, fixedLabels)
        if (recCoord) b(0) = None
        LongGrid.Task(t, b)
      })
    }
    val p0 = plans.head
    val schema = LongGrid.schema(
      p0.v.dimIds.map(p0.h.dims(_)).map(d =>
        d.name -> coordOf(p0.h, d).map(c => isIntegral(c.ncType))),
      varName, isIntegral(p0.v.ncType))
    val metaB = spark.sparkContext.broadcast(plans.map(p =>
      p.path -> (p.h, p.v, p.fixedLabels)).toMap)
    LongGrid.read(spark, schema, plans.flatMap(_.tasks)) { t =>
      val (h, v, fixedLabels) = metaB.value(t.path)
      val isRec = h.isRecord(v)
      val span = {
        val ch = java.nio.channels.FileChannel.open(
          Paths.get(t.path), java.nio.file.StandardOpenOption.READ)
        try pread(ch, t.spanPos, t.spanLen.toInt).array() finally ch.close()
      }
      val tail = v.dimIds.tail.map(h.dims(_).size)
      val slab = tail.product
      // values of this band, leading-dim-major
      val data = new Array[Double](t.count * slab)
      val recBegin = if (isRec) h.vars.filter(h.isRecord).map(_.begin).min
                     else 0L
      // the band's cells of a record variable, or of its record coordinate
      def bandRecords(c: VarMeta, n: Int, out: Array[Double]): Unit =
        records(span, c, (c.begin - recBegin).toInt, h.recSize.toInt, n, out)
      if (isRec) bandRecords(v, slab, data)
      else { val e = elem(v.ncType); e.decode(span, 0, data.length, e.size, data, 0) }
      // the record coordinate labels only this band's records
      val labels =
        if (!isRec) fixedLabels
        else coordOf(h, h.dims(v.dimIds.head)).map { c =>
          val recCoord = new Array[Double](t.count)
          bandRecords(c, 1, recCoord)
          LongGrid.Labels(recCoord, t.first)
        } +: fixedLabels.tail
      LongGrid.Block(v.dimIds.map(h.dimSize(_).toLong).toArray,
        (t.first +: tail.map(_ => 0L)).toArray,
        (t.count +: tail).toArray, data, labels)
    }
  }

  private def firstHeader(dir: String): Header =
    parseHeaderFile(LongGrid.listFiles(dir, ".nc").head.getAbsolutePath)

  /** `open_dataset` over a .nc directory: EVERY data variable joined by
    * [[LongGrid.openDataset]]. Coordinate variables become the dim
    * columns. */
  def openDataset(spark: SparkSession, dir: String): DataFrame = {
    val hdr = firstHeader(dir)
    def isCoord(v: VarMeta): Boolean =
      v.dimIds.length == 1 && hdr.dims(v.dimIds.head).name == v.name
    LongGrid.openDataset(hdr.vars.filterNot(isCoord)
      .map(v => v.name -> v.dimIds.map(hdr.dims(_).name)), dir)(
      toLongDF(spark, dir, _))
  }

  /** `open_dataset(decode_cf=True)` over a directory of .nc files: the
    * long-format read plus the attr-driven CF coders — _FillValue /
    * missing_value masking and scale_factor/add_offset unpacking come
    * straight from the header's variable attributes (the packed-integer
    * convention real .nc archives use). */
  def openDecoded(spark: SparkSession, dir: String,
                  varName: String): graft.model.XDataset = {
    val hdr = firstHeader(dir)
    val v = hdr.vars.find(_.name == varName)
      .getOrElse(throw new NoSuchElementException(varName))
    val dims = v.dimIds.map(hdr.dims(_).name)
    val varAttrs = hdr.vars
      .map(w => w.name -> w.atts.map(a => a.name -> a.asString).toMap)
      .filter(_._2.nonEmpty).toMap
    val meta = graft.model.DatasetMeta(dims, varAttrs = varAttrs,
      attrs = hdr.gatts.map(a => a.name -> a.asString).toMap)
    CFDecode.decodeDataset(
      new graft.model.XDataset(toLongDF(spark, dir, varName), meta))
  }

  /** `Dataset.to_netcdf` (ref `backends/api.py` to_netcdf dispatch):
    * write a long-format dataset to one classic .nc file — dimension
    * coordinate variables from the sorted distinct labels, every data
    * variable as NC_DOUBLE over the dense grid (absent cells -> NaN), CF
    * attrs from `meta.varAttrs`. DRIVER-SIDE dense materialization by
    * design: a classic .nc file is a single bounded binary, so this is
    * the fixture/export path (mirror of [[toLongDF]]'s read); bulk data
    * goes to parquet/zarr. `maxCells` guards against accidentally
    * collecting a cluster-scale table. */
  def writeDataset(ds: graft.model.XDataset, path: String,
                   version: Int = 1, maxCells: Long = 10000000L): Unit = {
    import org.apache.spark.sql.functions.col
    val dims = ds.meta.dims
    val dataVarNames = ds.dataVars
    // ONE collect feeds both the dim labels and every data array — an
    // uncached upstream plan would otherwise re-execute per dim + per var
    val rows = ds.df.select((dims.map(d => col(d).cast("double")) ++
      dataVarNames.map(v => col(v).cast("double"))): _*).collect()
    require(rows.nonEmpty, "to_netcdf of an empty dataset (a size-0 dim " +
      "would read as the UNLIMITED record dimension)")
    require(rows.length <= maxCells,
      s"dense export of ${rows.length} rows exceeds maxCells=$maxCells " +
        "(to_netcdf is the bounded-file path; use parquet/zarr for bulk)")
    val dimVals: Seq[Array[Double]] = dims.indices.map { k =>
      rows.map(_.getDouble(k)).distinct.sorted.toArray
    }
    val shape = dimVals.map(_.length)
    val cells = shape.map(_.toLong).product
    require(cells <= math.min(maxCells, Int.MaxValue.toLong),
      s"dense export of $cells grid cells exceeds " +
        s"${math.min(maxCells, Int.MaxValue.toLong)}")
    val dimDefs = dims.zip(shape).map { case (d, n) => Dim(d, n) }
    val idx: Seq[Map[Double, Int]] = dimVals.map(_.zipWithIndex.toMap)
    val strides = shape.scanRight(1)(_ * _).tail
    val dimIntegral = dims.map(d =>
      ds.df.schema(d).dataType.typeName match {
        case "long" | "integer" | "short" => true
        case _ => false
      })
    // NC_INT64 is a CDF-5 type: classic containers carry integral coords
    // as NC_DOUBLE (exact to 2^53) so external readers accept the file
    val intCoordType = if (version == 5) NC_INT64 else NC_DOUBLE
    val coordVars = dims.zipWithIndex.map { case (d, k) =>
      Var(d, Seq(k), if (dimIntegral(k)) intCoordType else NC_DOUBLE,
        dimVals(k))
    }
    // strict decimal-literal check: String.toDouble would also accept
    // "NaN"/"Infinity"/"1d"/hex floats and silently re-type string attrs
    val numericPat = "^-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?$".r
    val dataVars = dataVarNames.zipWithIndex.map { case (v, j) =>
      val arr = Array.fill(cells.toInt)(Double.NaN)
      rows.foreach { r =>
        val flat = dims.indices.map(k =>
          idx(k)(r.getDouble(k)) * strides(k)).sum
        val c = dims.length + j
        arr(flat) = if (r.isNullAt(c)) Double.NaN else r.getDouble(c)
      }
      val atts = ds.meta.varAttrs.getOrElse(v, Map.empty).toSeq.sortBy(_._1)
        .map { case (k, value) =>
          // numeric attrs encode as doubles so the CF coders see them
          if (numericPat.matches(value) && k != "units" && k != "calendar")
            Att.dbl(k, value.toDouble)
          else Att.str(k, value)
        }
      Var(v, dims.indices, NC_DOUBLE, arr, atts)
    }
    val gatts = ds.meta.attrs.toSeq.sortBy(_._1)
      .map { case (k, v) => Att.str(k, v) }
    write(path, dimDefs, coordVars ++ dataVars, version, gatts)
  }

  /** The converter tool: every .nc under `inDir` decoded distributedly
    * and written as one parquet store for `varName`. */
  def convert(spark: SparkSession, inDir: String, varName: String,
              outDir: String, chunkCols: Seq[String] = Nil): Unit =
    Store.write(toLongDF(spark, inDir, varName), outDir, chunkCols)
}
