package graft.io

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Real zarr v2 store reader/writer (ref `backends/zarr.py:655`,
  * `open_zarr` `backends/zarr.py:1222`; format: the public zarr v2 spec,
  * zarr.readthedocs.io "Zarr storage specification version 2").
  *
  * Store model: a directory; `.zgroup` = `{"zarr_format":2}`; each array
  * is a subdirectory with `.zarray` (shape/chunks/dtype/compressor/
  * fill_value/order), optional `.zattrs`, and chunk files named by their
  * grid index joined with `dimension_separator` (default "."). A chunk is
  * the C-order encoding of a FULL chunk box (edge chunks padded with
  * `fill_value`), then compressed. Dimension names follow the xarray
  * convention: `_ARRAY_DIMENSIONS` in `.zattrs`.
  *
  * Codecs: a chunk's bytes go through the codec table ([[Codec]], which
  * lists the compressors and how the library spells them). The v3
  * `transpose` array->array codec reads and writes at the top level of
  * the chain (inside sharding_indexed it is rejected with guidance).
  *
  * 100 TB shape: chunks are independently decodable, so the reader maps
  * chunk files onto Spark tasks (the driver only lists them; executors
  * read and decode the bytes). The writer gathers each input partition's
  * cells into per-chunk partials, shuffles the partials once by chunk id
  * and encodes each chunk entirely inside an executor; memory is bounded
  * by one chunk box, never by the array. Only the tiny JSON metadata and
  * the 1-D coordinate vectors touch the driver (the same contract as the
  * reference, which holds every coordinate index in memory).
  */
object Zarr {

  /** Coordinate labels a write may hold driver-side, across its dims. */
  private[graft] val MaxCoordLabels = 50000000L

  /** Parsed array metadata — v2 `.zarray` + `.zattrs`, or a v3
    * `zarr.json` array node mapped onto the same fields. `dtype` is
    * (byteOrder, kind, size), e.g. ('<','f',8). `v3` switches the chunk
    * key scheme (v2 `"0.0"` flat names vs v3 `"c/0/0"` nested) and the
    * metadata emitter; the chunk PAYLOAD pipeline is shared. */
  /** zarr v3 `sharding_indexed` codec configuration (spec: one storage
    * object — the SHARD — holds a grid of independently-compressed inner
    * chunks plus a binary (offset, nbytes) index). `inner` is the inner
    * chunk shape (must divide the outer chunk/shard shape evenly);
    * `innerComp` the inner chunks' compressor; `indexAtEnd` the
    * index_location; `indexCrc` whether the index carries a crc32c. */
  case class ShardSpec(inner: Seq[Int],
                       innerComp: Option[(String, Int)],
                       indexAtEnd: Boolean = true,
                       indexCrc: Boolean = true)

  case class ArrayMeta(shape: Seq[Int], chunks: Seq[Int],
                       order: Char, kind: Char, size: Int,
                       compressor: Option[(String, Int)],
                       fillValue: Double, separator: String,
                       dims: Seq[String], attrs: Map[String, String],
                       v3: Boolean = false,
                       shard: Option[ShardSpec] = None,
                       tperm: Option[Seq[Int]] = None,
                       private[io] val fillInt: Option[BigInt] = None) {
    def integral: Boolean = kind == 'i' || kind == 'u'
    private[io] lazy val elem: Elem = Elem(kind, size, order == '>', "zarr array")
    private[io] lazy val codec: Option[Codec] = compressor.map(Codec.ofSpelling(_, size))
    /** The fill as a cell's value. An `i8`/`u8` fill (`fillInt`, kept
      * exact from the metadata) is held to the 2^53 rule only here, where
      * it becomes a cell: a fill never used so still opens. */
    private[io] def fillCell(what: => String): Double = fillInt match {
      case Some(i) =>
        try Elem.exact(i.toLong, kind == 'u') catch { case e: ArithmeticException =>
          throw new ArithmeticException(s"$what: fill_value ${e.getMessage}") }
      case None => fillValue
    }
    def chunkGrid: Seq[Int] =
      shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    def chunkElems: Int = chunks.product
    def chunkKey(ci: Seq[Int]): String =
      if (v3) "c" + separator + ci.mkString(separator)
      else ci.mkString(separator)
  }

  // ------------------------------------------------------------------
  // metadata
  // ------------------------------------------------------------------

  private def fsFor(path: String, spark: SparkSession): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ints(v: JValue): Seq[Int] = v match {
    case JArray(xs) => xs.map {
      case JInt(i) => i.toInt
      case other => sys.error(s"bad int entry $other")
    }
    case other => sys.error(s"bad int array $other")
  }

  /** A `fill_value`: its double, and for a 64-bit integer array the exact
    * integer ([[ArrayMeta.fillCell]]). JSON null and "NaN" read as NaN
    * (unused by an integer array). */
  private def fillOf(v: JValue, kind: Char, size: Int): (Double, Option[BigInt]) = v match {
    case JInt(i) => (i.toDouble, Some(i).filter(_ => kind != 'f' && size == 8))
    case JDouble(d) => (d, None)
    case JDecimal(d) => (d.toDouble, None)
    case _ => (Double.NaN, None)
  }

  def parseMeta(zarray: String, zattrs: Option[String]): ArrayMeta = {
    val j = JsonMethods.parse(zarray)
    // typestr: byte order ('<' '>' '|'), kind, byte size — e.g. "<f8"
    val (ord, kind, size) = (j \ "dtype") match {
      case JString(s) if s.length >= 3 && "<>|".contains(s(0)) &&
          s.drop(2).forall(_.isDigit) =>
        val e = Elem(s(1), s.drop(2).toInt, s(0) == '>', s"dtype '$s'")
        (s(0), e.kind, e.size)
      case other => sys.error(s"bad dtype $other")
    }
    val comp = Codec.zarrV2(j \ "compressor", size).map(Codec.spelling)
    val (fill, fillInt) = fillOf(j \ "fill_value", kind, size)
    val sep = (j \ "dimension_separator") match {
      case JString(s) => s
      case _ => "."
    }
    // v2 "order": F(ortran) chunks are the C-order encoding of the
    // REVERSED-dims box — exactly the transpose codec at the reversal
    // permutation, so the same remap path decodes them (read side; the
    // writer always emits C like zarr-python's default)
    val forder: Option[Seq[Int]] = (j \ "order") match {
      case JString("C") | JNothing => None
      case JString("F") => Some(ints(j \ "chunks").indices.reverse)
      case other => sys.error(s"unsupported order $other (C or F)")
    }
    (j \ "filters") match {
      case JNull | JNothing | JArray(Nil) =>
      case other => sys.error(s"unsupported filters $other")
    }
    val (dims, attrs) = zattrs.map { s =>
      val a = JsonMethods.parse(s)
      val d = (a \ "_ARRAY_DIMENSIONS") match {
        case JArray(xs) => xs.collect { case JString(n) => n }
        case _ => Nil
      }
      val rest = a match {
        case JObject(fields) => fields.collect {
          case (k, JString(v)) if k != "_ARRAY_DIMENSIONS" => k -> v
        }.toMap
        case _ => Map.empty[String, String]
      }
      (d, rest)
    }.getOrElse((Nil, Map.empty[String, String]))
    ArrayMeta(ints(j \ "shape"), ints(j \ "chunks"), ord, kind, size, comp, fill,
      sep, dims, attrs, tperm = forder, fillInt = fillInt)
  }

  def openMeta(spark: SparkSession, store: String, name: String): ArrayMeta = {
    val fs = fsFor(store, spark)
    val za = new String(StoreFiles.read(fs, new Path(store, s"$name/.zarray")), "UTF-8")
    val attrsPath = new Path(store, s"$name/.zattrs")
    val zat = if (fs.exists(attrsPath))
      Some(new String(StoreFiles.read(fs, attrsPath), "UTF-8")) else None
    try parseMeta(za, zat) catch { case e: IllegalArgumentException =>
      throw new IllegalArgumentException(s"zarr array '$name': ${e.getMessage}", e) }
  }

  /** v3 data_type names: the kind's word and the width in bits, e.g.
    * "uint16" (the byte order lives in the `bytes` codec, not the dtype). */
  private val V3Type = "(float|int|uint)(\\d{1,2})".r
  private def v3Name(m: ArrayMeta): String =
    Map('f' -> "float", 'i' -> "int", 'u' -> "uint")(m.kind) + m.size * 8

  /** Parse a zarr v3 array node (`zarr.json`, zarr_format 3): regular
    * chunk grid, `default` chunk key encoding ("c/"-prefixed, "/" or "."
    * separated), and a codec chain of an optional `transpose`, `bytes`
    * (endianness) and one byte codec of the table ([[Codec]]) — or one
    * `sharding_indexed` whose inner chunks carry such a chain without
    * transpose. `dimension_names` and `attributes` live inline — v3 needs
    * no `.zattrs` sidecar or `_ARRAY_DIMENSIONS` convention. */
  def parseMetaV3(zarrJson: String): ArrayMeta = {
    val j = JsonMethods.parse(zarrJson)
    (j \ "zarr_format") match {
      case JInt(v) if v == 3 =>
      case other => sys.error(s"not a zarr v3 node (zarr_format $other)")
    }
    (j \ "node_type") match {
      case JString("array") =>
      case other => sys.error(s"not an array node ($other)")
    }
    val shape = ints(j \ "shape")
    (j \ "chunk_grid" \ "name") match {
      case JString("regular") =>
      case other => sys.error(s"unsupported chunk_grid $other")
    }
    val chunks = ints(j \ "chunk_grid" \ "configuration" \ "chunk_shape")
    (j \ "chunk_key_encoding" \ "name") match {
      case JString("default") | JNothing =>
      case other => sys.error(s"unsupported chunk_key_encoding $other")
    }
    // the default encoding's separator is configurable ("/" nested dirs or
    // "." flat "c.0.0" files) — honour it rather than assuming "/"
    val sep = (j \ "chunk_key_encoding" \ "configuration" \ "separator") match {
      case JString(s) => require(s == "/" || s == ".",
        s"unsupported chunk key separator '$s'"); s
      case _ => "/"
    }
    val (kind, size) = (j \ "data_type") match {
      case JString(s @ V3Type(k, bits)) if bits.toInt % 8 == 0 =>
        val e = Elem(k.head, bits.toInt / 8, false, s"zarr array: data_type '$s'")
        (e.kind, e.size)
      case other => sys.error(s"unsupported v3 data_type $other")
    }
    /** One codec chain as (endianness, compressor, sharding, transpose);
      * `inner` is a sharding_indexed's chain, which holds neither. */
    def chain(v: JValue, inner: Boolean)
        : (Char, Option[(String, Int)], Option[ShardSpec], Option[Seq[Int]]) = {
      var order: Char = '<'
      var comp: Option[(String, Int)] = None
      var shard: Option[ShardSpec] = None
      var tperm: Option[Seq[Int]] = None
      val codecs = v match {
        case JArray(cs) => cs
        case other => sys.error(s"bad codecs $other")
      }
      codecs.foreach { c =>
        (c \ "name", Codec.zarrV3(c, size)) match {
          case (_, Some(codec)) => comp = Some(Codec.spelling(codec))
          case (JString("bytes"), _) =>
            order = if ((c \ "configuration" \ "endian") == JString("big")) '>' else '<'
          case (JString(n @ ("transpose" | "sharding_indexed")), _) if inner =>
            sys.error(s"$n inside sharding_indexed is not supported — " +
              "re-encode with it at the top level (or without it)")
          case (JString("sharding_indexed"), _) =>
            val cfg = c \ "configuration"
            val (innerOrder, innerComp, _, _) = chain(cfg \ "codecs", inner = true)
            order = innerOrder
            val crc = (cfg \ "index_codecs") match {
              case JArray(ics) => ics.exists(ic =>
                (ic \ "name") == JString("crc32c"))
              case _ => true
            }
            shard = Some(ShardSpec(ints(cfg \ "chunk_shape"), innerComp,
              (cfg \ "index_location") != JString("start"), crc))
          case (JString("transpose"), _) =>
            // array->array codec (v3 spec §transpose): the encoded chunk
            // has shape chunk_shape[order[i]]; decode inverse-permutes.
            // Stacked transposes compose — reject rather than silently
            // applying only the last one (same policy as bitshuffle).
            require(tperm.isEmpty,
              "multiple transpose codecs in one chain are not supported " +
                "— re-encode with the composed permutation")
            val p = ints(c \ "configuration" \ "order")
            require(p.length == chunks.length &&
              p.sorted == chunks.indices.toList,
              s"transpose order $p is not a permutation of the " +
                s"${chunks.length} chunk dims")
            tperm = Some(p)
          case (JString(other), _) =>
            sys.error(s"unsupported v3 codec '$other' " +
              "(bytes, gzip, blosc, zstd, transpose, sharding_indexed)")
          case (other, _) => sys.error(s"bad codec $other")
        }
      }
      (order, comp, shard, tperm)
    }
    val (order, comp, shard, tperm) = chain(j \ "codecs", inner = false)
    val (fill, fillInt) = fillOf(j \ "fill_value", kind, size)
    val dims = (j \ "dimension_names") match {
      case JArray(xs) => xs.collect { case JString(n) => n }
      case _ => Nil
    }
    val attrs = (j \ "attributes") match {
      case JObject(fields) => fields.collect {
        case (k, JString(v)) => k -> v
      }.toMap
      case _ => Map.empty[String, String]
    }
    shard.foreach { sh =>
      require(sh.inner.length == chunks.length &&
        sh.inner.zip(chunks).forall { case (i, c) => i > 0 && c % i == 0 },
        s"inner chunk shape ${sh.inner} must divide the shard shape $chunks")
    }
    ArrayMeta(shape, chunks, order, kind, size, comp, fill, sep, dims,
      attrs, v3 = true, shard = shard, tperm = tperm, fillInt = fillInt)
  }

  /** Open either format's metadata: a `zarr.json` array node wins (v3),
    * else the v2 `.zarray`/`.zattrs` pair. All readers go through this,
    * so `toLongDF`/`openDataset`/`readArray` are format-transparent. */
  def openMetaAny(spark: SparkSession, store: String, name: String): ArrayMeta = {
    val fs = fsFor(store, spark)
    val v3Path = new Path(store, s"$name/zarr.json")
    if (fs.exists(v3Path))
      parseMetaV3(new String(StoreFiles.read(fs, v3Path), "UTF-8"))
    else openMeta(spark, store, name)
  }

  // ------------------------------------------------------------------
  // chunk codec
  // ------------------------------------------------------------------

  /** Decode one chunk file's payload to doubles in C order over the full
    * chunk box of the chunk at the array origin. A sharded array's "chunk
    * file" is the whole SHARD; it decodes transparently to the same full
    * outer box, so every reader path is shard-agnostic. */
  def decodeChunk(raw: Array[Byte], m: ArrayMeta): Array[Double] =
    decodeAt(raw, m, m.shape.map(_ => 0L), "a zarr chunk")

  /** Names chunk `key` of array `name` in a decode failure. */
  private def chunkOf(name: String, key: String): String =
    s"zarr array '$name' chunk $key"

  /** [[decodeChunk]] for the chunk at `origin`: only its in-shape cells
    * decode, so edge padding (which yields no row) reads as the fill. A
    * failure names `what`. */
  private def decodeAt(raw: Array[Byte], m: ArrayMeta, origin: Seq[Long],
                       what: String): Array[Double] = {
    if (m.shard.nonEmpty) return decodeShard(raw, m, m.shard.get, origin, what)
    val n = m.chunkElems
    val plain = m.codec match {
      case Some(c) => c.decode(raw, n * m.size, what)
      case None =>
        require(raw.length >= n * m.size, s"short raw chunk: $what")
        raw
    }
    // runs in the stored layout, whose axis i is the box's axis p(i)
    val p = m.tperm.getOrElse(m.chunks.indices)
    val vals = Array.fill(n)(m.fillValue)
    LongGrid.foreachRun(p.map(m.shape(_).toLong), p.map(origin), p.map(m.chunks)) {
      (i, _, len) => m.elem.decode(plain, i * m.size, len, m.size, vals, i) }
    if (m.tperm.isEmpty) vals else LongGrid.permute(vals, m.chunks, p, toStored = false)
  }

  private def encodeChunk(vals0: Array[Double], m: ArrayMeta): Array[Byte] = {
    if (m.shard.nonEmpty) return encodeShard(vals0, m, m.shard.get)
    val vals = m.tperm match {
      case Some(p) => LongGrid.permute(vals0, m.chunks, p, toStored = true)
      case None => vals0
    }
    val plain = m.elem.encode(vals)
    m.codec.fold(plain)(_.encode(plain))
  }

  // ------------------------------------------------------------------
  // sharding_indexed codec (zarr v3 spec: one storage object = a grid of
  // independently-compressed inner chunks + a little-endian u64
  // (offset, nbytes) index, missing = (2^64-1, 2^64-1), optional crc32c
  // over the index bytes). The 100 TB lever: object count drops by the
  // inner-grid factor while reads keep inner-chunk granularity through
  // the index.
  // ------------------------------------------------------------------

  private def crc32c(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(b, off, len)
    c.getValue.toInt
  }

  /** Metadata for ONE inner chunk: chunks = inner box, inner compressor,
    * shard=None (so the recursive encode/decode terminates). */
  private def innerMeta(m: ArrayMeta, sh: ShardSpec): ArrayMeta =
    m.copy(chunks = sh.inner, compressor = sh.innerComp, attrs = Map.empty,
      v3 = true, shard = None, tperm = None)

  /** Per-shard coordinate tables, computed ONCE (not per element — the
    * copy loops below run once per shard element and must stay primitive):
    * elemMap(f) = outer-box offset of inner element f relative to the
    * inner chunk's corner; baseOf(g) = outer-box offset of inner chunk
    * g's corner. */
  private def shardMaps(outer: Seq[Int], inner: Seq[Int],
                        innerGrid: Seq[Int]): (Array[Int], Array[Int]) = {
    val rank = outer.length
    val outStrides = outer.scanRight(1)(_ * _).tail.toArray
    val inStrides = inner.scanRight(1)(_ * _).tail.toArray
    val gridStrides = innerGrid.scanRight(1)(_ * _).tail.toArray
    val innerArr = inner.toArray
    val gridArr = innerGrid.toArray
    val nElem = inner.product
    val elemMap = new Array[Int](nElem)
    var f = 0
    while (f < nElem) {
      var pos = 0; var k = 0
      while (k < rank) {
        pos += ((f / inStrides(k)) % innerArr(k)) * outStrides(k); k += 1
      }
      elemMap(f) = pos; f += 1
    }
    val nGrid = innerGrid.product
    val baseOf = new Array[Int](nGrid)
    var g = 0
    while (g < nGrid) {
      var pos = 0; var k = 0
      while (k < rank) {
        pos += ((g / gridStrides(k)) % gridArr(k)) * innerArr(k) *
          outStrides(k)
        k += 1
      }
      baseOf(g) = pos; g += 1
    }
    (elemMap, baseOf)
  }

  private def decodeShard(raw: Array[Byte], m: ArrayMeta, sh: ShardSpec,
                          origin: Seq[Long], what: String): Array[Double] = {
    val innerGrid = m.chunks.zip(sh.inner).map { case (c, i) => c / i }
    val gridStride = innerGrid.scanRight(1)(_ * _).tail
    val nInner = innerGrid.product
    val idxLen = nInner * 16 + (if (sh.indexCrc) 4 else 0)
    require(raw.length >= idxLen, s"shard shorter than its index: $what")
    val idxOff = if (sh.indexAtEnd) raw.length - idxLen else 0
    if (sh.indexCrc) {
      val want = ByteBuffer.wrap(raw, idxOff + nInner * 16, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      require(crc32c(raw, idxOff, nInner * 16) == want,
        s"shard index crc32c mismatch: $what")
    }
    val ib = ByteBuffer.wrap(raw, idxOff, nInner * 16)
      .order(ByteOrder.LITTLE_ENDIAN)
    val im = innerMeta(m, sh)
    val out = Array.fill(m.chunkElems)(m.fillValue)
    val (elemMap, baseOf) = shardMaps(m.chunks, sh.inner, innerGrid)
    var g = 0
    while (g < nInner) {
      val off = ib.getLong; val len = ib.getLong
      val at = origin.indices.map(k => origin(k) +
        (g / gridStride(k)) % innerGrid(k) * sh.inner(k).toLong)
      val inner = s"$what inner chunk $g"
      if (off == -1L && len == -1L) { // (2^64-1, 2^64-1) = missing chunk
        // its in-shape cells read as the fill, which must then be exact
        if (at.indices.forall(k => at(k) < m.shape(k))) m.fillCell(inner)
      } else {
        require(off >= 0 && len >= 0 && off + len <= raw.length,
          s"$inner range [$off, ${off + len}) outside shard")
        val slice = java.util.Arrays.copyOfRange(raw, off.toInt,
          (off + len).toInt)
        val vals = decodeAt(slice, im, at, inner)
        val base = baseOf(g)
        var f = 0
        while (f < vals.length) {
          out(base + elemMap(f)) = vals(f); f += 1
        }
      }
      g += 1
    }
    out
  }

  private def encodeShard(vals: Array[Double], m: ArrayMeta,
                          sh: ShardSpec): Array[Byte] = {
    val innerGrid = m.chunks.zip(sh.inner).map { case (c, i) => c / i }
    val nInner = innerGrid.product
    val im = innerMeta(m, sh)
    val (elemMap, baseOf) = shardMaps(m.chunks, sh.inner, innerGrid)
    val body = new ByteArrayOutputStream()
    val index = ByteBuffer.allocate(nInner * 16).order(ByteOrder.LITTLE_ENDIAN)
    val headerLen =
      if (!sh.indexAtEnd) nInner * 16 + (if (sh.indexCrc) 4 else 0) else 0
    var g = 0
    while (g < nInner) {
      val base = baseOf(g)
      val box = new Array[Double](sh.inner.product)
      var f = 0
      while (f < box.length) {
        box(f) = vals(base + elemMap(f)); f += 1
      }
      val enc = encodeChunk(box, im)
      index.putLong(headerLen + body.size()); index.putLong(enc.length.toLong)
      body.write(enc)
      g += 1
    }
    val idxBytes = index.array()
    val out = new ByteArrayOutputStream()
    def writeIndex(): Unit = {
      out.write(idxBytes)
      if (sh.indexCrc) {
        val c = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        c.putInt(crc32c(idxBytes, 0, idxBytes.length))
        out.write(c.array())
      }
    }
    if (!sh.indexAtEnd) { writeIndex(); out.write(body.toByteArray) }
    else { out.write(body.toByteArray); writeIndex() }
    out.toByteArray
  }

  /** Chunk-grid indices in C order. */
  private def gridIndices(m: ArrayMeta): Seq[Seq[Int]] =
    m.chunkGrid.foldLeft(Seq(Seq.empty[Int])) { (acc, g) =>
      acc.flatMap(p => (0 until g).map(p :+ _))
    }

  private def originOf(m: ArrayMeta, ci: Seq[Int]): Seq[Long] =
    ci.zip(m.chunks).map { case (c, w) => c.toLong * w }

  /** Driver-side whole-array read (coordinate vectors — 1-D, small by the
    * xarray contract; data variables go through [[toLongDF]]). */
  def readArray(spark: SparkSession, store: String, name: String)
      : (ArrayMeta, Array[Double]) = {
    val m = openMetaAny(spark, store, name)
    val fs = fsFor(store, spark)
    val out = new Array[Double](m.shape.product)
    gridIndices(m).foreach { ci =>
      val key = m.chunkKey(ci)
      val p = new Path(store, s"$name/$key")
      // absent chunk = all fill_value (zarr contract)
      val vals =
        if (fs.exists(p)) decodeAt(StoreFiles.read(fs, p), m, originOf(m, ci), chunkOf(name, key))
        else Array.fill(m.chunkElems)(m.fillCell(chunkOf(name, key)))
      LongGrid.foreachCell(m.shape.map(_.toLong), originOf(m, ci),
        m.chunks) { (i, pos) => out(pos.toInt) = vals(i) }
    }
    (m, out)
  }

  // ------------------------------------------------------------------
  // distributed reader
  // ------------------------------------------------------------------

  /** Open one data variable of a zarr store as a long-format DataFrame:
    * one row per element, one column per dimension (the 1-D coordinate
    * array's values when present in the store, else the 0-based index)
    * plus the value column. The driver lists the chunk files and parses
    * their keys, bounding each chunk by its coordinate labels so that a
    * filter on a dim column skips the chunks it cannot match; executors
    * read and decode the chunks. An absent chunk yields no rows. */
  def toLongDF(spark: SparkSession, store: String, varName: String): DataFrame = {
    val m = openMetaAny(spark, store, varName)
    require(m.dims.length == m.shape.length,
      s"$varName lacks dimension names " +
        "(v2 _ARRAY_DIMENSIONS / v3 dimension_names)")

    val fs = fsFor(store, spark)
    // coordinate vectors (optional per dim)
    val coords: Seq[Option[(ArrayMeta, Array[Double])]] = m.dims.map { d =>
      if (fs.exists(new Path(store, s"$d/.zarray")) ||
          fs.exists(new Path(store, s"$d/zarr.json")))
        Some(readArray(spark, store, d)) else None
    }
    val schema = LongGrid.schema(
      m.dims.zip(coords.map(_.map(_._1.integral))), varName, m.integral)

    val rank = m.shape.length
    val chunkFiles =
      if (m.separator == "/") {
        // nested chunk keys — v3's "c/i/j/..." and v2's NestedDirectoryStore
        // "i/j/..." — resolve with one glob of rank wildcards
        val base = if (m.v3) varName + "/c/" else varName + "/"
        val pat = new Path(store, base + Seq.fill(rank)("*").mkString("/"))
        val hits = fs.globStatus(pat)
        if (hits == null) Array.empty[Path]
        else hits.map(_.getPath).filter(p => !p.getName.startsWith("."))
      } else if (m.v3) // "." separator: flat "c.0.0" files in the array dir
        fs.listStatus(new Path(store, varName))
          .map(_.getPath).filter(_.getName.startsWith("c."))
      else
        fs.listStatus(new Path(store, varName))
          .map(_.getPath).filter(p => !p.getName.startsWith(".") &&
            p.getName != "zarr.json")
    val labels = coords.map(_.map(c => LongGrid.Labels(c._2))).toArray
    val shape = m.shape.map(_.toLong).toArray
    val box = m.chunks.toArray
    val files = StoreFiles.access(fs, spark.sparkContext.hadoopConfiguration)
    // (file, chunk origin): the key's grid index is the last `rank` path
    // segments (nested) or the "."-joined name, "c"-prefixed in v3
    val tasks = chunkFiles.toSeq.map { p =>
      val ci =
        if (m.separator == "/")
          Iterator.iterate(p)(_.getParent).take(rank).map(_.getName.toInt)
            .toSeq.reverse
        else p.getName.split(java.util.regex.Pattern.quote(m.separator))
          .drop(if (m.v3) 1 else 0).map(_.toInt).toSeq
      val origin = originOf(m, ci).toArray
      LongGrid.Task((files.name(p), origin, chunkOf(varName, m.chunkKey(ci))),
        LongGrid.bounds(shape, origin, box, labels))
    }
    val metaB = spark.sparkContext.broadcast(m)
    LongGrid.read(spark, schema, tasks) { case (file, origin, what) =>
      LongGrid.Block(shape, origin, box,
        decodeAt(files.read(file), metaB.value, origin, what), labels)
    }
  }

  /** List the store's array names (subdirectories with a `.zarray`). */
  def listArrays(spark: SparkSession, store: String): Seq[String] = {
    val fs = fsFor(store, spark)
    fs.listStatus(new Path(store)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter { n =>
        val v3p = new Path(store, s"$n/zarr.json")
        fs.exists(new Path(store, s"$n/.zarray")) ||
          // a v3 zarr.json may also be a nested GROUP node — only arrays
          (fs.exists(v3p) &&
            (JsonMethods.parse(new String(StoreFiles.read(fs, v3p), "UTF-8"))
              \ "node_type") == JString("array"))
      }
      .sorted
  }

  /** The store's DATA variables (arrays that are not 1-D coord vectors
    * named after their own dim) with parsed metadata — the shared
    * classification for dataset- and tree-level opens. */
  def dataVarsOf(spark: SparkSession, store: String): Seq[(String, ArrayMeta)] = {
    val metas = listArrays(spark, store)
      .map(n => n -> openMetaAny(spark, store, n))
    val coordNames = metas.collect {
      case (n, m) if m.dims == Seq(n) => n
    }.toSet
    metas.filterNot { case (n, _) => coordNames(n) }
  }

  /** `open_zarr` at dataset level (ref `backends/zarr.py:1222`): every
    * data variable of the store (arrays that are not 1-D coordinate
    * vectors named after their own dim) joined on the shared dimension
    * columns into ONE long-format DataFrame by [[LongGrid.openDataset]]:
    * all data vars must share the same `_ARRAY_DIMENSIONS` tuple, and a
    * var's missing chunks surface as NULLs rather than dropping cells. */
  def openDataset(spark: SparkSession, store: String): DataFrame =
    LongGrid.openDataset(dataVarsOf(spark, store).map { case (n, m) =>
      n -> m.dims }, store)(toLongDF(spark, store, _))

  /** `to_zarr(append_dim=...)` (ref `backends/zarr.py:846` region/append
    * dispatch, `dataset.py:2204`): extend one dimension with new labels
    * and write the new rows. The boundary chunk (where the old length is
    * not chunk-aligned) still holds live old cells, so its OLD rows are
    * captured first (lazily, with the pre-extension metadata — Spark's
    * shuffle boundary guarantees every chunk file is fully read before
    * any chunk file is rewritten) and unioned with the appended rows;
    * the chunk-grid region write then replaces exactly the boundary +
    * new chunks. Coord vector and `.zarray` shape are rewritten
    * driver-side. */
  def appendLongDF(df: DataFrame, store: String, varName: String,
                   appendDim: String, newLabels: Array[Double]): Unit = {
    val spark = df.sparkSession
    val m = openMetaAny(spark, store, varName)
    val axis = m.dims.indexOf(appendDim)
    require(axis >= 0, s"$appendDim not in ${m.dims}")
    val oldLen = m.shape(axis)
    val chunk = m.chunks(axis)
    // old coords per dim (appendDim's get extended)
    val coordMetas = m.dims.map(d => openMetaAny(spark, store, d))
    val oldCoords = m.dims.map(d => readArray(spark, store, d)._2)
    val dimValues = oldCoords.zipWithIndex.map { case (c, k) =>
      if (k == axis) c ++ newLabels else c
    }
    // boundary rows: old cells in the chunk the append starts inside,
    // captured with the OLD metadata (shape not yet extended)
    val boundaryStart = (oldLen / chunk) * chunk
    val boundary = if (oldLen % chunk == 0) None else {
      val bLabels: Seq[Any] = oldCoords(axis).slice(boundaryStart, oldLen)
        .toSeq.map(v =>
          if (coordMetas(axis).integral) (v.toLong: Any) else (v: Any))
      Some(toLongDF(spark, store, varName)
        .filter(col(appendDim).isin(bLabels: _*)))
    }
    // extend coord vector + shape (metadata only; chunk files untouched)
    val newAxisLen = oldLen + newLabels.length
    val cm = coordMetas(axis)
    writeArray(spark, store, appendDim,
      cm.copy(shape = Seq(newAxisLen), chunks = Seq(newAxisLen max 1)),
      dimValues(axis))
    // the rewritten coord is a single chunk — drop any stale chunk files
    // from a previous multi-chunk layout (v2: flat "0"; v3: under "c/")
    locally {
      val cfs = fsFor(store, spark)
      val keep0 = cm.copy(shape = Seq(newAxisLen),
        chunks = Seq(newAxisLen max 1)).chunkKey(Seq(0))
      val base = new Path(store, appendDim)
      val chunkDir = if (m.v3 && m.separator == "/") new Path(base, "c") else base
      if (cfs.exists(chunkDir))
        cfs.listStatus(chunkDir).filter(_.isFile).foreach { st =>
          val rel =
            if (chunkDir == base) st.getPath.getName
            else "c/" + st.getPath.getName
          val nm = st.getPath.getName
          if (!nm.startsWith(".") && nm != "zarr.json" && rel != keep0)
            cfs.delete(st.getPath, false)
        }
    }
    val fs = fsFor(store, spark)
    val m2 = m.copy(shape = m.shape.updated(axis, newAxisLen))
    writeArrayMeta(fs, store, varName, m2)
    // region write of boundary + appended rows against the NEW grid
    val rows = boundary.map(b =>
      df.select(b.columns.map(col): _*).unionByName(b)).getOrElse(df)
    writeLongDF(rows, store, varName, m.dims, dimValues, m.chunks,
      kind = m.kind, size = m.size, compressor = m.compressor,
      fillValue = m.fillValue, dimIntegral = cm.integral, region = true,
      zarrFormat = if (m.v3) 3 else 2, separator = Some(m.separator))
  }

  /** Consolidated metadata (`.zmetadata`, zarr v2 convention; the
    * reference writes it by default — `backends/zarr.py` consolidated):
    * every array's `.zarray`/`.zattrs` in one JSON document so a store
    * open is ONE metadata read instead of 2 per array — the point of the
    * convention at object-store scale. */
  def consolidate(spark: SparkSession, store: String): Unit = {
    val fs = fsFor(store, spark)
    require(!fs.exists(new Path(store, "zarr.json")),
      ".zmetadata consolidation is a zarr v2 convention; v3 stores have " +
        "no consolidated-metadata spec")
    val entries = scala.collection.mutable.ListBuffer.empty[(String, JValue)]
    entries += ".zgroup" -> JObject("zarr_format" -> JInt(2))
    listArrays(spark, store)
      .filter(n => fs.exists(new Path(store, s"$n/.zarray")))
      .foreach { n =>
      entries += s"$n/.zarray" -> JsonMethods.parse(new String(
        StoreFiles.read(fs, new Path(store, s"$n/.zarray")), "UTF-8"))
      val ap = new Path(store, s"$n/.zattrs")
      if (fs.exists(ap))
        entries += s"$n/.zattrs" -> JsonMethods.parse(new String(
          StoreFiles.read(fs, ap), "UTF-8"))
    }
    val doc = JObject(
      "zarr_consolidated_format" -> JInt(1),
      "metadata" -> JObject(entries.toList))
    StoreFiles.write(fs, new Path(store, ".zmetadata"),
      JsonMethods.compact(JsonMethods.render(doc)).getBytes("UTF-8"))
  }

  /** The converter job: a zarr data variable -> partitioned parquet store. */
  def convert(spark: SparkSession, store: String, varName: String,
              outDir: String, chunkCols: Seq[String] = Nil): Unit =
    Store.write(toLongDF(spark, store, varName), outDir, chunkCols)

  // ------------------------------------------------------------------
  // writers
  // ------------------------------------------------------------------

  /** `fill_value` as JSON; a NaN float fill is `nan`. */
  private def fillJson(m: ArrayMeta, nan: JValue): JValue =
    if (m.fillValue.isNaN && m.kind == 'f') nan
    else if (m.integral) JInt(m.fillInt.getOrElse(BigInt(m.fillValue.toLong)))
    else JDouble(m.fillValue)

  private def metaJson(m: ArrayMeta): String = {
    val dtypeStr = s"${if (m.size == 1) '|' else m.order}${m.kind}${m.size}"
    JsonMethods.compact(JsonMethods.render(JObject(
      "zarr_format" -> JInt(2),
      "shape" -> JArray(m.shape.map(i => JInt(BigInt(i))).toList),
      "chunks" -> JArray(m.chunks.map(i => JInt(BigInt(i))).toList),
      "dtype" -> JString(dtypeStr),
      "compressor" -> Codec.zarrV2Json(m.codec),
      "fill_value" -> fillJson(m, JNull),
      // a tperm equal to the dim reversal IS v2 F-order; any other
      // permutation has no v2 encoding (transpose is a v3 codec)
      "order" -> JString(m.tperm match {
        case None => "C"
        case Some(p) if p == m.chunks.indices.reverse => "F"
        case Some(p) => sys.error(
          s"v2 cannot encode transpose order $p (only C / F reversal)")
      }),
      "filters" -> JNull,
      "dimension_separator" -> JString(m.separator))))
  }

  private def attrsJson(m: ArrayMeta): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      ("_ARRAY_DIMENSIONS" -> JArray(m.dims.map(JString(_)).toList)) ::
        m.attrs.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) })))

  private def metaJsonV3(m: ArrayMeta): String = {
    def chainJson(order: Char, codec: Option[Codec]): List[JObject] =
      JObject("name" -> JString("bytes"), "configuration" ->
        JObject("endian" -> JString(
          if (order == '>') "big" else "little"))) ::
      codec.toList.map(Codec.zarrV3Json)
    // transpose is array->array: it precedes the bytes codec in the chain
    val tJson = m.tperm.toList.map { p =>
      JObject("name" -> JString("transpose"), "configuration" ->
        JObject("order" -> JArray(p.map(i => JInt(BigInt(i))).toList)))
    }
    val codecs = m.shard match {
      case Some(sh) =>
        require(m.tperm.isEmpty,
          "transpose inside sharding_indexed is not supported")
        List(JObject(
        "name" -> JString("sharding_indexed"),
        "configuration" -> JObject(
          "chunk_shape" -> JArray(sh.inner.map(i => JInt(BigInt(i))).toList),
          "codecs" -> JArray(chainJson(m.order, innerMeta(m, sh).codec)),
          "index_codecs" -> JArray(
            JObject("name" -> JString("bytes"), "configuration" ->
              JObject("endian" -> JString("little"))) ::
            (if (sh.indexCrc) List(JObject("name" -> JString("crc32c")))
             else Nil)),
          "index_location" -> JString(
            if (sh.indexAtEnd) "end" else "start"))))
      case None => tJson ::: chainJson(m.order, m.codec)
    }
    JsonMethods.compact(JsonMethods.render(JObject(
      "zarr_format" -> JInt(3),
      "node_type" -> JString("array"),
      "shape" -> JArray(m.shape.map(i => JInt(BigInt(i))).toList),
      "data_type" -> JString(v3Name(m)),
      "chunk_grid" -> JObject("name" -> JString("regular"),
        "configuration" -> JObject("chunk_shape" ->
          JArray(m.chunks.map(i => JInt(BigInt(i))).toList))),
      "chunk_key_encoding" -> JObject("name" -> JString("default"),
        "configuration" -> JObject("separator" -> JString(m.separator))),
      "fill_value" -> fillJson(m, JString("NaN")),
      "codecs" -> JArray(codecs),
      "dimension_names" -> JArray(m.dims.map(JString(_)).toList),
      "attributes" -> JObject(
        m.attrs.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) }))))
  }

  /** Write an array node's metadata in its format's layout. */
  private def writeArrayMeta(fs: FileSystem, store: String, name: String,
                             m: ArrayMeta): Unit =
    if (m.v3)
      StoreFiles.write(fs, new Path(store, s"$name/zarr.json"),
        metaJsonV3(m).getBytes("UTF-8"))
    else {
      StoreFiles.write(fs, new Path(store, s"$name/.zarray"),
        metaJson(m).getBytes("UTF-8"))
      StoreFiles.write(fs, new Path(store, s"$name/.zattrs"),
        attrsJson(m).getBytes("UTF-8"))
    }

  /** Initialise a store directory (`.zgroup`). */
  def initStore(spark: SparkSession, store: String): Unit = {
    val fs = fsFor(store, spark)
    StoreFiles.mkdirs(fs, new Path(store))
    StoreFiles.write(fs, new Path(store, ".zgroup"),
      """{"zarr_format":2}""".getBytes("UTF-8"))
  }

  /** Initialise a v3 store (root `zarr.json` group node). */
  def initStoreV3(spark: SparkSession, store: String): Unit = {
    val fs = fsFor(store, spark)
    StoreFiles.mkdirs(fs, new Path(store))
    StoreFiles.write(fs, new Path(store, "zarr.json"),
      """{"zarr_format":3,"node_type":"group"}""".getBytes("UTF-8"))
  }

  /** Driver-side array write (coordinate vectors / small fixtures). */
  def writeArray(spark: SparkSession, store: String, name: String,
                 m: ArrayMeta, data: Array[Double]): Unit = {
    require(data.length == m.shape.product, "data length != shape product")
    m.codec // resolved, so a bad compressor is refused before any file
    val fs = fsFor(store, spark)
    StoreFiles.mkdirs(fs, new Path(store, name))
    writeArrayMeta(fs, store, name, m)
    gridIndices(m).foreach { ci =>
      val vals = Array.fill(m.chunkElems)(m.fillValue) // edge padding
      LongGrid.foreachCell(m.shape.map(_.toLong), originOf(m, ci),
        m.chunks) { (i, pos) => vals(i) = data(pos.toInt) }
      StoreFiles.write(fs, new Path(store, s"$name/${m.chunkKey(ci)}"),
        encodeChunk(vals, m))
    }
  }

  /** Distributed `to_zarr` for a long-format DataFrame. Each input
    * partition makes one pass over its rows and emits, per chunk it
    * touches, a partial: its cells' offsets in the chunk box and their
    * values. The partials are shuffled ONCE by chunk id; a reducer
    * scatters one chunk's partials into its box, then encodes and writes
    * it — memory bounded by one chunk box, one output file per chunk, and
    * the bytes do not depend on how `df` is partitioned or ordered. Cells
    * absent from `df` get `fill_value`, as does a NULL value; two rows for
    * one cell raise "duplicate cell". Coordinate vectors (`dimValues`,
    * the sorted per-dim labels) are written driver-side as 1-D arrays.
    *
    * Region semantics (`to_zarr(region=...)` `backends/zarr.py:846`): with
    * `region=true` the store must already exist; metadata and coords are
    * left untouched and ONLY the chunks covered by `df` are replaced. */
  def writeLongDF(df: DataFrame, store: String, varName: String,
                  dims: Seq[String], dimValues: Seq[Array[Double]],
                  chunks: Seq[Int], kind: Char = 'f', size: Int = 8,
                  compressor: Option[(String, Int)] = Some(("zlib", 1)),
                  fillValue: Double = Double.NaN,
                  dimIntegral: Boolean = true,
                  region: Boolean = false,
                  zarrFormat: Int = 2,
                  writeCoords: Boolean = true,
                  separator: Option[String] = None,
                  shardInner: Option[Seq[Int]] = None,
                  transposeOrder: Option[Seq[Int]] = None): Unit = {
    val spark = df.sparkSession
    // Coord vectors are driver-held and broadcast — metadata-scale by
    // contract (mirrors NetCDF.writeDataset's maxCells). A billion-label
    // dim would OOM the driver; fail loudly instead.
    val nLabels = dimValues.map(_.length.toLong).sum
    require(nLabels <= MaxCoordLabels,
      s"$nLabels coordinate labels across ${dims.mkString(",")} exceed " +
        s"the driver-side cap $MaxCoordLabels; dims this large need a " +
        "chunked coord write path")
    val shape = dimValues.map(_.length)
    val isV3 = zarrFormat == 3
    // v2's default byte codec is raw zlib; v3's standard one is gzip
    val comp = compressor.map { case (id, lvl) =>
      if (isV3 && id == "zlib") ("gzip", lvl) else (id, lvl)
    }
    comp.foreach(Codec.ofSpelling(_, size)) // refused before any file
    // A region write goes into an EXISTING store, so its physical layout
    // parameters must come from (or be validated against) the store's own
    // metadata — a mismatch writes blobs the store's readers misparse.
    val existing = if (region) Some(openMetaAny(spark, store, varName))
                   else None
    // chunk-key separator: an explicit caller choice wins; a region write
    // MUST honour the store's declared separator (a "."-separated v3
    // store written with "/" keys would leave readers looking at c.i.j
    // while we wrote c/i/j — silent stale data); otherwise the format
    // default ("/" nested for v3, "." flat for v2).
    val sep = separator
      .orElse(existing.map(_.separator))
      .getOrElse(if (isV3) "/" else ".")
    existing.foreach { e =>
      require(e.chunks == chunks,
        s"region write chunk shape $chunks != the store's ${e.chunks} — " +
          "the store's readers would misplace every cell")
    }
    // sharding (v3 only): `chunks` becomes the SHARD shape on disk; the
    // compressor moves inside the shard onto the inner chunks. A region
    // write into a SHARDED store inherits the store's shard spec even if
    // the caller didn't re-pass shardInner — writing plain chunk blobs at
    // shard keys would corrupt the store (the metadata still declares
    // sharding_indexed).
    val shardSpec = shardInner.map { inner =>
      require(isV3, "sharding requires zarrFormat = 3")
      require(inner.length == chunks.length &&
        inner.zip(chunks).forall { case (i, c) => i > 0 && c % i == 0 },
        s"inner chunk shape $inner must divide the shard shape $chunks")
      existing.foreach { e =>
        // The symmetric hazard to inheritance below: shard-encoding blobs
        // into a store whose metadata declares a plain codec chain would
        // silently corrupt it for readers.
        require(e.shard.isDefined,
          s"region write with inner chunk shape $inner targets a " +
            "NON-sharded store — its readers expect plain chunk blobs")
        e.shard.foreach { es =>
          require(es.inner == inner,
            s"region write inner chunk shape $inner != the store's ${es.inner}")
        }
      }
      ShardSpec(inner, comp)
    }.orElse(existing.flatMap(_.shard))
    // transpose (v3 array->array codec): a region write into a transposed
    // store INHERITS the store's permutation (plain-layout blobs at the
    // same keys would be misread), and an explicit mismatch fails loudly
    val tperm = transposeOrder.map { p =>
      require(isV3, "the transpose codec requires zarrFormat = 3")
      require(p.length == chunks.length &&
        p.sorted == chunks.indices.toList,
        s"transpose order $p is not a permutation of the " +
          s"${chunks.length} chunk dims")
      existing.foreach { e =>
        require(e.tperm.contains(p),
          s"region write transpose order $p != the store's ${e.tperm}")
      }
      p
    }.orElse(existing.flatMap(_.tperm))
    require(tperm.isEmpty || shardSpec.isEmpty,
      "transpose inside sharding_indexed is not supported")
    // a region write keeps the store's exact integer fill
    val m = ArrayMeta(shape, chunks, '<', kind, size,
      if (shardSpec.isDefined) None else comp, fillValue,
      sep, dims, Map.empty, v3 = isV3, shard = shardSpec, tperm = tperm,
      fillInt = existing.filter(_.fillValue == fillValue).flatMap(_.fillInt))
    if (!region) {
      // writeCoords=false: an additional variable of an already-initialised
      // store — skip the store/coord rewrite, still write THIS var's meta
      if (writeCoords) {
        if (isV3) initStoreV3(spark, store) else initStore(spark, store)
        // coordinate vectors: driver-side 1-D arrays (metadata-scale)
        dims.zip(dimValues).foreach { case (d, vs) =>
          val cm = ArrayMeta(Seq(vs.length), Seq(vs.length max 1), '<',
            if (dimIntegral) 'i' else 'f', 8, None, 0.0, m.separator, Seq(d),
            Map.empty, v3 = isV3)
          writeArray(spark, store, d, cm, vs)
        }
      }
      val fs = fsFor(store, spark)
      StoreFiles.mkdirs(fs, new Path(store, varName))
      writeArrayMeta(fs, store, varName, m)
    }
    val mB = spark.sparkContext.broadcast(m)
    val labelsB = spark.sparkContext.broadcast(dimValues.map(new LabelIndex(_)).toArray)
    val files = StoreFiles.access(fsFor(store, spark),
      spark.sparkContext.hadoopConfiguration)
    val dir = files.name(new Path(store, varName))
    val frame = df.select((dims :+ varName).map(col): _*)
    val get = frame.schema.fields.zipWithIndex.map { case (f, k) => doubleAt(f, k) }
    val nGrid = m.chunkGrid.map(_.toLong).product
    val parts = math.min(nGrid,
      spark.conf.get("spark.sql.shuffle.partitions").toLong).toInt max 1
    // partitioned by chunk id, sorted by it: a reducer meets each chunk's
    // partials contiguously, so it holds ONE chunk box at a time
    val byChunk = new org.apache.spark.Partitioner {
      def numPartitions: Int = parts
      def getPartition(key: Any): Int = (key.asInstanceOf[Long] % parts).toInt
    }
    // InternalRows, read in place: no conversion to external Rows
    frame.queryExecution.toRdd
      .mapPartitions(rows => chunkPartials(rows, mB.value, labelsB.value, get, varName))
      .repartitionAndSortWithinPartitions(byChunk)
      .foreachPartition { it =>
        val mm = mB.value
        val in = it.buffered
        while (in.hasNext) {
          val c = in.head._1
          val box = Array.fill(mm.chunkElems)(mm.fillValue)
          val filled = new java.util.BitSet(mm.chunkElems)
          while (in.hasNext && in.head._1 == c) {
            val (offs, vals) = in.next()._2
            var i = 0
            while (i < offs.length) {
              val o = offs(i)
              require(!filled.get(o), s"duplicate cell " +
                s"${cellLabels(mm, labelsB.value, c, o)} in writeLongDF")
              filled.set(o); box(o) = vals(i); i += 1
            }
          }
          val ci = gridIndex(mm, c)
          // an absent in-shape cell takes the fill, which must then be exact
          val inShape = ci.indices.map(k =>
            math.min(mm.chunks(k), mm.shape(k) - ci(k) * mm.chunks(k))).product
          if (filled.cardinality < inShape) mm.fillCell(chunkOf(varName, mm.chunkKey(ci)))
          files.write(s"$dir/${mm.chunkKey(ci)}", encodeChunk(box, mm))
        }
      }
  }

  /** One dim's label -> index lookup, open-addressed on the label's bits
    * over primitive arrays. As with `zipWithIndex.toMap`, a repeated label
    * keeps its last index, -0.0 finds 0.0 and NaN finds nothing. */
  private final class LabelIndex(val labels: Array[Double]) extends Serializable {
    private val mask = {
      var cap = 2
      while (cap < 2 * labels.length) cap <<= 1
      cap - 1
    }
    private val keys = new Array[Long](mask + 1)
    private val slots = new Array[Int](mask + 1) // index + 1; 0 = empty
    // + 0.0 turns -0.0 into 0.0
    private def key(x: Double): Long = java.lang.Double.doubleToLongBits(x + 0.0)
    private def home(k: Long): Int = ((k * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask
    locally {
      var i = 0
      while (i < labels.length) {
        val k = key(labels(i))
        var h = home(k)
        while (slots(h) != 0 && keys(h) != k) h = (h + 1) & mask
        keys(h) = k; slots(h) = i + 1
        i += 1
      }
    }

    /** The index of label `x`, or -1. */
    def apply(x: Double): Int =
      if (x.isNaN) -1
      else {
        val k = key(x)
        var h = home(k)
        while (slots(h) != 0 && keys(h) != k) h = (h + 1) & mask
        slots(h) - 1
      }
  }

  /** Column `k` of a row as a Double, for the column types a label or a
    * value may have. */
  private def doubleAt(f: StructField, k: Int): InternalRow => Double =
    f.dataType match {
      case DoubleType => _.getDouble(k)
      case FloatType => _.getFloat(k).toDouble
      case LongType => _.getLong(k).toDouble
      case IntegerType => _.getInt(k).toDouble
      case t => throw new IllegalArgumentException(
        s"non-numeric column ${f.name}: ${t.simpleString}")
    }

  /** Cells a map task buffers before it emits its partials. */
  private[graft] val PartialCells = 1 << 18

  /** A chunk's partial: (chunk id, (offsets in the chunk box, values)). */
  private type Partial = (Long, (Array[Int], Array[Double]))

  /** The map side of [[writeLongDF]]: one pass over a partition's
    * (labels..., value) rows that appends each cell's offset in its chunk
    * box and its value to that chunk's buffer, and emits one partial per
    * touched chunk whenever [[PartialCells]] cells are buffered and at the
    * partition's end. A NULL value is stored as `fill_value`. */
  private def chunkPartials(rows: Iterator[InternalRow], m: ArrayMeta,
                            labels: Array[LabelIndex],
                            get: Array[InternalRow => Double],
                            name: String): Iterator[Partial] = {
    lazy val nullCell = m.fillCell(s"zarr array '$name': a NULL value")
    val rank = labels.length
    val chunks = m.chunks.toArray
    val boxStride = m.chunks.scanRight(1)(_ * _).tail.toArray
    val gridStride = m.chunkGrid.map(_.toLong).scanRight(1L)(_ * _).tail.toArray
    type Cells = (mutable.ArrayBuilder.ofInt, mutable.ArrayBuilder.ofDouble)
    val bufs = mutable.LongMap.empty[Cells]
    def batch(): Iterator[Partial] = {
      var lastChunk = -1L
      var last: Cells = null
      var n = 0
      while (n < PartialCells && rows.hasNext) {
        val row = rows.next()
        var chunk = 0L
        var off = 0
        var k = 0
        while (k < rank) {
          require(!row.isNullAt(k), s"NULL label in dim ${m.dims(k)}")
          val label = get(k)(row)
          val g = labels(k)(label)
          require(g >= 0, s"label $label not in dim ${m.dims(k)}")
          chunk += g / chunks(k) * gridStride(k)
          off += g % chunks(k) * boxStride(k)
          k += 1
        }
        if (chunk != lastChunk) {
          last = bufs.getOrElseUpdate(chunk,
            (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofDouble))
          lastChunk = chunk
        }
        last._1 += off
        last._2 += (if (row.isNullAt(rank)) nullCell else get(rank)(row))
        n += 1
      }
      val out = bufs.iterator.map { case (c, (o, v)) => (c, (o.result(), v.result())) }
        .toArray
      bufs.clear()
      out.iterator
    }
    Iterator.continually(rows.hasNext).takeWhile(identity).flatMap(_ => batch())
  }

  /** The chunk-grid index of chunk id `c` (C order over the chunk grid). */
  private def gridIndex(m: ArrayMeta, c: Long): Seq[Int] = {
    val grid = m.chunkGrid
    val strides = grid.map(_.toLong).scanRight(1L)(_ * _).tail
    grid.indices.map(k => ((c / strides(k)) % grid(k)).toInt)
  }

  /** "(dim=label, ...)" of the cell at box offset `off` in chunk `c`. */
  private def cellLabels(m: ArrayMeta, labels: Array[LabelIndex], c: Long,
                         off: Int): String = {
    val ci = gridIndex(m, c)
    val boxStride = m.chunks.scanRight(1)(_ * _).tail
    ci.indices.map { k =>
      val g = ci(k) * m.chunks(k) + off / boxStride(k) % m.chunks(k)
      s"${m.dims(k)}=${labels(k).labels(g)}"
    }.mkString("(", ", ", ")")
  }
}
