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
  * Codecs: `null` (raw), `zlib` (`numcodecs.Zlib`, plain DEFLATE via
  * `java.util.zip`), `zstd` (`numcodecs.Zstd` in v2 and the v3 `zstd`
  * codec — zarr-python 3's default chain — via the zstd-jni Spark
  * bundles), and `blosc` — zarr-python 2's DEFAULT — decoded pure-JVM by
  * [[Blosc]] for the lz4/lz4hc/zstd/zlib/snappy inner codecs
  * (no-shuffle, byte-shuffle, and bit-shuffle; blosclz is rejected
  * with re-encode guidance). Pass compressor id "blosc:<cname>:<shuffle>"
  * to write blosc-framed chunks. The v3 `transpose` array->array codec
  * reads and writes at the top level of the chain (inside
  * sharding_indexed it is rejected with guidance).
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
                       tperm: Option[Seq[Int]] = None) {
    def integral: Boolean = kind == 'i' || kind == 'u'
    private[io] lazy val elem: Elem = Elem(kind, size, order == '>', "zarr array")
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

  def parseMeta(zarray: String, zattrs: Option[String]): ArrayMeta = {
    val j = JsonMethods.parse(zarray)
    def ints(field: String): Seq[Int] = (j \ field) match {
      case JArray(xs) => xs.map {
        case JInt(i) => i.toInt
        case JLong(l) => l.toInt
        case other => sys.error(s"bad $field entry $other")
      }
      case other => sys.error(s"bad $field $other")
    }
    // typestr: byte order ('<' '>' '|'), kind, byte size — e.g. "<f8"
    val (ord, kind, size) = (j \ "dtype") match {
      case JString(s) if s.length >= 3 && "<>|".contains(s(0)) &&
          s.drop(2).forall(_.isDigit) =>
        val e = Elem(s(1), s.drop(2).toInt, s(0) == '>', s"dtype '$s'")
        (s(0), e.kind, e.size)
      case other => sys.error(s"bad dtype $other")
    }
    val comp = (j \ "compressor") match {
      case JNull | JNothing => None
      case c =>
        val id = (c \ "id") match { case JString(s) => s; case _ => "?" }
        def int(field: String, dflt: Int): Int = (c \ field) match {
          case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => dflt
        }
        id match {
          case "zlib" => Some((id, int("level", 1)))
          case "zstd" => Some((id, int("level", 1))) // numcodecs Zstd
          case "blosc" =>
            // numcodecs Blosc carries cname/clevel/shuffle; pack cname and
            // shuffle into the id ("blosc:<cname>:<shuffle>") so the
            // (String, Int) compressor slot round-trips the write config
            Some((s"blosc:${(c \ "cname") match {
              case JString(s) => s; case _ => "lz4"
            }}:${int("shuffle", 1)}", int("clevel", 5)))
          case other => sys.error(
            s"unsupported compressor '$other' (supported: null, zlib, " +
              "zstd, blosc[lz4/lz4hc/zstd/zlib/snappy])")
        }
    }
    val fill = (j \ "fill_value") match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDecimal(d) => d.toDouble
      case JString("NaN") => Double.NaN
      case _ => Double.NaN // JSON null -> NaN (float) / unused (int)
    }
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
      case JString("F") => Some(ints("chunks").indices.reverse)
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
    ArrayMeta(ints("shape"), ints("chunks"), ord, kind, size, comp, fill,
      sep, dims, attrs, tperm = forder)
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
    * chunk grid, `default` chunk key encoding ("c/"-prefixed, "/"
    * separated), `bytes` codec (endianness) + optional `gzip` codec.
    * `dimension_names` and `attributes` live inline — v3 needs no
    * `.zattrs` sidecar or `_ARRAY_DIMENSIONS` convention. */
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
    def ints(v: JValue): Seq[Int] = v match {
      case JArray(xs) => xs.map {
        case JInt(i) => i.toInt
        case JLong(l) => l.toInt
        case other => sys.error(s"bad int entry $other")
      }
      case other => sys.error(s"bad int array $other")
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
    var order: Char = '<'
    var comp: Option[(String, Int)] = None
    var shard: Option[ShardSpec] = None
    var tperm: Option[Seq[Int]] = None
    // v3 blosc codec config -> the same packed "blosc:<cname>:<shuffle>"
    // id the v2 path uses (shuffle is a string enum in v3)
    def bloscOf(c: JValue): (String, Int) = {
      val cfg = c \ "configuration"
      val cname = (cfg \ "cname") match {
        case JString(s) => s; case _ => "lz4"
      }
      val shuffle = (cfg \ "shuffle") match {
        case JString("noshuffle") => 0
        case JString("bitshuffle") => 2
        case _ => 1
      }
      val clevel = (cfg \ "clevel") match {
        case JInt(l) => l.toInt; case JLong(l) => l.toInt; case _ => 5
      }
      (s"blosc:$cname:$shuffle", clevel)
    }
    // a plain codec chain is bytes [+ gzip|blosc]; parse into (endian, comp)
    def parseChain(v: JValue): (Char, Option[(String, Int)]) = {
      var o: Char = '<'; var cm: Option[(String, Int)] = None
      v match {
        case JArray(cs) => cs.foreach { c =>
          (c \ "name") match {
            case JString("bytes") => (c \ "configuration" \ "endian") match {
              case JString("big") => o = '>'
              case _ => o = '<'
            }
            case JString("gzip") => (c \ "configuration" \ "level") match {
              case JInt(l) => cm = Some(("gzip", l.toInt))
              case _ => cm = Some(("gzip", 1))
            }
            case JString("blosc") => cm = Some(bloscOf(c))
            case JString("zstd") => (c \ "configuration" \ "level") match {
              case JInt(l) => cm = Some(("zstd", l.toInt))
              case _ => cm = Some(("zstd", 0))
            }
            case JString("transpose") =>
              sys.error("transpose inside sharding_indexed is not " +
                "supported — re-encode with the transpose codec at the " +
                "top level (or without it)")
            case JString(other) =>
              sys.error(
                s"unsupported v3 codec '$other' (bytes, gzip, blosc, zstd)")
            case other => sys.error(s"bad codec $other")
          }
        }
        case other => sys.error(s"bad codecs $other")
      }
      (o, cm)
    }
    (j \ "codecs") match {
      case JArray(cs) => cs.foreach { c =>
        (c \ "name") match {
          case JString("sharding_indexed") =>
            val cfg = c \ "configuration"
            val inner = ints(cfg \ "chunk_shape")
            val (io, icm) = parseChain(cfg \ "codecs")
            order = io
            val crc = (cfg \ "index_codecs") match {
              case JArray(ics) => ics.exists(ic =>
                (ic \ "name") == JString("crc32c"))
              case _ => true
            }
            val atEnd = (cfg \ "index_location") match {
              case JString("start") => false
              case _ => true
            }
            shard = Some(ShardSpec(inner, icm, atEnd, crc))
          case JString("bytes") => (c \ "configuration" \ "endian") match {
            case JString("big") => order = '>'
            case _ => order = '<'
          }
          case JString("gzip") => (c \ "configuration" \ "level") match {
            case JInt(l) => comp = Some(("gzip", l.toInt))
            case _ => comp = Some(("gzip", 1))
          }
          case JString("blosc") => comp = Some(bloscOf(c))
          case JString("zstd") => (c \ "configuration" \ "level") match {
            case JInt(l) => comp = Some(("zstd", l.toInt))
            case _ => comp = Some(("zstd", 0))
          }
          case JString("transpose") =>
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
          case JString(other) =>
            sys.error(s"unsupported v3 codec '$other' " +
              "(bytes, gzip, blosc, zstd, transpose, sharding_indexed)")
          case other => sys.error(s"bad codec $other")
        }
      }
      case other => sys.error(s"bad codecs $other")
    }
    val fill = (j \ "fill_value") match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDecimal(d) => d.toDouble
      case JString("NaN") => Double.NaN
      case _ => Double.NaN
    }
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
      attrs, v3 = true, shard = shard, tperm = tperm)
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

  /** zstd frame (numcodecs Zstd in v2; the v3 `zstd` codec — zarr-python
    * 3's default chain) via the zstd-jni Spark already bundles. */
  private def unzstd(b: Array[Byte], expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    val n = com.github.luben.zstd.Zstd.decompressByteArray(
      out, 0, expect, b, 0, b.length)
    require(n == expect, s"zstd chunk decoded $n of $expect bytes")
    out
  }

  // v3's standard byte-stream codec is gzip (RFC 1952 framing), not v2's
  // raw zlib (RFC 1950) — java.util.zip provides both
  private def gunzip(b: Array[Byte], expect: Int): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b))
    val out = new Array[Byte](expect)
    var off = 0
    try {
      while (off < expect) {
        val n = in.read(out, off, expect - off)
        require(n > 0, s"gzip chunk decoded $off of $expect bytes")
        off += n
      }
      require(in.read() < 0, "gzip chunk longer than expected")
    } finally in.close()
    out
  }

  private def gzip(b: Array[Byte], level: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream(b.length / 2 max 64)
    val gz = new java.util.zip.GZIPOutputStream(bos) {
      `def`.setLevel(level)
    }
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** Decode one chunk file's payload to doubles in C order over the full
    * chunk box of the chunk at the array origin. A sharded array's "chunk
    * file" is the whole SHARD; it decodes transparently to the same full
    * outer box, so every reader path is shard-agnostic. */
  def decodeChunk(raw: Array[Byte], m: ArrayMeta): Array[Double] =
    decodeAt(raw, m, m.shape.map(_ => 0L))

  /** [[decodeChunk]] for the chunk at `origin`: only its in-shape cells
    * decode, so edge padding (which yields no row) reads as the fill. */
  private def decodeAt(raw: Array[Byte], m: ArrayMeta,
                       origin: Seq[Long]): Array[Double] = {
    if (m.shard.nonEmpty) return decodeShard(raw, m, m.shard.get, origin)
    val n = m.chunkElems
    val plain = m.compressor match {
      case Some(("zlib", _)) => ByteFilters.inflate(raw, n * m.size, "a chunk")
      case Some(("gzip", _)) => gunzip(raw, n * m.size)
      case Some(("zstd", _)) => unzstd(raw, n * m.size)
      // the blosc frame header self-describes codec/shuffle/split — the
      // packed id only matters for writes
      case Some((id, _)) if id.startsWith("blosc") =>
        Blosc.decompress(raw, n * m.size)
      case None => { require(raw.length >= n * m.size, "short raw chunk"); raw }
      case Some((id, _)) => sys.error(s"unsupported compressor $id")
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
    m.compressor match {
      case Some(("zlib", lvl)) => ByteFilters.deflate(plain, lvl)
      case Some(("gzip", lvl)) => gzip(plain, lvl)
      case Some(("zstd", lvl)) =>
        com.github.luben.zstd.Zstd.compress(plain, lvl)
      case Some((id, lvl)) if id.startsWith("blosc") =>
        val parts = id.split(":") // "blosc:<cname>:<shuffle>"
        Blosc.compress(plain, m.size,
          if (parts.length > 1) parts(1) else "lz4", lvl,
          if (parts.length > 2) parts(2).toInt else 1)
      case _ => plain
    }
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
    ArrayMeta(m.shape, sh.inner, m.order, m.kind, m.size, sh.innerComp,
      m.fillValue, m.separator, m.dims, Map.empty, v3 = true)

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
                          origin: Seq[Long]): Array[Double] = {
    val innerGrid = m.chunks.zip(sh.inner).map { case (c, i) => c / i }
    val gridStride = innerGrid.scanRight(1)(_ * _).tail
    val nInner = innerGrid.product
    val idxLen = nInner * 16 + (if (sh.indexCrc) 4 else 0)
    require(raw.length >= idxLen, "shard shorter than its index")
    val idxOff = if (sh.indexAtEnd) raw.length - idxLen else 0
    if (sh.indexCrc) {
      val want = ByteBuffer.wrap(raw, idxOff + nInner * 16, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      require(crc32c(raw, idxOff, nInner * 16) == want,
        "shard index crc32c mismatch")
    }
    val ib = ByteBuffer.wrap(raw, idxOff, nInner * 16)
      .order(ByteOrder.LITTLE_ENDIAN)
    val im = innerMeta(m, sh)
    val out = Array.fill(m.chunkElems)(m.fillValue)
    val (elemMap, baseOf) = shardMaps(m.chunks, sh.inner, innerGrid)
    var g = 0
    while (g < nInner) {
      val off = ib.getLong; val len = ib.getLong
      if (off != -1L || len != -1L) { // (2^64-1, 2^64-1) = missing chunk
        require(off >= 0 && len >= 0 && off + len <= raw.length,
          s"inner chunk $g range [$off, ${off + len}) outside shard")
        val slice = java.util.Arrays.copyOfRange(raw, off.toInt,
          (off + len).toInt)
        val vals = decodeAt(slice, im, origin.indices.map(k => origin(k) +
          (g / gridStride(k)) % innerGrid(k) * sh.inner(k).toLong))
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
    // absent chunk = all fill_value (zarr contract)
    val out = Array.fill(m.shape.product)(m.fillValue)
    gridIndices(m).foreach { ci =>
      val p = new Path(store, s"$name/${m.chunkKey(ci)}")
      if (fs.exists(p)) {
        val vals = decodeAt(StoreFiles.read(fs, p), m, originOf(m, ci))
        LongGrid.foreachCell(m.shape.map(_.toLong), originOf(m, ci),
          m.chunks) { (i, pos) => out(pos.toInt) = vals(i) }
      }
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
      LongGrid.Task((files.name(p), origin),
        LongGrid.bounds(shape, origin, box, labels))
    }
    val metaB = spark.sparkContext.broadcast(m)
    LongGrid.read(spark, schema, tasks) { case (file, origin) =>
      LongGrid.Block(shape, origin, box,
        decodeAt(files.read(file), metaB.value, origin), labels)
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

  private def metaJson(m: ArrayMeta): String = {
    val comp = m.compressor match {
      case Some((id, lvl)) if id.startsWith("blosc") =>
        val parts = id.split(":")
        JObject("id" -> JString("blosc"),
          "cname" -> JString(if (parts.length > 1) parts(1) else "lz4"),
          "clevel" -> JInt(lvl),
          "shuffle" -> JInt(if (parts.length > 2) parts(2).toInt else 1),
          "blocksize" -> JInt(0))
      case Some((id, lvl)) =>
        JObject("id" -> JString(id), "level" -> JInt(lvl))
      case None => JNull
    }
    val dtypeStr = s"${if (m.size == 1) '|' else m.order}${m.kind}${m.size}"
    JsonMethods.compact(JsonMethods.render(JObject(
      "zarr_format" -> JInt(2),
      "shape" -> JArray(m.shape.map(i => JInt(BigInt(i))).toList),
      "chunks" -> JArray(m.chunks.map(i => JInt(BigInt(i))).toList),
      "dtype" -> JString(dtypeStr),
      "compressor" -> comp,
      "fill_value" -> (if (m.fillValue.isNaN && m.kind == 'f') JNull
                       else if (m.integral) JInt(BigInt(m.fillValue.toLong))
                       else JDouble(m.fillValue)),
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
    def chainJson(order: Char, comp: Option[(String, Int)]): List[JObject] =
      JObject("name" -> JString("bytes"), "configuration" ->
        JObject("endian" -> JString(
          if (order == '>') "big" else "little"))) ::
      comp.toList.map { case (id, lvl) =>
        if (id.startsWith("blosc")) {
          val parts = id.split(":")
          JObject("name" -> JString("blosc"), "configuration" -> JObject(
            "cname" -> JString(if (parts.length > 1) parts(1) else "lz4"),
            "clevel" -> JInt(lvl),
            "shuffle" -> JString(
              if (parts.length > 2 && parts(2) == "0") "noshuffle"
              else "shuffle"),
            "typesize" -> JInt(m.size),
            "blocksize" -> JInt(0)))
        } else if (id == "zstd") {
          // zarr-python 3's default codec chain is bytes + zstd
          JObject("name" -> JString("zstd"), "configuration" -> JObject(
            "level" -> JInt(lvl), "checksum" -> JBool(false)))
        } else {
          require(id == "gzip", s"v3 writer supports gzip/blosc/zstd, got $id")
          JObject("name" -> JString("gzip"), "configuration" ->
            JObject("level" -> JInt(lvl)))
        }
      }
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
          "codecs" -> JArray(chainJson(m.order, sh.innerComp)),
          "index_codecs" -> JArray(
            JObject("name" -> JString("bytes"), "configuration" ->
              JObject("endian" -> JString("little"))) ::
            (if (sh.indexCrc) List(JObject("name" -> JString("crc32c")))
             else Nil)),
          "index_location" -> JString(
            if (sh.indexAtEnd) "end" else "start"))))
      case None => tJson ::: chainJson(m.order, m.compressor)
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
      "fill_value" -> (if (m.fillValue.isNaN && m.kind == 'f') JString("NaN")
                       else if (m.integral) JInt(BigInt(m.fillValue.toLong))
                       else JDouble(m.fillValue)),
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
    val m = ArrayMeta(shape, chunks, '<', kind, size,
      if (shardSpec.isDefined) None else comp, fillValue,
      sep, dims, Map.empty, v3 = isV3, shard = shardSpec, tperm = tperm)
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
      .mapPartitions(rows => chunkPartials(rows, mB.value, labelsB.value, get))
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
          files.write(s"$dir/${mm.chunkKey(gridIndex(mm, c))}",
            encodeChunk(box, mm))
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
                            get: Array[InternalRow => Double]): Iterator[Partial] = {
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
        last._2 += (if (row.isNullAt(rank)) m.fillValue else get(rank)(row))
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
