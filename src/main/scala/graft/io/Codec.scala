package graft.io

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{Deflater, GZIPInputStream, GZIPOutputStream, Inflater}

import scala.util.control.NonFatal

import org.json4s._

/** One byte codec: how a stored byte stream becomes the plain bytes it
  * encodes, and back. Zarr, HDF5 and Blosc decode and encode stored bytes
  * only through these values, and only this module calls a compression
  * library; [[Blosc]], [[Szip]], [[Lzf]] and [[NbitSO]] are algorithms
  * some values call.
  *
  * The codecs, and each format's descriptor for them (the maps below are
  * the only places a descriptor becomes a codec or back):
  * {{{
  * codec         Zarr v2 compressor   Zarr v3 codec   HDF5 filter id   Blosc code
  * zlib          zlib                 -               1                3
  * gzip          gzip                 gzip            -                -
  * zstd          zstd                 zstd            32015            4
  * lz4           -                    -               -                1 (lz4, lz4hc)
  * snappy        -                    -               -                2
  * lzf           -                    -               32000            -
  * szip          -                    -               4                -
  * shuffle       -                    -               2                -
  * fletcher32    -                    -               3                -
  * nbit          -                    -               5                -
  * scale-offset  -                    -               6                -
  * blosc         blosc                blosc           32001            -
  * }}}
  * Blosc code 0 (blosclz) has no JVM decoder and is refused with
  * re-encode guidance. The library spells a Zarr compressor `(id, level)`
  * (`ArrayMeta.compressor`, `writeLongDF`): id `zlib`, `gzip`, `zstd` or
  * `blosc:<cname>:<shuffle>`, shuffle 0 none, 1 byte, 2 bit.
  *
  * The length rule: a compressor's `decode(raw, expect, what, exact)`
  * yields exactly `expect` bytes or raises. Only where an inner
  * scale-offset stage makes `expect` an upper bound is `exact` false, and
  * it may then yield fewer (a stream codec's buffer keeps its unwritten
  * tail zero). A transform (shuffle, fletcher32, nbit, scale-offset)
  * sizes its output from its input and client data. Any failure raises
  * an [[IllegalArgumentException]] naming the codec and `what`. */
private[io] sealed abstract class Codec(val name: String) extends Serializable {

  final def decode(raw: Array[Byte], expect: Int, what: String,
                   exact: Boolean = true): Array[Byte] =
    try unpack(raw, expect, exact, what) catch {
      case NonFatal(e) if !String.valueOf(e.getMessage).contains(what) =>
        throw new IllegalArgumentException(s"$name stream in $what: ${e.getMessage}", e)
    }

  def encode(plain: Array[Byte]): Array[Byte]

  protected def unpack(raw: Array[Byte], expect: Int, exact: Boolean, what: String): Array[Byte]

  /** The stored size of `n` plain bytes, where an outer HDF5 stage needs
    * it to size its own output (HDF5 records only the plain size). */
  def encodedSize(n: Int): Int = n
}

/** A codec whose stored form is one compressed stream, decodable in
  * place: the inner streams of a blosc block. */
private[io] sealed abstract class StreamCodec(name: String) extends Codec(name) {

  /** Decodes `src[off, off + len)` into `dst[at, at + n)`; the bytes written. */
  def decodeInto(src: Array[Byte], off: Int, len: Int, dst: Array[Byte], at: Int, n: Int): Int

  def encode(src: Array[Byte], off: Int, len: Int): Array[Byte]

  final def encode(plain: Array[Byte]): Array[Byte] = encode(plain, 0, plain.length)

  protected def unpack(raw: Array[Byte], expect: Int, exact: Boolean, what: String) = {
    val out = new Array[Byte](expect)
    val got = decodeInto(raw, 0, raw.length, out, 0, expect)
    require(got == expect || !exact, s"decoded $got of $expect bytes")
    out
  }
}

/** A compressor with a level, named as Zarr and the library spell it. */
private[io] sealed trait Leveled extends Codec { def level: Int }

private[io] object Codec {

  /** RFC 1950 zlib; inflate stops at `n` bytes, so a trailing adler32 is
    * never read, and a stream that stalls short of its end raises. */
  final case class Zlib(level: Int) extends StreamCodec("zlib") with Leveled {
    def decodeInto(src: Array[Byte], off: Int, len: Int, dst: Array[Byte], at: Int, n: Int) = {
      val inf = new Inflater()
      try {
        inf.setInput(src, off, len)
        var got = 0
        while (got < n && !inf.finished()) {
          val k = inf.inflate(dst, at + got, n - got)
          require(k > 0, s"truncated: decoded $got of $n bytes")
          got += k
        }
        got
      } finally inf.end()
    }

    def encode(src: Array[Byte], off: Int, len: Int): Array[Byte] = {
      val d = new Deflater(level)
      try {
        d.setInput(src, off, len); d.finish()
        val out = new ByteArrayOutputStream(len / 2 max 64)
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    }
  }

  /** RFC 1952 gzip: Zarr v3's standard byte codec. */
  final case class Gzip(level: Int) extends Codec("gzip") with Leveled {
    protected def unpack(raw: Array[Byte], expect: Int, exact: Boolean, what: String) = {
      val in = new GZIPInputStream(new ByteArrayInputStream(raw))
      try {
        val out = new Array[Byte](expect)
        var got = 0
        var k = 1
        while (got < expect && k > 0) {
          k = in.read(out, got, expect - got)
          if (k > 0) got += k
        }
        require(got == expect || !exact, s"decoded $got of $expect bytes")
        require(in.read() < 0, s"longer than $expect bytes")
        out
      } finally in.close()
    }

    def encode(plain: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream(plain.length / 2 max 64)
      val gz = new GZIPOutputStream(bos) { `def`.setLevel(level) }
      gz.write(plain); gz.close()
      bos.toByteArray
    }
  }

  final case class Zstd(level: Int) extends StreamCodec("zstd") with Leveled {
    def decodeInto(src: Array[Byte], off: Int, len: Int, dst: Array[Byte], at: Int, n: Int) =
      com.github.luben.zstd.Zstd.decompressByteArray(dst, at, n, src, off, len).toInt

    def encode(src: Array[Byte], off: Int, len: Int): Array[Byte] =
      com.github.luben.zstd.Zstd.compress(
        if (off == 0 && len == src.length) src
        else java.util.Arrays.copyOfRange(src, off, off + len), level)
  }

  private lazy val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance()

  /** lz4 block format (lz4hc writes the same format). */
  case object Lz4 extends StreamCodec("lz4") {
    def decodeInto(src: Array[Byte], off: Int, len: Int, dst: Array[Byte], at: Int, n: Int) = {
      val read = lz4.fastDecompressor().decompress(src, off, dst, at, n)
      require(read == len, s"consumed $read of $len bytes")
      n
    }

    def encode(src: Array[Byte], off: Int, len: Int): Array[Byte] = {
      val c = lz4.fastCompressor()
      val out = new Array[Byte](c.maxCompressedLength(len))
      java.util.Arrays.copyOf(out, c.compress(src, off, len, out, 0, out.length))
    }
  }

  /** snappy raw format. */
  case object Snappy extends StreamCodec("snappy") {
    def decodeInto(src: Array[Byte], off: Int, len: Int, dst: Array[Byte], at: Int, n: Int) =
      org.xerial.snappy.Snappy.uncompress(src, off, len, dst, at)

    def encode(src: Array[Byte], off: Int, len: Int): Array[Byte] = {
      val out = new Array[Byte](org.xerial.snappy.Snappy.maxCompressedLength(len))
      java.util.Arrays.copyOf(out, org.xerial.snappy.Snappy.compress(src, off, len, out, 0))
    }
  }

  case object Lzf extends Codec("lzf") {
    protected def unpack(raw: Array[Byte], expect: Int, exact: Boolean, what: String) =
      graft.io.Lzf.decompress(raw, expect, exact)
    def encode(plain: Array[Byte]): Array[Byte] = graft.io.Lzf.compress(plain)
  }

  /** HDF5's szip framing; `cd` = [option mask, bits per pixel, pixels per
    * block, pixels per scanline]. */
  final case class Szip(cd: Seq[Int]) extends Codec("szip") {
    graft.io.Szip.paramsFromCd(cd) // refuses what the coder cannot code
    protected def unpack(raw: Array[Byte], expect: Int, exact: Boolean, what: String) = {
      val out = graft.io.Szip.hdf5Decode(raw, cd, what)
      require(out.length == expect || !exact && out.length <= expect,
        s"decoded ${out.length} of $expect bytes")
      out
    }
    def encode(plain: Array[Byte]): Array[Byte] = graft.io.Szip.hdf5Encode(plain, cd)
  }

  /** Byte transpose of `es`-byte elements (HDF5's shuffle filter). */
  final case class Shuffle(es: Int) extends Codec("shuffle") {
    protected def unpack(raw: Array[Byte], expect: Int, exact: Boolean, what: String) =
      unshuffle(raw, es)
    def encode(plain: Array[Byte]): Array[Byte] = shuffle(plain, es)
  }

  /** HDF5's Fletcher-32 checksum, appended little-endian. */
  case object Fletcher32 extends Codec("fletcher32") {
    private def sum(b: Array[Byte], n: Int) = java.nio.ByteBuffer.wrap(b, n, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)

    protected def unpack(raw: Array[Byte], expect: Int, exact: Boolean, what: String) = {
      require(raw.length >= 4, "shorter than its checksum")
      val n = raw.length - 4
      require(HDF5.fletcherSum(raw, n) == sum(raw, n).getInt, "checksum mismatch")
      java.util.Arrays.copyOf(raw, n)
    }

    def encode(plain: Array[Byte]): Array[Byte] = {
      val out = java.util.Arrays.copyOf(plain, plain.length + 4)
      sum(out, plain.length).putInt(HDF5.fletcherSum(plain, plain.length))
      out
    }

    override def encodedSize(n: Int): Int = n + 4
  }

  /** HDF5's n-bit filter; `cd` is libhdf5's client data. */
  final case class Nbit(cd: Seq[Int]) extends Codec("nbit") {
    require(cd.length >= 4 && (cd(1) != 0 || cd(3) == 1 || cd(3) == 4),
      s"nbit on an array/compound datatype [${cd.mkString(", ")}] — this " +
        "reader decodes atomic nbit only. Re-encode with `h5repack -f GZIP=1` to deflate.")
    protected def unpack(raw: Array[Byte], expect: Int, exact: Boolean, what: String) =
      NbitSO.nbitDecode(raw, cd)
    def encode(plain: Array[Byte]): Array[Byte] = NbitSO.nbitEncode(plain, cd)
    // only an atomic type's packing changes the size
    override def encodedSize(n: Int): Int =
      if (cd.length >= 8 && cd(1) == 0 && cd(3) == 1) NbitSO.nbitPackedSize(cd) else n
  }

  /** HDF5's scale-offset filter; its packed size depends on the chunk's
    * values, so every size outside it is an upper bound. */
  final case class ScaleOffset(cd: Seq[Int]) extends Codec("scale-offset") {
    require(cd.length >= 8 && (cd(0) == 2 || cd(0) == 0),
      s"scale-offset E-scaling [${cd.mkString(", ")}] — unimplemented in the " +
        "HDF5 C library itself; re-encode with INT or FLOAT_DSCALE scaling.")
    protected def unpack(raw: Array[Byte], expect: Int, exact: Boolean, what: String) =
      NbitSO.soDecode(raw, cd)
    def encode(plain: Array[Byte]): Array[Byte] = NbitSO.soEncode(plain, cd)
    override def encodedSize(n: Int): Int = n + NbitSO.SoHeader
  }

  /** A c-blosc frame; its header self-describes, so the settings only
    * matter to `encode`. */
  final case class Blosc(cname: String, level: Int, shuffle: Int, typesize: Int)
      extends Codec("blosc") {
    protected def unpack(raw: Array[Byte], expect: Int, exact: Boolean, what: String) =
      graft.io.Blosc.decompress(raw, expect, exact)
    def encode(plain: Array[Byte]): Array[Byte] =
      graft.io.Blosc.compress(plain, typesize, cname, level, shuffle)
  }

  // ------------------------------------------------------------------
  // each format's descriptors
  // ------------------------------------------------------------------

  /** The stream a blosc frame's inner-codec `code` names. */
  def blosc(code: Int, level: Int): StreamCodec = code match {
    case 1 => Lz4
    case 2 => Snappy
    case 3 => Zlib(math.min(math.max(level, 1), 9))
    case 4 => Zstd(math.min(math.max(level, 1), 22))
    case 0 => sys.error("blosc frame uses the blosclz inner codec, which " +
      "has no JVM decoder — re-encode the store with numcodecs " +
      "Blosc(cname='lz4'|'zstd'|'zlib'|'snappy') or Zlib")
    case other => sys.error(s"unknown blosc inner codec code $other")
  }

  /** An HDF5 filter (id, client data); undefined for an id this library
    * does not decode. */
  val hdf5: PartialFunction[(Int, Seq[Int]), Codec] = {
    case (1, cd) => Zlib(cd.headOption.getOrElse(1))
    case (2, cd) => Shuffle(cd.headOption.getOrElse(1))
    case (3, _) => Fletcher32
    case (4, cd) => Szip(cd)
    case (5, cd) => Nbit(cd)
    case (6, cd) => ScaleOffset(cd)
    case (32000, _) => Lzf
    // the writer never emits hdf5-blosc: a frame self-describes, so decode
    // needs none of its client data
    case (32001, _) => Blosc("lz4", 5, 1, 1)
    case (32015, cd) => Zstd(cd.headOption.getOrElse(3))
  }

  private val ByLevel = Map[String, Int => Leveled]("zlib" -> Zlib, "gzip" -> Gzip, "zstd" -> Zstd)
  private val BloscId = "blosc(?::([^:]+))?(?::(\\d))?".r

  /** A Zarr compressor as the library spells it, for `typesize`-byte
    * elements; a blosc cname or shuffle the writer cannot encode is
    * refused here, before any file names it. */
  def ofSpelling(spelled: (String, Int), typesize: Int): Codec = spelled match {
    case (id, l) if ByLevel.contains(id) => ByLevel(id)(l)
    case (BloscId(cname, shuffle), l) =>
      val b = Blosc(Option(cname).getOrElse("lz4"), l, Option(shuffle).fold(1)(_.toInt), typesize)
      graft.io.Blosc.check(b.cname, b.shuffle)
      b
    case (id, _) => sys.error(s"unsupported compressor $id (zlib, gzip, zstd, " +
      "blosc:<cname>:<shuffle>)")
  }

  def spelling(c: Codec): (String, Int) = c match {
    case l: Leveled => (l.name, l.level)
    case Blosc(cname, l, shuffle, _) => (s"blosc:$cname:$shuffle", l)
    case other => sys.error(s"${other.name} is not a Zarr compressor")
  }

  private def int(v: JValue, default: Int): Int = v match {
    case JInt(i) => i.toInt
    case _ => default
  }

  private def str(v: JValue, default: String): String = v match {
    case JString(s) => s
    case _ => default
  }

  /** A Zarr v2 `compressor` (numcodecs' defaults fill absent fields). */
  def zarrV2(c: JValue, typesize: Int): Option[Codec] = c match {
    case JNull | JNothing => None
    case _ => Some(str(c \ "id", "?") match {
      case id if ByLevel.contains(id) => ByLevel(id)(int(c \ "level", 1))
      case "blosc" => Blosc(str(c \ "cname", "lz4"), int(c \ "clevel", 5),
        int(c \ "shuffle", 1), typesize)
      case other => sys.error(s"unsupported compressor '$other' (supported: " +
        "null, zlib, gzip, zstd, blosc[lz4/lz4hc/zstd/zlib/snappy])")
    })
  }

  def zarrV2Json(c: Option[Codec]): JValue = c match {
    case None => JNull
    case Some(l: Leveled) => JObject("id" -> JString(l.name), "level" -> JInt(l.level))
    case Some(Blosc(cname, l, shuffle, _)) => JObject("id" -> JString("blosc"),
      "cname" -> JString(cname), "clevel" -> JInt(l), "shuffle" -> JInt(shuffle),
      "blocksize" -> JInt(0))
    case Some(other) => sys.error(s"${other.name} is not a Zarr v2 compressor")
  }

  /** v3's blosc shuffle names, by numcodecs' shuffle number. */
  private val V3Shuffles = Seq("noshuffle", "shuffle", "bitshuffle")

  /** A Zarr v3 chain entry, if it is a bytes-to-bytes codec. */
  def zarrV3(c: JValue, typesize: Int): Option[Codec] = {
    val cfg = c \ "configuration"
    (c \ "name") match {
      case JString("gzip") => Some(Gzip(int(cfg \ "level", 1)))
      case JString("zstd") => Some(Zstd(int(cfg \ "level", 0)))
      case JString("blosc") =>
        val shuffle = V3Shuffles.indexOf(str(cfg \ "shuffle", "shuffle"))
        Some(Blosc(str(cfg \ "cname", "lz4"), int(cfg \ "clevel", 5),
          if (shuffle < 0) 1 else shuffle, typesize))
      case _ => None
    }
  }

  def zarrV3Json(c: Codec): JObject = c match {
    case Gzip(l) => JObject("name" -> JString("gzip"),
      "configuration" -> JObject("level" -> JInt(l)))
    case Zstd(l) => JObject("name" -> JString("zstd"),
      "configuration" -> JObject("level" -> JInt(l), "checksum" -> JBool(false)))
    case Blosc(cname, l, shuffle, typesize) => JObject("name" -> JString("blosc"),
      "configuration" -> JObject("cname" -> JString(cname), "clevel" -> JInt(l),
        "shuffle" -> JString(V3Shuffles(shuffle)), "typesize" -> JInt(typesize),
        "blocksize" -> JInt(0)))
    case other => sys.error(s"v3 writer supports gzip/blosc/zstd, got ${other.name}")
  }

  /** Byte transpose: all byte-0s, then all byte-1s, ... of the `es`-byte
    * elements. A tail shorter than one element is carried through
    * unchanged, as HDF5's shuffle filter and c-blosc's leftover handling
    * both store it. */
  def shuffle(raw: Array[Byte], es: Int): Array[Byte] =
    transpose(raw, es, toShuffled = true)

  def unshuffle(raw: Array[Byte], es: Int): Array[Byte] =
    transpose(raw, es, toShuffled = false)

  private def transpose(raw: Array[Byte], es: Int,
                        toShuffled: Boolean): Array[Byte] = {
    if (es <= 1) return raw
    val n = raw.length / es
    val out = new Array[Byte](raw.length)
    var j = 0
    var b = 0
    while (b < es) {
      var r = 0
      if (toShuffled)
        while (r < n) { out(j) = raw(r * es + b); j += 1; r += 1 }
      else
        while (r < n) { out(r * es + b) = raw(j); j += 1; r += 1 }
      b += 1
    }
    System.arraycopy(raw, n * es, out, n * es, raw.length - n * es)
    out
  }
}
