package graft.io

import java.nio.{ByteBuffer, ByteOrder}

/** Pure-JVM c-blosc (v1 frame format) codec — zarr-python's DEFAULT
  * compressor (`numcodecs.Blosc`, cname="lz4", shuffle=1), so most
  * real-world zarr v2 stores are blosc-framed (reference engine:
  * `xarray/backends/zarr.py:655` passes stores straight to numcodecs).
  * Frame layout from the public c-blosc header document
  * (README_HEADER.rst, github.com/Blosc/c-blosc):
  *
  *   byte 0   format version (1-2; c-blosc2 frames differ and are rejected)
  *   byte 1   inner-codec version (informational)
  *   byte 2   flags: 0x01 byte-shuffle, 0x02 memcpy'ed, 0x04 bit-shuffle,
  *            0x10 dont-split, bits 5-7 inner codec code
  *   byte 3   typesize
  *   4-7      nbytes   (LE u32, uncompressed payload size)
  *   8-11     blocksize (LE u32)
  *   12-15    cbytes   (LE u32, total frame size incl. this header)
  *
  * Body (unless memcpy'ed, which is header + verbatim payload): one LE
  * i32 start offset per block (absolute within the frame), then the
  * blocks. A block is split into `typesize` independent streams when
  * byte-shuffled AND the dont-split bit is clear — never for the final
  * short block; otherwise it is one stream. Each stream is an LE i32
  * compressed length + payload, stored RAW when that length equals the
  * stream's uncompressed size (incompressible fallback). Byte-shuffle
  * transposes bytes within each block independently.
  *
  * The inner codec code names a stream of the codec table ([[Codec]]).
  */
object Blosc {

  private val FlagShuffle = 0x01
  private val FlagMemcpy = 0x02
  private val FlagBitShuffle = 0x04
  private val FlagDontSplit = 0x10

  /** Inner codec code <-> numcodecs cname. lz4hc shares lz4's stream format
    * (it differs only in compression effort), so both map to code 1. */
  private val cnames = Map("lz4" -> 1, "lz4hc" -> 1, "snappy" -> 2,
    "zlib" -> 3, "zstd" -> 4)

  def decompress(raw: Array[Byte], expect: Int,
                 exactSize: Boolean = true): Array[Byte] = {
    require(raw.length >= 16, "blosc frame shorter than its 16-byte header")
    val h = ByteBuffer.wrap(raw, 0, 16).order(ByteOrder.LITTLE_ENDIAN)
    val version = h.get() & 0xff
    h.get() // inner-codec version, informational
    val flags = h.get() & 0xff
    val typesize = h.get() & 0xff
    val nbytes = h.getInt()
    val blocksize = h.getInt()
    val cbytes = h.getInt()
    require(version >= 1 && version <= 2,
      s"unsupported blosc format version $version (a c-blosc2 frame?)")
    // exactSize=false: `expect` is only an upper bound (a scale-offset
    // stage below this one has a chunk-dependent packed size); the
    // frame's own nbytes header is authoritative for the output size
    require(if (exactSize) nbytes == expect else nbytes <= expect,
      s"blosc frame holds $nbytes bytes, chunk expects " +
        (if (exactSize) s"$expect" else s"at most $expect"))
    require(cbytes >= 16 && cbytes <= raw.length,
      s"blosc frame truncated: header says $cbytes, have ${raw.length}")
    val out = new Array[Byte](nbytes)
    if ((flags & FlagMemcpy) != 0) { // verbatim copy of the original
      require(raw.length >= 16 + nbytes, "memcpy'ed blosc frame truncated")
      System.arraycopy(raw, 16, out, 0, nbytes)
      return out
    }
    require(blocksize > 0, "blosc frame declares blocksize 0")
    val code = (flags >> 5) & 0x7
    val byteShuffle = (flags & FlagShuffle) != 0 && typesize > 1
    val bitShuffle = (flags & FlagBitShuffle) != 0
    // c-blosc's blosc_d reads the split decision from the DONT_SPLIT
    // flag ALONE (format version 2 records it at compress time; the
    // compressor splits lz4/blosclz frames regardless of shuffle mode) —
    // keying on the shuffle flag would mis-frame no-shuffle split
    // frames. v1 frames predate the bit; infer by the era's policy
    // (split iff byte-shuffled).
    val dontSplit =
      if (version >= 2) (flags & FlagDontSplit) != 0 else !byteShuffle
    val nblocks = ((nbytes.toLong + blocksize - 1) / blocksize).toInt
    // looked up at the first compressed stream: a frame of raw streams
    // decodes whatever its code
    lazy val stream = Codec.blosc(code, 0)
    val b = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    var j = 0
    while (j < nblocks) {
      val bsize = math.min(blocksize.toLong, nbytes.toLong - j.toLong * blocksize).toInt
      val leftover = bsize != blocksize
      val nstreams =
        if (!dontSplit && !leftover && typesize > 1 && bsize % typesize == 0)
          typesize
        else 1
      val neblock = bsize / nstreams
      val block = new Array[Byte](bsize)
      var src = b.getInt(16 + 4 * j)
      var s = 0
      while (s < nstreams) {
        val clen = b.getInt(src); src += 4
        require(clen >= 0 && src + clen <= raw.length,
          "blosc stream overruns the frame")
        if (clen == neblock) // raw (incompressible) stream
          System.arraycopy(raw, src, block, s * neblock, neblock)
        else {
          val got = stream.decodeInto(raw, src, clen, block, s * neblock, neblock)
          require(got == neblock,
            s"${stream.name} stream decoded $got of $neblock bytes")
        }
        src += clen
        s += 1
      }
      val plain =
        if (bitShuffle && blocksize >= typesize)
          bitUnshuffle(block, typesize)
        else if (byteShuffle) Codec.unshuffle(block, typesize)
        else block
      System.arraycopy(plain, 0, out, j * blocksize, bsize)
      j += 1
    }
    out
  }

  /** The inner codec code of `cname`; refuses a cname or a `shuffle` mode
    * this writer cannot encode. */
  private[io] def check(cname: String, shuffle: Int): Int = {
    require(shuffle >= 0 && shuffle <= 2,
      s"unsupported blosc shuffle mode $shuffle (0 = none, 1 = byte, " +
        "2 = bit)")
    cnames.getOrElse(cname, throw new IllegalArgumentException(
      s"unsupported blosc cname '$cname' " +
        s"(${cnames.keys.toSeq.sorted.mkString(", ")})"))
  }

  /** Encode `plain` as a c-blosc v1 frame. `shuffle` follows numcodecs:
    * 0 = none, 1 = byte-shuffle, 2 = bit-shuffle. Falls back to the
    * memcpy frame when compression does not pay, like c-blosc. */
  def compress(plain: Array[Byte], typesize: Int, cname: String, level: Int,
               shuffle: Int, blocksizeReq: Int = 0): Array[Byte] = {
    val code = check(cname, shuffle)
    val stream = Codec.blosc(code, level)
    val ts = math.max(typesize, 1)
    val nbytes = plain.length
    val byteShuffle = shuffle == 1 && ts > 1 && nbytes % ts == 0
    val bitShuffle = shuffle == 2 && ts > 1 && nbytes % ts == 0
    // any blocksize that is a multiple of typesize yields a valid frame;
    // default 64 KiB ~ c-blosc's L1-scaled choice at mid levels
    val blocksize = {
      val want = if (blocksizeReq > 0) blocksizeReq else 64 * 1024
      val rounded = math.max(want - want % ts, ts)
      math.min(rounded.toLong, math.max(nbytes.toLong - nbytes % ts, ts)).toInt
    }
    // mirror c-blosc's forward-compat split policy: only lz4-family and
    // small typesizes split; the bit is recorded so any reader agrees
    val split = byteShuffle && ts <= 16 && code == 1
    val nblocks = if (nbytes == 0) 0 else (nbytes + blocksize - 1) / blocksize
    val bstarts = new Array[Int](nblocks)
    val body = new java.io.ByteArrayOutputStream(nbytes / 2 max 64)
    val bodyBase = 16 + 4 * nblocks
    var j = 0
    var incompressible = false
    while (j < nblocks && !incompressible) {
      val bsize = math.min(blocksize, nbytes - j * blocksize)
      val leftover = bsize != blocksize
      val nstreams = if (split && !leftover) ts else 1
      val neblock = bsize / nstreams
      val src = new Array[Byte](bsize)
      System.arraycopy(plain, j * blocksize, src, 0, bsize)
      val block =
        if (bitShuffle) bitShuffleBytes(src, ts)
        else if (byteShuffle) Codec.shuffle(src, ts)
        else src
      bstarts(j) = bodyBase + body.size()
      var s = 0
      while (s < nstreams) {
        val comp = stream.encode(block, s * neblock, neblock)
        val lenBuf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        if (comp.length >= neblock) { // store raw, flagged by length
          lenBuf.putInt(neblock)
          body.write(lenBuf.array()); body.write(block, s * neblock, neblock)
        } else {
          lenBuf.putInt(comp.length)
          body.write(lenBuf.array()); body.write(comp)
        }
        s += 1
      }
      // memcpy fallback exactly when the frame would not beat a copy
      if (bodyBase + body.size() >= 16 + nbytes) incompressible = true
      j += 1
    }
    if (incompressible || nbytes == 0) {
      val out = ByteBuffer.allocate(16 + nbytes).order(ByteOrder.LITTLE_ENDIAN)
      out.put(2.toByte).put(1.toByte)
        .put((FlagMemcpy | (code << 5)).toByte).put(ts.toByte)
        .putInt(nbytes).putInt(blocksize).putInt(16 + nbytes)
      out.put(plain)
      return out.array()
    }
    val flags = (if (byteShuffle) FlagShuffle else 0) |
      (if (bitShuffle) FlagBitShuffle else 0) |
      (if (split) 0 else FlagDontSplit) | (code << 5)
    val cbytes = bodyBase + body.size()
    val out = ByteBuffer.allocate(cbytes).order(ByteOrder.LITTLE_ENDIAN)
    out.put(2.toByte).put(1.toByte).put(flags.toByte).put(ts.toByte)
      .putInt(nbytes).putInt(blocksize).putInt(cbytes)
    bstarts.foreach(out.putInt)
    out.put(body.toByteArray)
    out.array()
  }

  /** Bit transpose within one block (c-blosc's BITSHUFFLE, the kiyo-masui
    * bitshuffle algorithm): for the first `elems - elems % 8` elements,
    * bit b of element e (b counted LSB-first across the element's bytes
    * in memory order) lands in bit-row b — one of 8*es rows of size/8
    * bytes — packed 8 elements per byte, LSB-first by element order. The
    * `blocksize % (8*es)` tail is copied verbatim, exactly c-blosc's
    * leftover handling. */
  private[graft] def bitShuffleBytes(raw: Array[Byte], es0: Int): Array[Byte] = {
    val es = math.max(es0, 1)
    val size = raw.length / es - (raw.length / es) % 8
    if (size == 0) return raw.clone()
    val rowBytes = size / 8
    val out = new Array[Byte](raw.length)
    var e = 0
    while (e < size) {
      var b = 0
      while (b < es) {
        val v = raw(e * es + b) & 0xff
        if (v != 0) {
          var k = 0
          while (k < 8) {
            if ((v & (1 << k)) != 0) {
              val row = (b * 8 + k) * rowBytes
              out(row + e / 8) = (out(row + e / 8) | (1 << (e % 8))).toByte
            }
            k += 1
          }
        }
        b += 1
      }
      e += 1
    }
    System.arraycopy(raw, size * es, out, size * es, raw.length - size * es)
    out
  }

  private[graft] def bitUnshuffle(raw: Array[Byte], es0: Int): Array[Byte] = {
    val es = math.max(es0, 1)
    val size = raw.length / es - (raw.length / es) % 8
    if (size == 0) return raw.clone()
    val rowBytes = size / 8
    val out = new Array[Byte](raw.length)
    var b = 0
    while (b < es) {
      var k = 0
      while (k < 8) {
        val row = (b * 8 + k) * rowBytes
        var eb = 0
        while (eb < rowBytes) {
          val v = raw(row + eb) & 0xff
          if (v != 0) {
            var i = 0
            while (i < 8) {
              if ((v & (1 << i)) != 0) {
                val e = eb * 8 + i
                out(e * es + b) = (out(e * es + b) | (1 << k)).toByte
              }
              i += 1
            }
          }
          eb += 1
        }
        k += 1
      }
      b += 1
    }
    System.arraycopy(raw, size * es, out, size * es, raw.length - size * es)
    out
  }
}
