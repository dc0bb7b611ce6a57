package graft.io

import java.util.zip.{Deflater, Inflater}

/** The byte filters Zarr, HDF5 and Blosc share: zlib (RFC 1950) deflate
  * and a length-checked inflate, and the byte-shuffle transpose. */
private[io] object ByteFilters {

  /** Inflate the zlib stream in `src[srcOff, srcOff + srcLen)` into
    * `dst[dstOff, dstOff + len)`, stopping at the stream's end or when
    * `len` bytes are out (trailing adler32 bytes are then never read).
    * Returns the bytes decoded; a stream that stalls short of both, as a
    * truncated one or one demanding a preset dictionary does, raises. */
  def inflateInto(src: Array[Byte], srcOff: Int, srcLen: Int,
                  dst: Array[Byte], dstOff: Int, len: Int,
                  what: String): Int = {
    val inf = new Inflater()
    try {
      inf.setInput(src, srcOff, srcLen)
      var got = 0
      while (got < len && !inf.finished()) {
        val n = inf.inflate(dst, dstOff + got, len - got)
        require(n > 0,
          s"truncated zlib stream in $what: decoded $got of $len bytes")
        got += n
      }
      got
    } finally inf.end()
  }

  /** Inflate `raw` to exactly `expect` bytes; a stream that ends short
    * raises. With `exact = false` `expect` is only an upper bound (a
    * scale-offset stage inside has a chunk-dependent packed size) and the
    * buffer's unwritten tail stays zero. */
  def inflate(raw: Array[Byte], expect: Int, what: String,
              exact: Boolean = true): Array[Byte] = {
    val out = new Array[Byte](expect)
    val got = inflateInto(raw, 0, raw.length, out, 0, expect, what)
    require(got == expect || !exact,
      s"zlib stream in $what decoded $got of $expect bytes")
    out
  }

  def deflate(src: Array[Byte], off: Int, len: Int, level: Int): Array[Byte] = {
    val d = new Deflater(level)
    try {
      d.setInput(src, off, len); d.finish()
      val out = new java.io.ByteArrayOutputStream(len / 2 max 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  def deflate(raw: Array[Byte], level: Int): Array[Byte] =
    deflate(raw, 0, raw.length, level)

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
