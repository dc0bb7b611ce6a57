package graft.io

/** Pure-JVM LZF codec — the format of h5py's built-in `compression="lzf"`
  * HDF5 filter (id 32000), i.e. Marc Lehmann's libLZF block format:
  *
  *   ctrl < 0x20  : literal run of ctrl+1 bytes follows
  *   ctrl >= 0x20 : back-reference; len = (ctrl >> 5), +next byte when
  *                  len == 7, match length = len + 2; distance =
  *                  (((ctrl & 0x1f) << 8) | next byte) + 1
  *
  * (public liblzf `lzf_d.c`; the h5py filter stores the raw LZF block
  * with no extra framing — the decompressed size is the chunk's nominal
  * size, which HDF5 already knows). The reference reads these through
  * h5py's compiled filter (ref `xarray/backends/h5netcdf_.py` via h5py);
  * this is an independent implementation of the public format.
  */
object Lzf {

  /** Decompress exactly `expected` bytes (the chunk's nominal size). */
  def decompress(src: Array[Byte], expected: Int): Array[Byte] = decompress(src, expected, true)

  /** `exact = false`: `expected` is an upper bound ([[Codec]]'s length rule). */
  private[io] def decompress(src: Array[Byte], expected: Int, exact: Boolean): Array[Byte] = {
    val out = new Array[Byte](expected)
    var ip = 0
    var op = 0
    while (ip < src.length && op < expected) {
      val ctrl = src(ip) & 0xff
      ip += 1
      if (ctrl < 0x20) {
        val run = ctrl + 1
        require(ip + run <= src.length && op + run <= expected,
          "lzf literal run overruns the stream")
        System.arraycopy(src, ip, out, op, run)
        ip += run; op += run
      } else {
        var len = ctrl >>> 5
        if (len == 7) {
          require(ip < src.length, "lzf stream truncated in length byte")
          len += src(ip) & 0xff; ip += 1
        }
        require(ip < src.length, "lzf stream truncated in offset byte")
        val dist = ((ctrl & 0x1f) << 8 | (src(ip) & 0xff)) + 1
        ip += 1
        var ref = op - dist
        require(ref >= 0, "lzf back-reference before stream start")
        var n = len + 2
        require(op + n <= expected, "lzf match overruns the output")
        while (n > 0) { out(op) = out(ref); op += 1; ref += 1; n -= 1 }
      }
    }
    require(op == expected || !exact,
      s"lzf stream produced $op of $expected expected bytes")
    out
  }

  /** Greedy hash-chain compressor (same output grammar; any conformant
    * stream decodes, so simplicity beats ratio here). */
  def compress(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length / 2 + 16)
    val htab = new Array[Int](1 << 14)
    java.util.Arrays.fill(htab, -1)
    def hash(i: Int): Int =
      (((src(i) & 0xff) << 8 | (src(i + 1) & 0xff)) * 0x9e37 ^
        (src(i + 2) & 0xff)) & (htab.length - 1)
    var lit0 = 0 // start of the pending literal run
    def flushLits(until: Int): Unit = {
      var s = lit0
      while (s < until) {
        val n = math.min(0x20, until - s)
        out.write(n - 1)
        out.write(src, s, n)
        s += n
      }
      lit0 = until
    }
    var i = 0
    while (i + 2 < src.length) {
      val h = hash(i)
      val cand = htab(h)
      htab(h) = i
      val dist = i - cand
      if (cand >= 0 && dist <= 0x2000 &&
          src(cand) == src(i) && src(cand + 1) == src(i + 1) &&
          src(cand + 2) == src(i + 2)) {
        var len = 3
        val maxLen = math.min(src.length - i, 2 + 7 + 0xff)
        while (len < maxLen && src(cand + len) == src(i + len)) len += 1
        flushLits(i)
        val l = len - 2
        if (l < 7) out.write((l << 5) | ((dist - 1) >>> 8))
        else { out.write((7 << 5) | ((dist - 1) >>> 8)); out.write(l - 7) }
        out.write((dist - 1) & 0xff)
        i += len
        lit0 = i
      } else i += 1
    }
    flushLits(src.length)
    out.toByteArray
  }
}
