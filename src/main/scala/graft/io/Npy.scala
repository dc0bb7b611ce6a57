package graft.io

import java.nio.{ByteBuffer, ByteOrder}

/** NumPy `.npy` (format 1.0) and `.npz` (zip-of-npy) codec — the
  * numpy-ecosystem interchange xarray users reach for constantly
  * (np.save/np.load; reference behavior spec: the NEP-style format
  * description shipped in numpy/lib/format.py). Pure-JVM parse:
  *
  *   magic \x93NUMPY, version 1.0, LE u16 header length, then an
  *   ASCII python-dict header `{'descr': '<f8', 'fortran_order':
  *   False, 'shape': (d0, d1, ...), }` space-padded so the data
  *   starts 64-byte aligned, then the raw C- (or Fortran-) ordered
  *   element bytes.
  *
  * Reads `<f8`, `<f4`, `<i8`, `<i4` in either memory order (Fortran
  * order is transposed into C order on read) through [[Elem]]; anything
  * else is a loud reject naming the dtype. Writes `<f8`/`<i8` C-order
  * v1.0. The .npz container is a plain (stored or deflated) zip whose
  * entries are `.npy` members — java.util.zip handles both modes. */
object Npy {

  private val Magic = Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y')

  def write(shape: Seq[Int], data: Array[Double],
            integral: Boolean = false): Array[Byte] = {
    require(shape.product == data.length,
      s"npy write: shape ${shape.mkString("x")} != ${data.length} elements")
    val descr = if (integral) "<i8" else "<f8"
    val shapeStr = shape match {
      case Seq(n) => s"($n,)"
      case s => s.mkString("(", ", ", ")")
    }
    val head = s"{'descr': '$descr', 'fortran_order': False, " +
      s"'shape': $shapeStr, }"
    // pad with spaces + trailing \n so (10 + headerLen) % 64 == 0
    val base = 10 + head.length + 1
    val pad = (64 - base % 64) % 64
    val header = head + (" " * pad) + "\n"
    val out = ByteBuffer.allocate(10 + header.length + data.length * 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put(Magic); out.put(1.toByte); out.put(0.toByte)
    out.putShort(header.length.toShort)
    out.put(header.getBytes("US-ASCII"))
    elem(descr).encode(data, 0, data.length, out.array(), out.position())
    out.array()
  }

  /** The four dtypes this codec reads; anything else is a loud reject. */
  private def elem(descr: String): Elem = descr match {
    case "<f8" | "<f4" | "<i8" | "<i4" =>
      Elem(descr(1), descr.drop(2).toInt, bigEndian = false, "npy")
    case other => sys.error(s"npy dtype '$other' unsupported — this " +
      "reader decodes <f8/<f4/<i8/<i4 (use arr.astype(np.float64))")
  }

  /** (shape, C-ordered doubles). */
  def read(bytes: Array[Byte]): (Seq[Int], Array[Double]) = {
    require(bytes.length >= 10 &&
      Magic.indices.forall(i => bytes(i) == Magic(i)),
      "not an npy file (bad magic)")
    val major = bytes(6) & 0xff
    require(major == 1 || major == 2,
      s"npy format version $major.${bytes(7) & 0xff} unsupported")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    b.position(8)
    val hlen = if (major == 1) b.getShort() & 0xffff else b.getInt()
    val header = new String(bytes, b.position(), hlen, "US-ASCII")
    val dataOff = b.position() + hlen
    def field(key: String): String = {
      val i = header.indexOf(s"'$key':")
      require(i >= 0, s"npy header missing '$key': $header")
      header.substring(i + key.length + 3).trim
    }
    val descr = {
      val t = field("descr")
      t.substring(1, t.indexOf('\'', 1))
    }
    val fortran = field("fortran_order").startsWith("True")
    val shapeRaw = {
      val t = field("shape")
      t.substring(t.indexOf('(') + 1, t.indexOf(')'))
    }
    val shape = shapeRaw.split(",").map(_.trim).filter(_.nonEmpty)
      .map(_.toInt).toSeq
    // Each entry must itself be >= 0: a product-only check lets an even
    // count of negative entries ((-3,-2) -> 6) slip through as a nonsense
    // shape with a plausible element count.
    require(shape.forall(_ >= 0),
      s"npy shape has negative entries: ${shape.mkString("x")}")
    // 0-d scalar: empty Seq product is already 1. Zero-element shapes
    // ((0,), (3,0)) are legal and carry 0 data bytes. Count as Long so a
    // pathological header can't Int-overflow into a mis-sized read.
    val nL = shape.foldLeft(1L)(_ * _.toLong)
    require(nL <= Int.MaxValue.toLong,
      s"npy shape element count out of range: ${shape.mkString("x")}")
    val n = nL.toInt
    val e = elem(descr)
    require(bytes.length >= dataOff + n.toLong * e.size,
      s"npy truncated: need ${n.toLong * e.size} data bytes, have " +
        s"${bytes.length - dataOff}")
    val flat = e.decode(bytes, dataOff, n, e.size)
    // Fortran order is the C order of the reversed dims
    (shape, if (!fortran) flat
            else LongGrid.permute(flat, shape, shape.indices.reverse, false))
  }

  def writeNpz(entries: Seq[(String, Seq[Int], Array[Double])],
               integral: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, shape, data) =>
      zip.putNextEntry(new java.util.zip.ZipEntry(s"$name.npy"))
      zip.write(write(shape, data, integral))
      zip.closeEntry()
    }
    zip.close()
    bos.toByteArray
  }

  def readNpz(bytes: Array[Byte]): Map[String, (Seq[Int], Array[Double])] = {
    val zip = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, (Seq[Int], Array[Double])]
    var e = zip.getNextEntry
    while (e != null) {
      val name = e.getName.stripSuffix(".npy")
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = zip.read(tmp)
      while (n > 0) { buf.write(tmp, 0, n); n = zip.read(tmp) }
      out += name -> read(buf.toByteArray)
      e = zip.getNextEntry
    }
    zip.close()
    out.result()
  }
}
