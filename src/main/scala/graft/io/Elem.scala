package graft.io

import java.nio.{ByteBuffer, ByteOrder}

/** One stored array element type, and how its bytes become doubles and
  * back: Zarr, HDF5, NetCDF and Npy map their type descriptors to an
  * `Elem` and hand it whole chunks or bands. The types are `f4 f8`, `i1
  * i2 i4 i8` and `u1 u2 u4 u8`, little- or big-endian; any other is
  * refused where the descriptor is read.
  *
  * The 2^53 rule: a double holds every integer of magnitude at most 2^53
  * and no wider one, so an `i8` or `u8` data element beyond it raises an
  * [[ArithmeticException]] with its true (for `u8` unsigned) value instead
  * of rounding into a `LongType` column; metadata (an attribute such as a
  * fill) decodes with `exact = false` and rounds. Encoding narrows as the
  * JVM casts do: toward zero, saturating at the Int (`i4`) or Long (`i8
  * u8`) bounds, NaN to 0; `i1 u1 i2 u2` keep the low bits of that Int and
  * `u4` of that Long. */
private[io] final class Elem private (val kind: Char, val size: Int,
                                      val bigEndian: Boolean)
    extends Serializable {
  private val tag = s"$kind$size"

  def integral: Boolean = kind != 'f'

  private def buffer(b: Array[Byte]): ByteBuffer = ByteBuffer.wrap(b)
    .order(if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)

  /** Decodes `n` elements, the i-th at byte `off + i * stride` of `src`,
    * into `dst(at + i)`; `exact` applies the 2^53 rule. */
  def decode(src: Array[Byte], off: Int, n: Int, stride: Int,
             dst: Array[Double], at: Int, exact: Boolean = true): Unit = {
    val b = buffer(src)
    var i = 0
    tag match {
      case "f8" => while (i < n) { dst(at + i) = b.getDouble(off + i * stride); i += 1 }
      case "f4" => while (i < n) { dst(at + i) = b.getFloat(off + i * stride); i += 1 }
      case "i8" | "u8" => while (i < n) {
        val v = b.getLong(off + i * stride)
        dst(at + i) = if (exact) Elem.exact(v, kind == 'u')
          else if (kind == 'u' && v < 0) v + 1.8446744073709552e19 else v.toDouble
        i += 1 }
      case "i4" => while (i < n) { dst(at + i) = b.getInt(off + i * stride); i += 1 }
      case "u4" => while (i < n) {
        dst(at + i) = (b.getInt(off + i * stride) & 0xffffffffL).toDouble; i += 1 }
      case "i2" => while (i < n) { dst(at + i) = b.getShort(off + i * stride); i += 1 }
      case "u2" => while (i < n) { dst(at + i) = b.getShort(off + i * stride) & 0xffff; i += 1 }
      case "i1" => while (i < n) { dst(at + i) = b.get(off + i * stride); i += 1 }
      case "u1" => while (i < n) { dst(at + i) = b.get(off + i * stride) & 0xff; i += 1 }
    }
  }

  def decode(src: Array[Byte], off: Int, n: Int, stride: Int): Array[Double] = {
    val out = new Array[Double](n)
    decode(src, off, n, stride, out, 0)
    out
  }

  /** Encodes `src(from until from + n)` packed at byte `off` of `dst`. */
  def encode(src: Array[Double], from: Int, n: Int,
             dst: Array[Byte], off: Int): Unit = {
    val b = buffer(dst)
    var i = 0
    tag match {
      case "f8" => while (i < n) { b.putDouble(off + i * 8, src(from + i)); i += 1 }
      case "f4" => while (i < n) { b.putFloat(off + i * 4, src(from + i).toFloat); i += 1 }
      case "i8" | "u8" => while (i < n) { b.putLong(off + i * 8, src(from + i).toLong); i += 1 }
      case "i4" => while (i < n) { b.putInt(off + i * 4, src(from + i).toInt); i += 1 }
      case "u4" => while (i < n) { b.putInt(off + i * 4, src(from + i).toLong.toInt); i += 1 }
      case "i2" | "u2" => while (i < n) { b.putShort(off + i * 2, src(from + i).toInt.toShort); i += 1 }
      case "i1" | "u1" => while (i < n) { b.put(off + i, src(from + i).toInt.toByte); i += 1 }
    }
  }

  def encode(values: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](values.length * size)
    encode(values, 0, values.length, out, 0)
    out
  }
}

private[io] object Elem {
  private val Tags = Seq("f4", "f8", "i1", "i2", "i4", "i8", "u1", "u2", "u4", "u8")

  /** The type `kind``size`; `what` names the array a refusal is about. */
  def apply(kind: Char, size: Int, bigEndian: Boolean, what: => String): Elem = {
    if (!Tags.contains(s"$kind$size")) throw new IllegalArgumentException(
      s"$what: element type $kind$size is not decodable (types: ${Tags.mkString(" ")})")
    new Elem(kind, size, bigEndian)
  }

  /** A 64-bit integer as a double under the 2^53 rule; `unsigned` reads
    * `v`'s bits as an unsigned value. */
  def exact(v: Long, unsigned: Boolean): Double =
    if (v <= (1L << 53) && v >= (if (unsigned) 0L else -(1L << 53))) v.toDouble
    else throw new ArithmeticException(s"64-bit integer ${if (unsigned)
      java.lang.Long.toUnsignedString(v) else v} exceeds the exact-double " +
      "range (2^53); read the variable through a narrower or float type")
}
