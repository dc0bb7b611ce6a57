package graft.numerics

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cubic-spline interpolation per series (ref `core/missing.py:616` interp
  * method="cubic" -> scipy CubicSpline with natural boundary conditions
  * handled per 1-D series).
  *
  * Spark shape: spline coefficients are a per-series tridiagonal solve —
  * gather each (by) group (bounded series), solve with the Thomas
  * algorithm in the executor, evaluate all probe points for that group.
  * Parallel across series; one co-partitioning shuffle of series+probes.
  */
object Spline {

  /** Natural cubic spline: interpolate `v` at `probes`' t values, per
    * `by` group. Probes outside the knot range get NULL (no extrapolation,
    * matching the engine's interp convention), as does a probe with a
    * NULL t. A group with any NULL knot t or v gets NULL at every probe:
    * the cubic coupling spreads a gap across the whole series, as scipy's
    * cubic `interp1d` does under xarray `interp`. */
  def interpCubic(series: DataFrame, probes: DataFrame, by: Seq[String],
                  t: String, v: String): DataFrame = {
    val tagged = series.select((by.map(col) :+ col(t).cast("double").as("__t") :+
      col(v).cast("double").as("__v") :+ lit(0).as("__probe")): _*)
      .unionByName(probes.select((by.map(col) :+ col(t).cast("double").as("__t") :+
        lit(null).cast("double").as("__v") :+ lit(1).as("__probe")): _*))
    val tIdx = by.length
    val outSchema = StructType(by.map(c => series.schema(c)) ++ Seq(
      StructField("t_probe", DoubleType), StructField("v_cubic", DoubleType)))
    // Each group streams its knots (ascending t) and then its probes.
    tagged.groupBy(by.map(col): _*)
      .as[Row, Row](Encoders.row(StructType(by.map(tagged.schema(_)))),
        Encoders.row(tagged.schema))
      .flatMapSortedGroups(col("__probe"), col("__t")) { (key, it) =>
        val rows = it.buffered
        val knots = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
        var gap = false
        while (rows.hasNext && rows.head.getInt(tIdx + 2) == 0) {
          val r = rows.next()
          if (r.isNullAt(tIdx) || r.isNullAt(tIdx + 1)) gap = true
          else knots += ((r.getDouble(tIdx), r.getDouble(tIdx + 1)))
        }
        val kn = knots.toArray
        val coef = naturalSpline(kn)
        rows.map { r =>
          val tp = r.get(tIdx)
          val yv =
            if (gap || tp == null) None
            else evaluate(kn, coef, r.getDouble(tIdx))
          Row.fromSeq(key.toSeq ++ Seq(tp, yv.map(java.lang.Double.valueOf).orNull))
        }
      }(Encoders.row(outSchema))
  }

  /** Second derivatives at knots (natural BC), via the Thomas algorithm. */
  private[numerics] def naturalSpline(kn: Array[(Double, Double)]): Array[Double] = {
    val n = kn.length
    val m = new Array[Double](n)
    if (n < 3) return m // linear fallback: second derivatives 0
    val a = new Array[Double](n); val b = new Array[Double](n)
    val c = new Array[Double](n); val d = new Array[Double](n)
    b(0) = 1; b(n - 1) = 1
    var i = 1
    while (i < n - 1) {
      val h0 = kn(i)._1 - kn(i - 1)._1
      val h1 = kn(i + 1)._1 - kn(i)._1
      a(i) = h0; b(i) = 2 * (h0 + h1); c(i) = h1
      d(i) = 6 * ((kn(i + 1)._2 - kn(i)._2) / h1 - (kn(i)._2 - kn(i - 1)._2) / h0)
      i += 1
    }
    // Thomas forward sweep
    i = 1
    while (i < n) {
      val w = a(i) / b(i - 1)
      b(i) -= w * c(i - 1); d(i) -= w * d(i - 1)
      i += 1
    }
    m(n - 1) = d(n - 1) / b(n - 1)
    i = n - 2
    while (i >= 0) { m(i) = (d(i) - c(i) * m(i + 1)) / b(i); i -= 1 }
    m
  }

  private[numerics] def evaluate(kn: Array[(Double, Double)], m: Array[Double],
                                 tp: Double): Option[Double] = {
    val n = kn.length
    if (n == 0 || tp < kn.head._1 || tp > kn.last._1) return None
    if (n == 1) return Some(kn.head._2)
    var j = java.util.Arrays.binarySearch(kn.map(_._1), tp)
    if (j >= 0) return Some(kn(j)._2)
    j = -j - 2 // interval index
    val (x0, y0) = kn(j); val (x1, y1) = kn(j + 1)
    val h = x1 - x0
    val t0 = (x1 - tp) / h; val t1 = (tp - x0) / h
    Some(t0 * y0 + t1 * y1 +
      ((t0 * t0 * t0 - t0) * m(j) + (t1 * t1 * t1 - t1) * m(j + 1)) * h * h / 6.0)
  }
}
