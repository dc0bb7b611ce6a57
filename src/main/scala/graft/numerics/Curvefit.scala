package graft.numerics

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** curvefit (ref `computation/fit.py:311` -> scipy.optimize.curve_fit):
  * arbitrary nonlinear model fitted per group by Levenberg-Marquardt with
  * numeric Jacobians.
  *
  * Spark shape: per-group iterative numerics cannot be a declarative plan;
  * the reference itself runs scipy per (remaining-dims) slice. Here each
  * group's series is gathered by `flatMapSortedGroups` (bounded by group
  * size, parallel across groups) and the LM loop runs in the executor —
  * SURVEY.md §2.12 "core dims reduced away" contract.
  */
object Curvefit {

  /** Fit `model(params, x)` per group.
    * @param model  (params, x) => y-hat
    * @param p0     initial parameter vector
    * @return (groupCols..., p0..pk-1, n_iter, sse) one row per group; a
    *         group with no non-NULL (x, y) pair gets NULL parameters and
    *         sse and n_iter 0 */
  def fit(df: DataFrame, groupCols: Seq[String], xCol: String, yCol: String,
          model: (Array[Double], Double) => Double, p0: Array[Double],
          maxIter: Int = 50, tol: Double = 1e-10): DataFrame = {
    val k = p0.length
    val in = df.select((groupCols :+ xCol :+ yCol).map(col): _*)
    val xIdx = groupCols.length
    val outSchema = StructType(
      groupCols.map(c => df.schema(c)) ++
        (0 until k).map(i => StructField(s"p$i", DoubleType)) ++
        Seq(StructField("n_iter", IntegerType), StructField("sse", DoubleType)))
    // One group's series is resident at a time (a group is bounded; a
    // partition is not). Rows with a NULL x or y are skipped (xarray's
    // skipna=True default).
    in.groupBy(groupCols.map(col): _*)
      .as[Row, Row](Encoders.row(StructType(groupCols.map(in.schema(_)))),
        Encoders.row(in.schema))
      .flatMapSortedGroups(col(xCol)) { (key, it) =>
        val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
        val ys = scala.collection.mutable.ArrayBuffer.empty[Double]
        it.foreach { r =>
          if (!r.isNullAt(xIdx) && !r.isNullAt(xIdx + 1)) {
            xs += r.getDouble(xIdx)
            ys += r.getDouble(xIdx + 1)
          }
        }
        val fitted: Seq[Any] =
          if (xs.isEmpty) Seq.fill(k)(null) ++ Seq[Any](0, null)
          else {
            val (p, iters, sse) =
              lm(model, p0.clone(), xs.toArray, ys.toArray, maxIter, tol)
            p.toSeq ++ Seq[Any](iters, sse)
          }
        Iterator.single(Row.fromSeq(key.toSeq ++ fitted))
      }(Encoders.row(outSchema))
  }

  /** Levenberg-Marquardt with forward-difference Jacobian. */
  private[numerics] def lm(model: (Array[Double], Double) => Double,
                           p: Array[Double], xs: Array[Double], ys: Array[Double],
                           maxIter: Int, tol: Double): (Array[Double], Int, Double) = {
    val k = p.length; val n = xs.length
    var lambda = 1e-3
    def sse(pp: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < n) { val r = ys(i) - model(pp, xs(i)); s += r * r; i += 1 }
      s
    }
    var cur = sse(p); var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      // J^T J and J^T r with numeric jacobian
      val jtj = Array.ofDim[Double](k, k)
      val jtr = Array.ofDim[Double](k)
      val h = 1e-7
      var i = 0
      while (i < n) {
        val r = ys(i) - model(p, xs(i))
        val grad = new Array[Double](k)
        var a = 0
        while (a < k) {
          val saved = p(a); p(a) = saved + h * math.max(1.0, math.abs(saved))
          val step = p(a) - saved
          grad(a) = (model(p, xs(i)) - (ys(i) - r)) / step
          p(a) = saved
          a += 1
        }
        a = 0
        while (a < k) {
          jtr(a) += grad(a) * r
          var b = 0
          while (b < k) { jtj(a)(b) += grad(a) * grad(b); b += 1 }
          a += 1
        }
        i += 1
      }
      // (J^T J + lambda diag) dp = J^T r  — tiny k x k Gaussian elimination
      val aM = Array.tabulate(k, k)((a, b) =>
        jtj(a)(b) + (if (a == b) lambda * jtj(a)(a) else 0.0))
      val bV = jtr.clone()
      val dp = solve(aM, bV)
      val pNew = Array.tabulate(k)(a => p(a) + dp(a))
      val sNew = sse(pNew)
      if (sNew < cur) {
        val improve = cur - sNew
        Array.copy(pNew, 0, p, 0, k)
        cur = sNew; lambda = math.max(lambda / 10, 1e-12)
        if (improve < tol * (1 + cur)) done = true
      } else {
        lambda *= 10
        if (lambda > 1e12) done = true
      }
      iter += 1
    }
    (p, iter, cur)
  }

  /** Gaussian elimination with partial pivoting (k <= ~10). */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val k = b.length
    var col = 0
    while (col < k) {
      var piv = col
      var r = col + 1
      while (r < k) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      val tmp = a(col); a(col) = a(piv); a(piv) = tmp
      val tb = b(col); b(col) = b(piv); b(piv) = tb
      val d = if (a(col)(col) == 0.0) 1e-300 else a(col)(col)
      r = col + 1
      while (r < k) {
        val f = a(r)(col) / d
        var c = col
        while (c < k) { a(r)(c) -= f * a(col)(c); c += 1 }
        b(r) -= f * b(col)
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](k)
    var r = k - 1
    while (r >= 0) {
      var s = b(r)
      var c = r + 1
      while (c < k) { s -= a(r)(c) * x(c); c += 1 }
      x(r) = s / (if (a(r)(r) == 0.0) 1e-300 else a(r)(r))
      r -= 1
    }
    x
  }
}
