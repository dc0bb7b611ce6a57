package graft

import org.apache.spark.sql.functions._
import graft.numerics.{Curvefit, Numerics, Spline}

/** Per-group iterative numerics: LM curvefit recovers known parameters;
  * natural cubic spline matches the tridiagonal reference solution. */
class NumericsSpec extends SparkSpec {
  import spark.implicits._

  test("curvefit: LM recovers a*exp(b*x) exactly on noiseless data") {
    val xs = (0 until 40).map(i => i * 5.0 / 39)
    val rows = for (g <- Seq(1L, 2L); x <- xs)
      yield (g, x, (if (g == 1) 2.0 else 0.5) * math.exp((if (g == 1) 0.3 else 0.8) * x))
    val df = rows.toDF("g", "x", "y")
    val fit = Curvefit.fit(df, Seq("g"), "x", "y",
      (p, x) => p(0) * math.exp(p(1) * x), p0 = Array(1.0, 0.1))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(fit(1L)._1 - 2.0) < 1e-6 && math.abs(fit(1L)._2 - 0.3) < 1e-6,
      fit(1L).toString)
    assert(math.abs(fit(2L)._1 - 0.5) < 1e-6 && math.abs(fit(2L)._2 - 0.8) < 1e-6,
      fit(2L).toString)
  }

  test("natural cubic spline matches the reference tridiagonal solution") {
    val series = Seq((1L, 0.0, 0.0), (1L, 1.0, 1.0), (1L, 2.0, 8.0),
      (1L, 3.0, 27.0), (1L, 4.0, 64.0)).toDF("g", "t", "v")
    val probes = Seq((1L, 0.5), (1L, 1.5), (1L, 2.5), (1L, 3.7), (1L, 9.0))
      .toDF("g", "t")
    val out = Spline.interpCubic(series, probes, Seq("g"), "t", "v")
      .collect().map(r => r.getDouble(1) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val want = Map(0.5 -> 0.09821428571428575, 1.5 -> 3.4553571428571432,
      2.5 -> 15.330357142857142, 3.7 -> 51.788500000000006)
    want.foreach { case (t, w) =>
      assert(out(t).isDefined && math.abs(out(t).get - w) < 1e-9, s"t=$t got ${out(t)}")
    }
    assert(out(9.0).isEmpty, "outside knot range must be NULL")
    // exact knot hit returns the knot value
    val knot = Spline.interpCubic(series, Seq((1L, 2.0)).toDF("g", "t"),
      Seq("g"), "t", "v").head
    assert(knot.getDouble(2) === 8.0)
  }

  test("curvefit skips rows with a NULL x or y; an all-NULL group fits nothing") {
    val clean = (0 until 20).map(i => (1L, Option(i * 0.25), Option(3.0 + 2.0 * i * 0.25)))
    val dirty = clean ++ Seq((1L, None, Some(100.0)), (1L, Some(1.1), None),
      (2L, Some(0.0), None), (2L, None, Some(1.0)))
    def fit(rows: Seq[(Long, Option[Double], Option[Double])]) =
      Curvefit.fit(rows.toDF("g", "x", "y"), Seq("g"), "x", "y",
        (p, x) => p(0) + p(1) * x, p0 = Array(0.0, 1.0))
        .collect().map(r => r.getLong(0) -> r).toMap
    val got = fit(dirty)
    // the NULL rows drop out: the fit equals the clean series' fit exactly
    assert(got(1L) === fit(clean)(1L))
    assert(math.abs(got(1L).getDouble(1) - 3.0) < 1e-6 &&
      math.abs(got(1L).getDouble(2) - 2.0) < 1e-6, got(1L).toString)
    val none = got(2L)
    assert(none.isNullAt(1) && none.isNullAt(2) && none.getInt(3) === 0 &&
      none.isNullAt(4), none.toString)
  }

  test("cubic spline: a NULL knot t or v blanks its group; a NULL probe t gives NULL") {
    val series = Seq[(Long, Option[Double], Option[Double])](
      (1L, Some(0.0), Some(0.0)), (1L, Some(1.0), Some(1.0)),
      (1L, Some(2.0), Some(8.0)), (1L, Some(3.0), Some(27.0)),
      (2L, Some(0.0), Some(0.0)), (2L, Some(1.0), None), (2L, Some(2.0), Some(8.0)),
      (3L, None, Some(5.0)), (3L, Some(0.0), Some(0.0)), (3L, Some(1.0), Some(1.0)))
      .toDF("g", "t", "v")
    val probes = Seq[(Long, Option[Double])]((1L, Some(0.5)), (1L, None),
      (2L, Some(0.5)), (2L, Some(2.0)), (3L, Some(0.5))).toDF("g", "t")
    val out = Spline.interpCubic(series, probes, Seq("g"), "t", "v").collect()
      .map(r => (r.getLong(0), Option(r.get(1))) -> Option(r.get(2))).toMap
    assert(out.size === 5)
    val clean = Spline.interpCubic(series.filter(col("g") === 1L),
      Seq((1L, 0.5)).toDF("g", "t"), Seq("g"), "t", "v").head
    assert(out((1L, Some(0.5))) === Some(clean.getDouble(2)))
    assert(out((1L, None)) === None)
    // the cubic coupling spreads a gap across the whole series: even the
    // exact knot hit at t = 2 is NULL
    assert(out((2L, Some(0.5))) === None && out((2L, Some(2.0))) === None)
    assert(out((3L, Some(0.5))) === None)
  }

  test("pchip: reproduces linear data, preserves monotonicity, no overshoot") {
    import graft.numerics.Numerics
    // linear data: all slopes equal the secant -> Hermite reproduces the line
    val lin = Seq.tabulate(6)(i => (1L, i.toDouble, 2.0 * i + 1)).toDF("g", "t", "v")
    val probesL = Seq((1L, 0.5), (1L, 2.25), (1L, 4.9)).toDF("g", "t")
    Numerics.interpPchip(lin, probesL, Seq("g"), "t", "v").collect().foreach { r =>
      val t = r.getDouble(1)
      assert(math.abs(r.getDouble(2) - (2.0 * t + 1)) < 1e-12, s"t=$t")
    }
    // step-like data: cubic splines overshoot here; pchip must not
    val step = Seq((1L, 0.0, 0.0), (1L, 1.0, 0.0), (1L, 2.0, 1.0),
      (1L, 3.0, 1.0)).toDF("g", "t", "v")
    val dense = Seq.tabulate(31)(i => (1L, i * 0.1)).toDF("g", "t")
    val vals = Numerics.interpPchip(step, dense, Seq("g"), "t", "v")
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).sortBy(_._1)
    vals.foreach { case (t, v) =>
      assert(v >= -1e-12 && v <= 1.0 + 1e-12, s"overshoot at t=$t: $v") }
    // monotone non-decreasing over the whole range
    vals.sliding(2).foreach { case Array((t0, v0), (t1, v1)) =>
      assert(v1 >= v0 - 1e-12, s"not monotone at $t0->$t1: $v0 > $v1") }
    // exact knot hit + no extrapolation
    val out = Numerics.interpPchip(step,
      Seq((1L, 2.0), (1L, 9.0)).toDF("g", "t"), Seq("g"), "t", "v")
      .collect().map(r => r.getDouble(1) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out(2.0).contains(1.0) && out(9.0).isEmpty)
  }

  test("akima: reproduces linear data; quadratic through quadratic knots") {
    import graft.numerics.Numerics
    // linear data: every (extended) secant equals the slope -> exact line
    val lin = Seq.tabulate(6)(i => (1L, i.toDouble, 3.0 * i - 2)).toDF("g", "t", "v")
    val probesL = Seq((1L, 0.5), (1L, 2.25), (1L, 4.9)).toDF("g", "t")
    Numerics.interpAkima(lin, probesL, Seq("g"), "t", "v").collect().foreach { r =>
      val t = r.getDouble(1)
      assert(math.abs(r.getDouble(2) - (3.0 * t - 2)) < 1e-12, s"t=$t")
    }
    // akima reproduces quadratics away from the boundary (classic property:
    // the virtual-secant extension is exact for polynomials of degree <= 2)
    val quad = Seq.tabulate(7)(i => (1L, i.toDouble, i * i * 1.0)).toDF("g", "t", "v")
    val pq = Seq((1L, 2.5), (1L, 3.5)).toDF("g", "t")
    Numerics.interpAkima(quad, pq, Seq("g"), "t", "v").collect().foreach { r =>
      val t = r.getDouble(1)
      assert(math.abs(r.getDouble(2) - t * t) < 1e-9, s"t=$t got ${r.getDouble(2)}")
    }
    // n=2 falls back to linear; exact knot hit; no extrapolation
    val two = Seq((1L, 0.0, 1.0), (1L, 2.0, 5.0)).toDF("g", "t", "v")
    val out = Numerics.interpAkima(two,
      Seq((1L, 1.0), (1L, 2.0), (1L, 3.0)).toDF("g", "t"), Seq("g"), "t", "v")
      .collect().map(r => r.getDouble(1) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out(1.0).exists(v => math.abs(v - 3.0) < 1e-12))
    assert(out(2.0).contains(5.0) && out(3.0).isEmpty)
    // makima also reproduces linear data; flat data gives flat output
    val lin2 = Seq.tabulate(6)(i => (1L, i.toDouble, 3.0 * i - 2)).toDF("g", "t", "v")
    Numerics.interpMakima(lin2, Seq((1L, 2.25)).toDF("g", "t"),
      Seq("g"), "t", "v").collect().foreach { r =>
      assert(math.abs(r.getDouble(2) - (3.0 * 2.25 - 2)) < 1e-12) }
    val flat = Seq.tabulate(5)(i => (1L, i.toDouble, 7.0)).toDF("g", "t", "v")
    Numerics.interpMakima(flat, Seq((1L, 1.5)).toDF("g", "t"),
      Seq("g"), "t", "v").collect().foreach { r =>
      assert(r.getDouble(2) === 7.0) }  // f12=0 branch: slope 0, constant
  }

  test("differentiate matches numpy.gradient: exact for quadratics on nonuniform grids") {
    import org.apache.spark.sql.expressions.Window
    // f(x) = x^2 on x = [0, 1, 3, 4]: gradient 2x, EXACT under the
    // second-order stencils (interior everywhere; edge_order=2 edges too)
    val df = Seq((0.0, 0.0), (1.0, 1.0), (3.0, 9.0), (4.0, 16.0))
      .toDF("x", "f")
    val w = Window.orderBy("x")
    val e1 = df.withColumn("d", Numerics.differentiate(col("f"), col("x"), w))
      .orderBy("x").select("d").as[Double].collect()
    // interior points 2x (to fp rounding) even with gaps 1/2/1
    assert(math.abs(e1(1) - 2.0) < 1e-12 && math.abs(e1(2) - 6.0) < 1e-12)
    assert(e1(0) === 1.0 && e1(3) === 7.0) // one-sided first differences
    val e2 = df.withColumn("d",
      Numerics.differentiate(col("f"), col("x"), w, edgeOrder = 2))
      .orderBy("x").select("d").as[Double].collect()
    e2.zip(Seq(0.0, 2.0, 6.0, 8.0)).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-12, s"got $g want $w") } // 2x everywhere
    // two-point series: edge_order=2 falls back to the first difference
    val two = Seq((0.0, 0.0), (2.0, 4.0)).toDF("x", "f")
    val d2 = two.withColumn("d",
      Numerics.differentiate(col("f"), col("x"), w, edgeOrder = 2))
      .select("d").as[Double].collect()
    assert(d2.toSeq === Seq(2.0, 2.0))
  }

  test("Holt smoothing: hand-stepped integer recursion, truncating division") {
    import graft.numerics.Holt
    val df = Seq((1L, 1L, 100L), (1L, 2L, 50L), (1L, 3L, 200L),
      (2L, 1L, 100L), (2L, 2L, 49L))
      .toDF("e", "t", "y")
    val out = Holt.smooth(df, "e", "t", "t", col("y"),
      alphaDen = 2L, betaDen = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // entity 1: l=(50+100)/2=75, b=(75-100)/5=-5; then
    // l=(200+70)/2=135, b=(135-75-20)/5=8
    assert(out((1L, 1L)) === ((100L, 0L, 100L)))
    assert(out((1L, 2L)) === ((75L, -5L, 70L)))
    assert(out((1L, 3L)) === ((135L, 8L, 143L)))
    // entity 2 pins TRUNCATING division on negatives: (74-100)/5 = -5
    // (floor would give -6), matching Spark div and DuckDB //
    assert(out((2L, 2L)) === ((74L, -5L, 69L)))
    // NULL values drop out of the series (skipna), never NPE the fold
    val withNull = Seq((1L, 1L, java.lang.Long.valueOf(100L)),
      (1L, 2L, null.asInstanceOf[java.lang.Long]),
      (1L, 3L, java.lang.Long.valueOf(50L))).toDF("e", "t", "y")
    val o2 = Holt.smooth(withNull, "e", "t", "t", col("y"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(o2 === Map(1L -> 100L, 2L -> 75L)) // 2 rows, null skipped
  }

  test("Holt-Winters: hand-stepped seasonal recursion with m=2 ring") {
    import graft.numerics.Holt
    // entity 1, m=2: init over y1=10,y2=30 -> l=20, b=0, ring=[-10,10]
    val df = Seq((1L, 1L, 10L), (1L, 2L, 30L), (1L, 3L, 14L),
      (1L, 4L, 40L), (9L, 1L, 5L)) // entity 9: too short, no output
      .toDF("e", "t", "y")
    val out = Holt.holtWinters(df, "e", "t", col("y"), m = 2,
        alphaDen = 2L, betaDen = 5L, gammaDen = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // t=3: sPrev=-10, fit=20+0-10=10; l=((14+10)+1*(20+0))/2=22;
    // b=((22-20)+4*0)/5=0 (trunc 2/5); s=((14-22)+3*(-10))/4=-9 (trunc)
    assert(out((1L, 3L)) === ((22L, 0L, -9L, 10L)))
    // t=4: sPrev=10, fit=22+0+10=32; l=((40-10)+(22+0))/2=26;
    // b=((26-22)+0)/5=0; s=((40-26)+3*10)/4=11
    assert(out((1L, 4L)) === ((26L, 0L, 11L, 32L)))
    assert(out.size === 2) // entity 9 (< m+1 points) emits nothing
  }
}
