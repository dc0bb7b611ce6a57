package graft

import graft.numerics.Stats

/** Hypothesis-test verbs vs driver-side brute force on small samples. */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  private val a = Seq(12.0, 15.0, 11.0, 14.0, 13.0, 16.0, 12.0)
  private val b = Seq(10.0, 9.0, 11.0, 8.0, 12.0, 10.0)

  private def df = (a.map(("A", _)) ++ b.map(("N", _)) ++
    Seq(("R", 99.0))) // a third group that must be ignored
    .toDF("g", "v")

  test("welchT matches the textbook computation") {
    def meanVar(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      (m, xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1))
    }
    val (ma, va) = meanVar(a); val (mb, vb) = meanVar(b)
    val qa = va / a.size; val qb = vb / b.size
    val t = (ma - mb) / math.sqrt(qa + qb)
    val dfW = math.pow(qa + qb, 2) /
      (math.pow(qa, 2) / (a.size - 1) + math.pow(qb, 2) / (b.size - 1))
    val r = Stats.welchT(df, "g", "v", "A", "N").head()
    assert(r.getLong(0) === a.size && r.getLong(1) === b.size)
    assert(math.abs(r.getDouble(2) - t) < 1e-7, s"t ${r.getDouble(2)} vs $t")
    assert(math.abs(r.getDouble(3) - dfW) < 1e-5)
  }

  test("chi2Independence matches brute force on a 2x2 table") {
    // x in {p,q}, y in {u,w} with known counts 10/20/30/40
    val rows = Seq.fill(10)(("p", "u")) ++ Seq.fill(20)(("p", "w")) ++
      Seq.fill(30)(("q", "u")) ++ Seq.fill(40)(("q", "w"))
    val d = rows.toDF("x", "y")
    val o = Map(("p", "u") -> 10.0, ("p", "w") -> 20.0,
      ("q", "u") -> 30.0, ("q", "w") -> 40.0)
    val n = 100.0
    val rTot = Map("p" -> 30.0, "q" -> 70.0)
    val cTot = Map("u" -> 40.0, "w" -> 60.0)
    val chi2 = o.map { case ((x, y), ob) =>
      val e = rTot(x) * cTot(y) / n; (ob - e) * (ob - e) / e
    }.sum
    val r = Stats.chi2Independence(d, "x", "y").head()
    assert(r.getLong(0) === 100L)
    assert(r.getLong(1) === 1L) // (2-1)*(2-1)
    assert(math.abs(r.getDouble(2) - chi2) < 1e-7)
  }

  test("ksTest D is the exact integer max gap on the n1*n2 denominator") {
    val pooled = (a ++ b).distinct.sorted
    val dNum = pooled.map { v =>
      math.abs(a.count(_ <= v).toLong * b.size - b.count(_ <= v).toLong * a.size)
    }.max
    val r = Stats.ksTest(df, "g", "v", "A", "N").head()
    assert(r.getLong(0) === a.size && r.getLong(1) === b.size)
    assert(r.getLong(2) === dNum)
  }

  test("anovaF matches brute force with the 4-dp group-term grid") {
    val groups = Seq(a, b, Seq(99.0)) // brute over all three levels
    val k = groups.size; val n = groups.map(_.size).sum
    val s = groups.flatten.sum
    val q = groups.flatten.map(x => x * x).sum
    val gs = groups.map { xs =>
      BigDecimal(math.round(xs.sum * xs.sum / xs.size * 1e4)) / 1e4
    }.sum.toDouble
    val f = ((gs - s * s / n) / (k - 1)) / ((q - gs) / (n - k))
    val r = Stats.anovaF(df, "g", "v").head()
    assert(r.getLong(0) === k.toLong && r.getLong(1) === n.toLong)
    assert(math.abs(r.getDouble(2) - f) < 1e-6, s"F ${r.getDouble(2)} vs $f")
  }

  test("spearman rho (rank-rank pearson) matches brute force with ties") {
    import org.apache.spark.sql.functions._
    val xs = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0)
    val ys = Seq(2.0, 7.0, 1.0, 8.0, 2.0, 8.0, 1.0, 8.0)
    val d = xs.zip(ys).toDF("x", "y")
    def avgRanks(v: Seq[Double]): Seq[Double] = v.map { x =>
      v.count(_ < x) + (v.count(_ == x) + 1) / 2.0
    }
    val rx = avgRanks(xs); val ry = avgRanks(ys)
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.size.toDouble
      val (sx, sy) = (a.sum, b.sum)
      val sxy = a.zip(b).map { case (p, q) => p * q }.sum
      val sxx = a.map(p => p * p).sum; val syy = b.map(q => q * q).sum
      (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    }
    val expected = pearson(rx, ry)
    val got = graft.agg.Rank.avgRank(
        graft.agg.Rank.avgRank(d, "x", "rx"), "y", "ry")
      .agg(graft.numerics.Numerics.corrP(col("rx"), col("ry")).as("rho"))
      .head().getDouble(0)
    assert(math.abs(got - expected) < 1e-12, s"$got vs $expected")
  }

  test("avgRankMap (two-level prefix) equals avgRank (ordinal average) " +
    "value for value, ties included") {
    import org.apache.spark.sql.functions._
    val vals = Seq(5.0, 1.0, 3.0, 3.0, 9.0, 1.0, 7.0, 3.0, 12.0, 5.0)
    val d = vals.toDF("v")
    val viaOrdinals = graft.agg.Rank.avgRank(d, "v", "r")
      .select("v", "r").distinct().orderBy("v")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val viaMap = graft.agg.Rank.avgRankMap(d, "v", x => floor(x / 4))
      .select(col("__v"), col("__r")).orderBy("__v")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(viaMap == viaOrdinals)
  }

  test("avgRank and avgRankMap leave NULL values unranked and uncounted") {
    import org.apache.spark.sql.functions._
    // bottleneck nanrankdata: the missing value gets no rank and takes
    // no ordinal, so [NULL, 1, 2, 2] ranks [NULL, 1, 2.5, 2.5]
    val d = Seq(None, Some(1.0), Some(2.0), Some(2.0)).toDF("v")
    def ranks(pct: Boolean): Seq[Option[Double]] =
      graft.agg.Rank.avgRank(d, "v", "r", pct)
        .orderBy(col("v").asc_nulls_first).select("r").as[Option[Double]]
        .collect().toSeq
    assert(ranks(pct = false) === Seq(None, Some(1.0), Some(2.5), Some(2.5)))
    // pct divides by the non-NULL count (3)
    assert(ranks(pct = true) ===
      Seq(None, Some(1.0 / 3), Some(2.5 / 3), Some(2.5 / 3)))
    val viaMap = graft.agg.Rank.avgRankMap(d, "v", x => floor(x))
      .select("__v", "__r").orderBy("__v").as[(Double, Double)]
      .collect().toSeq
    assert(viaMap === Seq((1.0, 1.0), (2.0, 2.5)))
  }

  test("kruskalWallis matches brute-force tie-corrected H over 3 groups") {
    val c = Seq(9.0, 14.0, 12.0, 7.0, 15.0)
    val all = a.map((_, "A")) ++ b.map((_, "N")) ++ c.map((_, "R"))
    val ranks = all.map { case (v, g) =>
      val less = all.count(_._1 < v); val eq = all.count(_._1 == v)
      (g, less + (eq + 1) / 2.0)
    }
    val n = all.size.toDouble
    val groups = Seq("A" -> a.size, "N" -> b.size, "R" -> c.size)
    val s = groups.map { case (g, ni) =>
      val ri = ranks.filter(_._1 == g).map(_._2).sum
      ri * ri / ni
    }.sum
    val h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    val tie3 = all.map(_._1).groupBy(identity).values
      .map(_.size).map(t => t.toLong * t * t - t).sum
    val hc = h / (1.0 - tie3 / (n * n * n - n))
    val d3 = (a.map(("A", _)) ++ b.map(("N", _)) ++ c.map(("R", _)) ++
      Seq(("X", 1234.0))) // a fourth level that must be ignored
      .toDF("g", "v")
    val r = Stats.kruskalWallis(d3, "g", "v", Seq("A", "N", "R")).head()
    assert(r.getLong(0) === a.size && r.getLong(1) === b.size &&
      r.getLong(2) === c.size)
    assert(math.abs(r.getDouble(3) - hc) < 1e-7,
      s"${r.getDouble(3)} vs $hc")
  }

  test("mannWhitney matches brute-force average-tie ranks") {
    val all = (a.map((_, "A")) ++ b.map((_, "N")))
    val ranks = all.map { case (v, g) =>
      val less = all.count(_._1 < v); val eq = all.count(_._1 == v)
      (g, less + (eq + 1) / 2.0)
    }
    val r1 = ranks.filter(_._1 == "A").map(_._2).sum
    val u1 = r1 - a.size * (a.size + 1) / 2.0
    val n1 = a.size.toDouble; val n2 = b.size.toDouble; val n = n1 + n2
    val tieSizes = all.map(_._1).groupBy(identity).values.map(_.size)
    val tie3 = tieSizes.map(t => t.toLong * t * t - t).sum
    val sigma = math.sqrt(n1 * n2 / 12.0 * ((n + 1) - tie3 / (n * (n - 1))))
    val z = (u1 - n1 * n2 / 2.0) / sigma
    val r = Stats.mannWhitney(df, "g", "v", "A", "N").head()
    assert(r.getLong(0) === a.size && r.getLong(1) === b.size)
    assert(r.getLong(2) === (2 * u1).toLong, "u1_x2")
    assert(r.getLong(3) === (2 * (n1 * n2 - u1)).toLong, "u2_x2")
    assert(math.abs(r.getDouble(4) - z) < 1e-7)
  }

  test("twoPropZBattery matches the brute-force pooled z per group") {
    import org.apache.spark.sql.functions._
    // (group, success) with deliberately different rates per group
    val rows = Seq.tabulate(60) { i =>
      val g = "G" + (i % 3)
      val succ = (i % 3, i % 5) match {
        case (0, r) => r < 4 // 80%
        case (1, r) => r < 2 // 40%
        case (_, r) => r < 1 // 20%
      }
      (g, succ)
    }
    val d = rows.toDF("g", "s")
    val got = Stats.twoPropZBattery(d, "g", col("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDecimal(4).doubleValue)).toMap
    val nn = rows.size.toDouble
    val kk = rows.count(_._2).toDouble
    for (g <- Seq("G0", "G1", "G2")) {
      val n = rows.count(_._1 == g).toDouble
      val k = rows.count(r => r._1 == g && r._2).toDouble
      val pPool = kk / nn
      val z = (k / n - (kk - k) / (nn - n)) /
        math.sqrt(pPool * (1 - pPool) * (1 / n + 1 / (nn - n)))
      val (gn, gk, gz, gp) = got(g)
      assert(gn == n.toLong && gk == k.toLong)
      assert(math.abs(gz - z) < 1e-7, s"$g z: $gz vs $z")
      // A&S 26.2.17 tail is accurate to ~7.5e-8; two-sided doubles that
      val pRef = {
        val t = 1.0 / (1.0 + 0.2316419 * math.abs(z))
        2.0 * (0.3989422804014327 * math.exp(-z * z / 2.0) *
          (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 +
            t * (-1.821255978 + t * 1.330274429))))))
      }
      assert(math.abs(gp - pRef) < 1e-6, s"$g p: $gp vs $pRef")
    }
  }

  test("benjaminiHochberg reproduces the textbook step-up rejections") {
    import org.apache.spark.sql.functions._
    // Classic m=10 example at alpha=0.05: reject ranks 1..4
    val ps = Seq(
      ("h1", "0.00017"), ("h2", "0.00448"), ("h3", "0.00671"),
      ("h4", "0.00907"), ("h5", "0.01220"), ("h6", "0.33626"),
      ("h7", "0.39341"), ("h8", "0.53882"), ("h9", "0.58125"),
      ("h10", "0.98617"))
    val d = ps.toDF("id", "p")
      .select(col("id"), col("p").cast("decimal(18,8)").as("p"))
    val out = Stats.benjaminiHochberg(d, "id", "p", 1, 20)
      .select("id", "rank", "rejected").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // p_(4)=0.00907 <= 4/10*0.05=0.02; p_(5)=0.0122 > 0.025? no:
    // 0.0122 <= 5/10*0.05 = 0.025 → k_max = 5; p_(6)=0.33626 > 0.03
    for ((id, (rk, rej)) <- out)
      assert(rej == (rk <= 5L), s"$id rank=$rk rejected=$rej")
    assert(out("h5") == (5L, true) && out("h6") == (6L, false))
    // rank order follows ascending p with id tiebreak
    assert(out("h1")._1 == 1L && out("h10")._1 == 10L)
  }
}
