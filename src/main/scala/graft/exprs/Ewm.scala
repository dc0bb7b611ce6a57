package graft.exprs

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exponentially-weighted moving statistics (ref
  * `xarray/computation/rolling_exp.py:49` `RollingExp`, numbagg kernels).
  *
  * EWM is an order-dependent linear recurrence (y_t = (1-α)·y_{t-1} + α·x_t
  * in the adjust=False form; weighted-mean normalization when adjust=True),
  * so it cannot be a plain window aggregate. The Spark-native shape is a
  * per-group sorted scan: `groupBy(dims).flatMapSortedGroups` — the same
  * contract as the reference's apply_ufunc with a preserved core dim
  * (SURVEY.md §2.12). Groups are bounded by the partition key, so the scan
  * parallelizes across groups at any scale.
  */
object Ewm {

  /** The per-group sorted scan every verb below runs: `groupCols` groups,
    * rows in `orderCols` order (ASC NULLS FIRST) within each group, and
    * `fold` applied to each group with the row positions of
    * `valueCols :+ idCol`. Emits (id, outCols...) with DOUBLE outputs. */
  private def scan(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                   valueCols: Seq[String], idCol: String, outCols: Seq[String])(
      fold: Seq[Int] => Iterator[Row] => Iterator[Row]): DataFrame = {
    val in = df.select((groupCols ++ orderCols ++ valueCols :+ idCol).distinct.map(col): _*)
    val outSchema = StructType(
      StructField("id", in.schema(idCol).dataType, nullable = false) +:
        outCols.map(StructField(_, DoubleType, nullable = true)))
    val f = fold((valueCols :+ idCol).map(in.columns.indexOf(_)))
    in.groupBy(groupCols.map(col): _*)
      .as[Row, Row](Encoders.row(StructType(groupCols.map(in.schema(_)))),
        Encoders.row(in.schema))
      .flatMapSortedGroups(orderCols.map(col): _*)((_, it) => f(it))(
        Encoders.row(outSchema))
  }

  /** EWM sum per group (ref `rolling_exp.py` RollingExp.sum):
    * s_t = (1-α)·s_{t-1} + x_t; NULLs contribute nothing but still decay
    * the state (same ignore_na=False positioning as the mean). */
  def ewmSum(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
             valueCol: String, idCol: String, alpha: Double): DataFrame =
    scan(df, groupCols, orderCols, Seq(valueCol), idCol, Seq("ewm_sum")) {
      case Seq(vIdx, iIdx) => it =>
        var acc = 0.0; var seen = false
        val decay = 1.0 - alpha
        it.map { r =>
          acc *= decay
          val out: Any =
            if (r.isNullAt(vIdx)) { if (seen) acc else null }
            else { acc += r.getDouble(vIdx); seen = true; acc }
          Row(r.get(iIdx), out)
        }
    }

  /** EWM variance per group (pandas `ewm.var(bias=False)` semantics,
    * adjust=true): with weights w_i = (1-α)^lag the four accumulators
    * A=Σw, B=Σw², S1=Σw·x, S2=Σw·x² decay each step (B by (1-α)²) and
    * the unbiased variance is (S2/A − (S1/A)²) · A²/(A²−B). NULL rows
    * decay the state without contributing; rows with fewer than two
    * observations emit NULL (denominator A²−B is 0 at one point). */
  def ewmVar(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
             valueCol: String, idCol: String, alpha: Double): DataFrame =
    scan(df, groupCols, orderCols, Seq(valueCol), idCol, Seq("ewm_var")) {
      case Seq(vIdx, iIdx) => it =>
        var a = 0.0; var b = 0.0; var s1 = 0.0; var s2 = 0.0; var cnt = 0L
        val decay = 1.0 - alpha
        val decay2 = decay * decay
        it.map { r =>
          a *= decay; b *= decay2; s1 *= decay; s2 *= decay
          if (!r.isNullAt(vIdx)) {
            val x = r.getDouble(vIdx)
            a += 1.0; b += 1.0; s1 += x; s2 += x * x; cnt += 1
          }
          val out: Any =
            if (cnt < 2) null
            else {
              val m = s1 / a
              (s2 / a - m * m) * ((a * a) / (a * a - b))
            }
          Row(r.get(iIdx), out)
        }
    }

  /** EWM covariance + correlation of two series per group (pandas
    * `ewm.cov(bias=False)` / `ewm.corr()` semantics, adjust=true): seven
    * decayed accumulators A, B, Sx, Sy, Sxy, Sxx, Syy. A pair contributes
    * only when BOTH values are non-null; a null pair still decays the
    * state. cov is bias-corrected by A²/(A²−B); corr uses the biased
    * forms (the corrections cancel). Zero-variance groups emit NULL corr
    * (DuckDB's /0 -> NULL would otherwise diverge from Java's NaN/Inf).
    * Emits (id, ewm_cov, ewm_corr). */
  def ewmCov(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
             xCol: String, yCol: String, idCol: String,
             alpha: Double): DataFrame =
    scan(df, groupCols, orderCols, Seq(xCol, yCol), idCol,
        Seq("ewm_cov", "ewm_corr")) {
      case Seq(xIdx, yIdx, iIdx) => it =>
        var a = 0.0; var b = 0.0
        var sx = 0.0; var sy = 0.0; var sxy = 0.0; var sxx = 0.0; var syy = 0.0
        var cnt = 0L
        val decay = 1.0 - alpha
        val decay2 = decay * decay
        it.map { r =>
          a *= decay; b *= decay2
          sx *= decay; sy *= decay; sxy *= decay; sxx *= decay; syy *= decay
          if (!r.isNullAt(xIdx) && !r.isNullAt(yIdx)) {
            val x = r.getDouble(xIdx); val y = r.getDouble(yIdx)
            a += 1.0; b += 1.0
            sx += x; sy += y; sxy += x * y; sxx += x * x; syy += y * y
            cnt += 1
          }
          val out: (Any, Any) =
            if (cnt < 2) (null, null)
            else {
              val mx = sx / a; val my = sy / a
              val covB = sxy / a - mx * my
              val varx = sxx / a - mx * mx
              val vary = syy / a - my * my
              val c = covB * ((a * a) / (a * a - b))
              val rr: Any =
                if (varx <= 0.0 || vary <= 0.0) null
                else covB / math.sqrt(varx * vary)
              (c, rr)
            }
          Row(r.get(iIdx), out._1, out._2)
        }
    }

  /** EWM mean with the full pandas parameter matrix (ref `rolling_exp.py:49`
    * passes adjust/ignore_na straight to the numbagg/pandas kernel):
    *  - adjust=false: recursive form y_t = (1-α)y_{t-1} + αx_t — the weight
    *    state resets to 1 after every observation instead of accumulating;
    *  - ignore_na=true: weights follow RELATIVE positions of the non-null
    *    values (a null row does not decay the state at all).
    * Same op order as pandas' ewma kernel (including the skip-update-when-
    * equal guard) so unit tests pin against pandas-computed values. The
    * (adjust=true, ignore_na=false) default stays in `ewmMean`, whose
    * num/den accumulation is bit-pinned by the q61 oracle. */
  def ewmMeanOpts(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                  valueCol: String, idCol: String, alpha: Double,
                  adjust: Boolean, ignoreNa: Boolean): DataFrame =
    scan(df, groupCols, orderCols, Seq(valueCol), idCol, Seq("ewm")) {
      case Seq(vIdx, iIdx) => it =>
        var avg = 0.0; var avgValid = false; var oldWt = 1.0
        val decay = 1.0 - alpha
        val newWt = if (adjust) 1.0 else alpha
        it.map { r =>
          val isNull = r.isNullAt(vIdx)
          if (avgValid) {
            if (!isNull || !ignoreNa) {
              oldWt *= decay
              if (!isNull) {
                val x = r.getDouble(vIdx)
                if (avg != x) avg = (oldWt * avg + newWt * x) / (oldWt + newWt)
                if (adjust) oldWt += newWt else oldWt = 1.0
              }
            }
          } else if (!isNull) { avg = r.getDouble(vIdx); avgValid = true; oldWt = 1.0 }
          val out: Any = if (avgValid) avg else null
          Row(r.get(iIdx), out)
        }
    }

  /** EWM mean with a TIME-based halflife over irregular observation times
    * (pandas `ewm(halflife=timedelta, times=...)`; ref `rolling_exp.py:49`
    * `window_type="halflife"` passthrough): each step decays the state by
    * d = 0.5^(Δt / halflife) where Δt is the actual gap to the previous
    * row, instead of a constant per-row factor. adjust=True normalized
    * form: num = num·d + x, den = den·d + 1, ewm = num/den. NULL values
    * decay the state without contributing (ignore_na=False positioning).
    * `timeCol` must be a numeric epoch column (e.g. `unix_micros(ts)`);
    * `halflife` is in the same unit. When Δt/halflife is integral the
    * decay is an exact power of two, so the q202 oracle replays the
    * recurrence bit-for-bit; fractional gaps are pinned in EwmSpec. */
  def ewmMeanTimes(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                   timeCol: String, valueCol: String, idCol: String,
                   halflife: Double): DataFrame =
    scan(df, groupCols, orderCols, Seq(timeCol, valueCol), idCol, Seq("ewm")) {
      case Seq(tIdx, vIdx, iIdx) => it =>
        var num = 0.0; var den = 0.0; var prevT = 0.0; var first = true
        it.map { r =>
          val t = r.get(tIdx) match {
            case l: java.lang.Long => l.toDouble
            case i: java.lang.Integer => i.toDouble
            case d: java.lang.Double => d.doubleValue()
            case x => x.toString.toDouble
          }
          val d = if (first) 1.0 else math.pow(0.5, (t - prevT) / halflife)
          prevT = t; first = false
          num *= d; den *= d
          val out: Any =
            if (r.isNullAt(vIdx)) { if (den > 0) num / den else null }
            else { num += r.getDouble(vIdx); den += 1.0; num / den }
          Row(r.get(iIdx), out)
        }
    }

  /** EWM mean per group (adjust=true, pandas/xarray default):
    * y_t = Σ (1-α)^(t-i) x_i / Σ (1-α)^(t-i). NULLs are skipped (weights
    * not advanced past NULLs — matching `ignore_na=False` semantics where
    * relative positions still decay). Emits (id, ewm). */
  def ewmMean(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
              valueCol: String, idCol: String, alpha: Double): DataFrame =
    scan(df, groupCols, orderCols, Seq(valueCol), idCol, Seq("ewm")) {
      case Seq(vIdx, iIdx) => it =>
        var num = 0.0; var den = 0.0
        val decay = 1.0 - alpha
        it.map { r =>
          num *= decay; den *= decay
          val out: Any =
            if (r.isNullAt(vIdx)) { if (den > 0) num / den else null }
            else { num += r.getDouble(vIdx); den += 1.0; num / den }
          Row(r.get(iIdx), out)
        }
    }
}
