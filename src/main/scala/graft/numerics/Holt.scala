package graft.numerics

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Holt linear-trend exponential smoothing (Holt 1957; the level+trend
  * member of the exponential-smoothing family next to [[graft.exprs.Ewm]]'s
  * single-parameter forms) — per entity, in `(ts, tiebreak)` order:
  *
  *   l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
  *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
  *
  * with l_1 = y_1, b_1 = 0 and the one-step-ahead fit l_t + b_t.
  *
  * Exactness contract: the recursion runs in INTEGER fixed-point — the
  * caller supplies y as fixed-point longs (e.g. `round(value·1e6)`),
  * α = 1/alphaDen and β = 1/betaDen are exact rationals, and each step is
  * `(y + (A−1)(l+b)) div A` / `((l−l_prev) + (B−1)b) div B` with
  * truncating integer division — which Java `/`, Spark `div` and
  * DuckDB `//` all share, INCLUDING on negative trend values. No float
  * rounding convention exists anywhere, so an external engine replays
  * the recursion bit-for-bit (the q273 PageRank convention applied to a
  * sequential fold).
  *
  * Distributed shape: `flatMapSortedGroups` on the entity — one hash
  * exchange, rows sorted within each entity only (no global sort); the
  * fold is one sequential pass per entity with O(1) state — the per-series
  * recurrence is inherently sequential (same topology as the MMR
  * greedy), and series count, not series length, carries the
  * parallelism at scale. */
object Holt {

  /** @param yFp value column already in fixed-point (cast to long)
    * @return (entity, rn, level_e, trend_e, fitted_e) — `_e` columns in
    *         the caller's fixed-point unit; `rn` is the 1-based position
    *         in the entity's series. */
  def smooth(df: DataFrame, entity: String, ts: String, tiebreak: String,
             yFp: Column, alphaDen: Long = 2L,
             betaDen: Long = 5L): DataFrame = {
    require(alphaDen >= 2 && betaDen >= 2,
      s"alphaDen/betaDen must be >= 2 (alpha, beta in (0, 1/2]), " +
        s"got $alphaDen/$betaDen")
    // NULL values drop out of the series before the recursion (the
    // reference's skipna contract) — a null would otherwise NPE the
    // primitive fold mid-task
    val in = df.select(col(entity).cast("long"), col(ts), col(tiebreak),
        yFp.cast("long").as("__y"))
      .filter(col(entity).isNotNull && col("__y").isNotNull)
    val outSchema = StructType(Seq(
      StructField(entity, LongType, nullable = false),
      StructField("rn", LongType, nullable = false),
      StructField("level_e", LongType, nullable = false),
      StructField("trend_e", LongType, nullable = false),
      StructField("fitted_e", LongType, nullable = false)))
    in.groupBy(col(entity))
      .as[Row, Row](Encoders.row(StructType(Seq(in.schema(entity)))),
        Encoders.row(in.schema))
      .flatMapSortedGroups(col(ts), col(tiebreak)) { (_, it) =>
        var l = 0L; var b = 0L; var rn = 0L
        it.map { row =>
          val e = row.getLong(0); val y = row.getLong(3)
          if (rn == 0L) {
            rn = 1L; l = y; b = 0L
          } else {
            rn += 1
            val lPrev = l
            l = (y + (alphaDen - 1) * (l + b)) / alphaDen
            b = ((l - lPrev) + (betaDen - 1) * b) / betaDen
          }
          Row(e, rn, l, b, l + b)
        }
      }(Encoders.row(outSchema))
  }

  /** Holt–Winters ADDITIVE seasonal smoothing (Winters 1960) — the
    * three-component member of the family, per entity with season
    * length m:
    *
    *   l_t = α·(y_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *   s_t = γ·(y_t − l_t)     + (1−γ)·s_{t−m}
    *
    * Initialization (the textbook simple scheme): l_m = mean(y_1..m)
    * (truncating), b_m = 0, s_i = y_i − l_m for i ≤ m; the recursion
    * emits from t = m+1 with the one-step fit l+b+s_{t−m}.
    *
    * Same exactness contract as [[smooth]]: pure truncating integer
    * fixed-point with α,β,γ = 1/den — an external engine replays the
    * recursion bit-for-bit by carrying the m-slot seasonal ring as a
    * list in a recursive CTE. Same distributed shape: series count
    * carries the parallelism; the per-series fold is O(1) state plus
    * the m-slot ring. */
  def holtWinters(df: DataFrame, entity: String, ts: String,
                  yFp: Column, m: Int, alphaDen: Long = 2L,
                  betaDen: Long = 5L, gammaDen: Long = 4L): DataFrame = {
    require(m >= 2, s"season length m must be >= 2, got $m")
    require(alphaDen >= 2 && betaDen >= 2 && gammaDen >= 2,
      "smoothing denominators must be >= 2")
    val in = df.select(col(entity).cast("long"), col(ts),
        yFp.cast("long").as("__y"))
      .filter(col(entity).isNotNull && col("__y").isNotNull)
    val outSchema = StructType(Seq(
      StructField(entity, LongType, nullable = false),
      StructField("rn", LongType, nullable = false),
      StructField("level_e", LongType, nullable = false),
      StructField("trend_e", LongType, nullable = false),
      StructField("season_e", LongType, nullable = false),
      StructField("fitted_e", LongType, nullable = false)))
    in.groupBy(col(entity))
      .as[Row, Row](Encoders.row(StructType(Seq(in.schema(entity)))),
        Encoders.row(in.schema))
      .flatMapSortedGroups(col(ts)) { (_, it) =>
        var rn = 0L
        var l = 0L; var b = 0L
        val buf = new scala.collection.mutable.ArrayBuffer[Long](m)
        var ring: Array[Long] = null
        var ringPos = 0
        it.flatMap { row =>
          val e = row.getLong(0); val y = row.getLong(2)
          rn += 1
          if (ring == null) {
            buf += y
            if (buf.size == m) {
              l = buf.sum / m // truncating init mean
              b = 0L
              ring = buf.map(_ - l).toArray
              ringPos = 0
            }
            Iterator.empty
          } else {
            val sPrevM = ring(ringPos)
            val lPrev = l
            val fitted = l + b + sPrevM
            l = ((y - sPrevM) + (alphaDen - 1) * (l + b)) / alphaDen
            b = ((l - lPrev) + (betaDen - 1) * b) / betaDen
            val sNew = ((y - l) + (gammaDen - 1) * sPrevM) / gammaDen
            ring(ringPos) = sNew
            ringPos = (ringPos + 1) % m
            Iterator.single(Row(e, rn, l, b, sNew, fitted))
          }
        }
      }(Encoders.row(outSchema))
  }
}
