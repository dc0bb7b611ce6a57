package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{CFDecode, Tables}

/** cftime calendar family (SURVEY.md §2.9): 360_day / julian / all_leap
  * decode + encode roundtrip and convert_calendar-to-standard (ref
  * `coding/times.py:535` cftime decode, `coding/cftime_offsets.py`
  * calendar month lengths, `core/dataset.py:10011` convert_calendar).
  *
  * All calendar math is integer column arithmetic (no UDF), so at scale it
  * folds into the scan's whole-stage-codegen. The DuckDB oracle replays the
  * identical integer formulas; the month-from-doy CASE chains on both sides
  * are generated from the same month-start tables.
  */
object QueriesCalendar extends QueryFamily {

  private val startsNoLeap = Seq(0, 31, 59, 90, 120, 151, 181, 212, 243, 273,
    304, 334, 365)
  private val startsLeap = Seq(0, 31, 60, 91, 121, 152, 182, 213, 244, 274,
    305, 335, 366)

  /** CASE mapping a 0-based doy expression to month 1-12. */
  private def sqlMonth(doy: String, starts: Seq[Int]): String =
    (0 until 11).map(i => s"WHEN $doy < ${starts(i + 1)} THEN ${i + 1}")
      .mkString("CASE ", " ", " ELSE 12 END")

  /** CASE mapping a 0-based doy expression to day-of-month 1-31. */
  private def sqlDay(doy: String, starts: Seq[Int]): String =
    (0 until 11).map(i =>
      s"WHEN $doy < ${starts(i + 1)} THEN $doy - ${starts(i)} + 1")
      .mkString("CASE ", " ", s" ELSE $doy - ${starts(11)} + 1 END")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q119_cftime_calendars" -> ((s, dir) => {
      // Tables.events, not the raw parquet read: in old drops events.ts
      // is TIMESTAMP(NANOS), a raw INT64 until Tables.events decodes it
      // (the ts column itself is pruned away below).
      val base = Tables.events(s, dir)
        .select((col("event_id") % 150000L).as("days")).distinct()
      // Materialize each decoded struct once, then project fields — avoids
      // Catalyst textually duplicating the CASE chains per field.
      val dec = base.select(col("days"),
        CFDecode.cal360Decode(col("days"), 2000).as("c"),
        CFDecode.julianDecode(col("days"), 2000).as("j"),
        CFDecode.allLeapDecode(col("days"), 2000).as("a"))
      val flat = dec.select(col("days"),
        col("c.year").as("y360"), col("c.month").as("m360"), col("c.day").as("d360"),
        col("j.year").as("yjul"), col("j.month").as("mjul"), col("j.day").as("djul"),
        col("a.year").as("yal"), col("a.month").as("mal"), col("a.day").as("dal"))
      flat.select(col("*"),
        CFDecode.cal360Encode(col("y360"), col("m360"), col("d360"), 2000).as("rt360"),
        CFDecode.julianEncode(col("yjul"), col("mjul"), col("djul"), 2000).as("rtjul"),
        CFDecode.allLeapEncode(col("yal"), col("mal"), col("dal"), 2000).as("rtal"),
        // ISO strings, not DateType: a NULL date renders as NaT on the
        // oracle (pandas datetime64) side but None on the Spark side, so
        // the drop-semantics NULLs only hash-match as strings.
        date_format(CFDecode.toStandardDate(col("yjul"), col("mjul"),
          col("djul")), "yyyy-MM-dd").as("std_jul"),
        date_format(CFDecode.toStandardDate(col("y360"), col("m360"),
          col("d360")), "yyyy-MM-dd").as("std_360"))
    }),

    // proleptic_gregorian decode/encode + convert_calendar INTO it (ref
    // `coding/times.py` standard-calendar path; drop semantics for dates
    // the target lacks, e.g. all_leap Feb 29 of a non-leap year). Spark's
    // DateType IS proleptic Gregorian, so the codec is native date math.
    "q170_cftime_proleptic" -> ((s, dir) => {
      val base = Tables.events(s, dir)
        .select((col("event_id") % 150000L).as("days")).distinct()
      val dec = base.select(col("days"),
        CFDecode.prolepticDecode(col("days"), 2000).as("p"),
        CFDecode.allLeapDecode(col("days"), 2000).as("a"))
      val flat = dec.select(col("days"),
        col("p.year").as("yp"), col("p.month").as("mp"),
        col("p.day").as("dp"), col("p.doy").as("doyp"),
        col("a.year").as("ya"), col("a.month").as("ma"),
        col("a.day").as("da"))
      flat.select(col("*"),
        CFDecode.prolepticEncode(col("yp"), col("mp"), col("dp"), 2000)
          .as("rtp"),
        CFDecode.convertCalendar(col("ya"), col("ma"), col("da"),
          "proleptic_gregorian", 2000).as("conv"))
    }),

    // cftime_range over the offset family (ref `coding/cftime_offsets.py`
    // MonthBegin/MonthEnd/QuarterBegin/QuarterEnd/YearBegin/YearEnd/Day +
    // n-multiples): 24 periods of each anchored freq in both a real
    // calendar (proleptic) and a fixed-length one (noleap)
    "q170b_cftime_range_freqs" -> ((s, dir) => {
      import s.implicits._
      val freqs = Seq("MS", "ME", "QS", "QE", "YS", "YE", "3D")
      val rows = for {
        cal <- Seq("proleptic_gregorian", "noleap")
        f <- freqs
        (d, i) <- CFDecode.cftimeRange(cal, 2000, 2001, 24, f).zipWithIndex
      } yield (cal, f, i.toLong, d)
      rows.toDF("calendar", "freq", "i", "day")
    }),

    // interp_calendar (ref `coding/calendar_ops.py:190`): source series on
    // a noleap time axis, target on the standard calendar — both become
    // DECIMAL YEARS (noleap: exactly year + days/365) and the values
    // linearly interpolate onto the target axis. Composition of the
    // calendar codecs with the as-of interp pipeline; no new shuffle shape.
    "q124_interp_calendar" -> ((s, dir) => {
      import graft.model.XDataset.exactAvg
      import graft.numerics.Numerics
      import graft.functions.DtFns
      val ev = Tables.events(s, dir)
      val series = ev
        .select(col("event_type"), (col("event_id") % 3650L).as("days"),
          col("value"))
        .groupBy("event_type", "days").agg(exactAvg(col("value")).as("v"))
        .withColumn("x", lit(2000.0) + col("days").cast("double") / 365.0)
        .select("event_type", "x", "v")
      val dates = s.sql(
        """SELECT explode(sequence(to_date('2000-01-15'),
             to_date('2009-12-15'), interval 1 month)) AS d""")
      val probes = ev.select("event_type").distinct()
        .crossJoin(dates)
        .withColumn("x", DtFns.decimalYear(col("d")))
      Numerics.interpLinear(series, probes, by = Seq("event_type"),
          t = "x", v = "v")
        .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("d"),
          col("v_interp"))
    }),

    // date_range_like (ref `coding/cftime_offsets.py:1553`): the orders
    // table's month-end axis (standard calendar, freq inferred = ME),
    // re-expressed in noleap and 360_day. The span derives from the data
    // via a 1-row agg (bounded driver state, like the other audited
    // collects); the output is a generated axis grid, the reference's
    // exact shape. Epoch 1988 keeps all day counts positive.
    "q237_date_range_like" -> ((s, dir) => {
      import s.implicits._
      val b = Tables.orders(s, dir)
        .agg(min(trunc(col("o_orderdate"), "month")).as("m0"),
             max(trunc(col("o_orderdate"), "month")).as("m1"))
        .head()
      val (m0, m1) = (b.getDate(0).toLocalDate, b.getDate(1).toLocalDate)
      def kOf(d: java.time.LocalDate): Int =
        (d.getYear - 1988) * 12 + d.getMonthValue - 1
      val src = (kOf(m0) to kOf(m1)).map { k =>
        CFDecode.monthEndDay("proleptic_gregorian", 1988,
          1988 + k / 12, k % 12 + 1)
      }
      val rows = for {
        cal <- Seq("noleap", "360_day")
        (d, i) <- CFDecode.dateRangeLike(src, "proleptic_gregorian", cal,
          1988).zipWithIndex
      } yield (cal, i.toLong, d)
      rows.toDF("calendar", "i", "day")
    })
  )

  /** Noleap month-start day count since epoch 2000 for SQL month index
    * expression `k` (startYear folds in at the call site). */
  private def nlMonthStart(k: String): String = {
    val cases = (0 until 12).map(i =>
      s"WHEN ${i} THEN ${startsNoLeap(i)}").mkString(" ")
    s"((1 + ($k) // 12) * 365 + CASE (($k) % 12) $cases END)"
  }

  val oracles: Map[String, String] = Map(

    "q170_cftime_proleptic" -> {
      val mAl = sqlMonth("doyal", startsLeap)
      val dAl = sqlDay("doyal", startsLeap)
      s"""WITH b AS (SELECT DISTINCT event_id % 150000 AS days FROM events),
        p AS (SELECT days, DATE '2000-01-01' + CAST(days AS INT) AS dt
          FROM b),
        f AS (SELECT days,
          CAST(year(dt) AS INT) AS yp, CAST(month(dt) AS INT) AS mp,
          CAST(day(dt) AS INT) AS dp, CAST(dayofyear(dt) AS INT) AS doyp,
          CAST(days // 366 AS INT) + 2000 AS ya,
          CAST(days % 366 AS INT) AS doyal
        FROM p),
        g AS (SELECT days, yp, mp, dp, doyp, ya,
          $mAl AS ma, $dAl AS da FROM f)
        SELECT days, yp, mp, dp, doyp, ya,
          CAST(ma AS INT) AS ma, CAST(da AS INT) AS da,
          datediff('day', DATE '2000-01-01', make_date(yp, mp, dp)) AS rtp,
          CASE WHEN da <= (CASE WHEN ma IN (1,3,5,7,8,10,12) THEN 31
                 WHEN ma IN (4,6,9,11) THEN 30
                 WHEN ((ya % 4 = 0 AND ya % 100 <> 0) OR ya % 400 = 0)
                   THEN 29 ELSE 28 END)
            THEN datediff('day', DATE '2000-01-01', make_date(ya, ma, da))
          END AS conv
        FROM g""".stripMargin
    },

    "q170b_cftime_range_freqs" -> {
      // proleptic arm: native DuckDB date arithmetic; noleap arm: the
      // fixed-length closed form, both replayed independently
      val pro = Seq(
        "MS" -> "DATE '2001-01-01' + to_months(CAST(i AS INT))",
        "ME" -> "DATE '2001-01-01' + to_months(CAST(i + 1 AS INT)) - to_days(1)",
        "QS" -> "DATE '2001-01-01' + to_months(CAST(3 * i AS INT))",
        "QE" -> "DATE '2001-01-01' + to_months(CAST(3 * i + 3 AS INT)) - to_days(1)",
        "YS" -> "DATE '2001-01-01' + to_years(CAST(i AS INT))",
        "YE" -> "DATE '2001-01-01' + to_years(CAST(i + 1 AS INT)) - to_days(1)",
        "3D" -> "DATE '2001-01-01' + to_days(CAST(3 * i AS INT))")
        .map { case (f, dt) =>
          s"""SELECT 'proleptic_gregorian' AS calendar, '$f' AS freq, i,
             datediff('day', DATE '2000-01-01', CAST($dt AS DATE)) AS day
           FROM (SELECT unnest(generate_series(0, 23)) AS i)"""
        }
      val nl = Seq(
        "MS" -> nlMonthStart("i"),
        "ME" -> s"(${nlMonthStart("i + 1")} - 1)",
        "QS" -> nlMonthStart("3 * i"),
        "QE" -> s"(${nlMonthStart("3 * i + 3")} - 1)",
        "YS" -> nlMonthStart("12 * i"),
        "YE" -> s"(${nlMonthStart("12 * i + 12")} - 1)",
        "3D" -> "(365 + 3 * i)")
        .map { case (f, e) =>
          s"""SELECT 'noleap' AS calendar, '$f' AS freq, i,
             CAST($e AS BIGINT) AS day
           FROM (SELECT unnest(generate_series(0, 23)) AS i)"""
        }
      (pro ++ nl).mkString(" UNION ALL ")
    },

    // replay: month index k since 1988-01 over the orders span; noleap
    // month-end = next month start - 1 (fixed-length closed form),
    // 360_day month-end = (k+1)*30 - 1. Both derive from the same table
    // the Spark side aggregated.
    "q237_date_range_like" -> {
      val nlCase = (0 until 12).map(i => s"WHEN $i THEN ${startsNoLeap(i)}")
        .mkString("CASE (k + 1) % 12 ", " ", " END")
      s"""WITH b AS (SELECT date_trunc('month', min(o_orderdate)) AS m0,
               date_trunc('month', max(o_orderdate)) AS m1 FROM orders),
         g AS (SELECT unnest(generate_series(0, datediff('month', m0, m1))) AS i,
               (year(m0) - 1988) * 12 + month(m0) - 1 AS k0 FROM b),
         k AS (SELECT i, k0 + i AS k FROM g)
         SELECT 'noleap' AS calendar, i,
           CAST(((k + 1) // 12) * 365 + $nlCase - 1 AS BIGINT) AS day FROM k
         UNION ALL
         SELECT '360_day' AS calendar, i,
           CAST(k * 30 + 29 AS BIGINT) AS day FROM k"""
    },
    "q119_cftime_calendars" -> {
      val mJulL = sqlMonth("doyjul", startsLeap)
      val mJulN = sqlMonth("doyjul", startsNoLeap)
      val dJulL = sqlDay("doyjul", startsLeap)
      val dJulN = sqlDay("doyjul", startsNoLeap)
      val mAl = sqlMonth("doyal", startsLeap)
      val dAl = sqlDay("doyal", startsLeap)
      s"""WITH b AS (SELECT DISTINCT event_id % 150000 AS days FROM events),
        d AS (SELECT days,
          CAST(days // 360 AS INT) + 2000 AS y360,
          CAST((days % 360) // 30 AS INT) + 1 AS m360,
          CAST(days % 30 AS INT) + 1 AS d360,
          CAST(days // 1461 AS INT) AS cyc,
          CAST(days % 1461 AS INT) AS rem,
          CAST(days // 366 AS INT) + 2000 AS yal,
          CAST(days % 366 AS INT) AS doyal
        FROM b),
        j AS (SELECT *,
          CASE WHEN rem < 366 THEN 0 WHEN rem < 731 THEN 1
               WHEN rem < 1096 THEN 2 ELSE 3 END AS yic,
          CASE WHEN rem < 366 THEN 0 WHEN rem < 731 THEN 366
               WHEN rem < 1096 THEN 731 ELSE 1096 END AS ystart
        FROM d),
        k AS (SELECT *, cyc * 4 + yic + 2000 AS yjul, rem - ystart AS doyjul
        FROM j),
        m AS (SELECT days, y360, m360, d360, yal, doyal, yjul, yic, doyjul,
          CASE WHEN yic = 0 THEN $mJulL ELSE $mJulN END AS mjul,
          CASE WHEN yic = 0 THEN $dJulL ELSE $dJulN END AS djul,
          $mAl AS mal, $dAl AS dal
        FROM k)
        SELECT days, y360, m360, d360, yjul, mjul, djul, yal, mal, dal,
          days AS rt360, days AS rtjul, days AS rtal,
          CASE WHEN djul <= (CASE WHEN mjul IN (1,3,5,7,8,10,12) THEN 31
                 WHEN mjul IN (4,6,9,11) THEN 30
                 WHEN (yjul % 4 = 0 AND yjul % 100 <> 0) OR yjul % 400 = 0
                   THEN 29 ELSE 28 END)
            THEN strftime(make_date(yjul, mjul, djul), '%Y-%m-%d') END AS std_jul,
          CASE WHEN d360 <= (CASE WHEN m360 IN (1,3,5,7,8,10,12) THEN 31
                 WHEN m360 IN (4,6,9,11) THEN 30
                 WHEN (y360 % 4 = 0 AND y360 % 100 <> 0) OR y360 % 400 = 0
                   THEN 29 ELSE 28 END)
            THEN strftime(make_date(y360, m360, d360), '%Y-%m-%d') END AS std_360
        FROM m"""
    },

    "q124_interp_calendar" ->
      """WITH series AS (
           SELECT event_type, event_id % 3650 AS days,
             CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / count(value) AS v
           FROM events GROUP BY 1, 2),
         s2 AS (SELECT event_type,
             2000.0 + CAST(days AS DOUBLE) / 365.0 AS x, v FROM series),
         dates AS (SELECT CAST(generate_series AS DATE) AS d FROM
           generate_series(DATE '2000-01-15', DATE '2009-12-15',
                           INTERVAL 1 MONTH)),
         probes AS (SELECT t.event_type, g.d,
             year(g.d) + CAST(dayofyear(g.d) - 1 AS DOUBLE) /
               (CASE WHEN (year(g.d) % 4 = 0 AND year(g.d) % 100 <> 0)
                       OR year(g.d) % 400 = 0 THEN 366 ELSE 365 END) AS x
           FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN dates g),
         back AS (SELECT p.event_type, p.d, p.x, s.v AS y0, s.x AS x0
           FROM probes p ASOF LEFT JOIN s2 s
           ON p.event_type = s.event_type AND p.x >= s.x),
         fwd AS (SELECT p.event_type, p.d, p.x, s.v AS y1, s.x AS x1
           FROM probes p ASOF LEFT JOIN s2 s
           ON p.event_type = s.event_type AND p.x <= s.x)
         SELECT b.event_type, strftime(b.d, '%Y-%m-%d') AS d,
           CASE WHEN x0 IS NULL OR x1 IS NULL THEN NULL
                WHEN x1 = x0 THEN y0
                ELSE y0 + (y1 - y0) * (b.x - x0) / (x1 - x0) END AS v_interp
         FROM back b JOIN fwd f ON b.event_type = f.event_type AND b.d = f.d"""
  )
}
