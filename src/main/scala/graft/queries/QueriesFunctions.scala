package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.{DtFns, StrFns}

/** Scalar-function operator queries (SURVEY.md §2.9): the `.str` and `.dt`
  * accessor batteries, type/NA scalar ops, 3-arg where, full_like,
  * date_range + infer_freq. */
object QueriesFunctions extends QueryFamily {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // .str accessor battery (ref `core/accessor_str.py:144-2899`)
    // array / map / json scalar-function family (SURVEY §2.9 last row):
    // JSON extraction two ways (typed from_json + path get_json_object),
    // array construct/fold/max/distinct, map construct/lookup — all
    // codegen'd column expressions over the events.props JSON column
    "q217_json_array_map" -> ((s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val ev = Tables.events(s, dir)
      val k = from_json(col("props"),
        StructType(Seq(StructField("k", IntegerType)))).getField("k")
      ev.select(col("event_id"), k.as("k"),
        get_json_object(col("props"), "$.k").cast("int").as("k2"))
        .withColumn("arr_sum", aggregate(
          array(col("k"), col("k") * 2, pmod(col("k"), lit(5))),
          lit(0), (a, x) => a + x))
        .withColumn("amax", array_max(array(col("k"), pmod(col("k"), lit(7)))))
        .withColumn("mval",
          element_at(map(lit("a"), col("k"), lit("b"), col("k") * 2), "b"))
        .withColumn("ndist",
          size(array_distinct(array(col("k"), col("k"), col("k") * 2))))
    }),

    "q36_str_battery" -> ((s, dir) => {
      val p = col("p_name")
      Tables.part(s, dir).select(
        col("p_partkey"),
        StrFns.len(p).as("len"),
        StrFns.upperS(p).as("upper"),
        StrFns.capitalize(p).as("cap"),
        StrFns.slice(p, 0, 5).as("slice05"),
        StrFns.startswith(p, "a").as("starts_a"),
        StrFns.containsLiteral(p, "li").as("has_li"),
        StrFns.countMatches(p, "[aeiou]").as("n_vowels"),
        StrFns.replaceRegex(p, "[aeiou]", "_").as("devowel"),
        StrFns.extract(p, "^(\\w+)", 1).as("first_word"),
        StrFns.zfill(col("p_partkey").cast("string"), 8).as("key_z"),
        StrFns.pad(p, 30, "right", ".").as("padded"),
        StrFns.strip(StrFns.slice(p, 0, 6)).as("stripped"),
        StrFns.find(p, "e").as("find_e"),
        size(StrFns.splitS(p, " ")).as("n_words"),
        StrFns.repeatS(StrFns.slice(p, 0, 2), 3).as("rep3"),
        StrFns.swapcase(p).as("swapped"))
    }),

    // .dt accessor battery (ref `core/accessor_dt.py:243-700`)
    "q37_dt_battery" -> ((s, dir) => {
      val t = col("o_orderdate")
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        DtFns.yearD(t).as("y"),
        DtFns.monthD(t).as("m"),
        DtFns.dayD(t).as("d"),
        DtFns.dayofweek(t).as("dow"),
        DtFns.dayofyearD(t).as("doy"),
        DtFns.quarterD(t).as("q"),
        DtFns.daysInMonth(t).as("dim"),
        DtFns.week(t).as("wk"),
        DtFns.isLeapYear(t).as("leap"),
        DtFns.isMonthStart(t).as("m_start"),
        DtFns.isMonthEnd(t).as("m_end"),
        DtFns.isQuarterStart(t).as("q_start"),
        DtFns.season(t).as("season"),
        round(DtFns.decimalYear(t), 6).as("dec_year"),
        DtFns.strftime(t, "yyyy-MM").as("ym"))
    }),

    // type/NA scalar ops: astype/clip/round/where3/full_like
    // (ref `common.py:1409/462`, `computation.py:682`, `common.py:1497`)
    "q38_scalar_ops" -> ((s, dir) => {
      val b = col("c_acctbal")
      Tables.customer(s, dir).select(
        col("c_custkey"),
        b.cast("long").as("bal_long"),
        least(greatest(b, lit(0.0)), lit(5000.0)).as("bal_clip"),
        // decimal multiply + decimal round: b/1000 in DOUBLE can land on a
        // .xx5 tie that Spark (decimal-repr HALF_UP) and DuckDB (binary
        // double) round differently — exact decimal arithmetic has no such
        // ties. + 0.0 still canonicalizes -0.0 -> 0.0 for the row hash.
        (round(b.cast(org.apache.spark.sql.types.DecimalType(12, 2)) *
          lit(new java.math.BigDecimal("0.001")), 2)
          .cast("double") + lit(0.0)).as("bal_k"),
        when(b > 0, lit("pos")).otherwise(lit("neg")).as("sign3"),
        lit(1.0).as("ones_like"),
        b.isNull.as("isnull"),
        abs(b).as("bal_abs"),
        floor(b / 100).cast("double").as("bal_floordiv"),
        pmod(col("c_custkey"), lit(7)).as("key_mod"))
    }),

    // date_range + infer_freq (ref `cftime_offsets.py:1221`,
    // `coding/frequencies.py:61`)
    "q39_date_range_infer" -> ((s, dir) => {
      val grid = s.sql(
        """SELECT explode(sequence(timestamp'2024-01-01 00:00:00',
             timestamp'2024-01-10 00:00:00', interval 6 hours)) AS t""")
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("t"))
      val diffs = grid.withColumn("step_sec",
        (unix_timestamp(col("t")) - unix_timestamp(lag(col("t"), 1).over(w)))
          .cast("double"))
      diffs.filter(col("step_sec").isNotNull)
        .groupBy(col("step_sec")).agg(count(lit(1)).as("n"))
    }),

    // .str accessor long tail (ref `accessor_str.py`: get_dummies:1048,
    // wrap:2223, rfind:1564, rpartition:2404, removeprefix:834,
    // slice_replace:2478, casefold:1088, isalnum:2899)
    "q121_str_tail" -> ((s, dir) => {
      val p = col("p_name")
      Tables.part(s, dir).select(
        col("p_partkey"),
        StrFns.getDummies(p, " ", Seq("red", "blue", "small", "hot")).as("dum"),
        StrFns.wrap(p, 8).as("wrapped"),
        StrFns.rfind(p, "e").as("rfind_e"),
        StrFns.rpartitionS(p, " ").as("rp"),
        StrFns.removeprefix(p, "small ").as("noprefix"),
        StrFns.removesuffix(p, "t").as("nosuffix"),
        StrFns.sliceReplace(p, 2, 5, "XX").as("slrep"),
        StrFns.casefold(p).as("cf"),
        StrFns.isAlnum(regexp_replace(p, " ", "")).as("alnum"))
        .select(col("p_partkey"),
          col("dum.red").as("dum_red"), col("dum.blue").as("dum_blue"),
          col("dum.small").as("dum_small"), col("dum.hot").as("dum_hot"),
          col("wrapped"), col("rfind_e"),
          col("rp.head").as("rp_head"), col("rp.sep").as("rp_sep"),
          col("rp.tail").as("rp_tail"),
          col("noprefix"), col("nosuffix"), col("slrep"), col("cf"),
          col("alnum"))
    }),

    // .dt accessor tail: arbitrary-freq floor/ceil/round (epoch-µs pmod
    // arithmetic, exact) + isocalendar (ref `accessor_dt.py:283,561`)
    "q122_dt_tail" -> ((s, dir) => {
      val t = col("ts")
      val us15 = 15L * 60L * 1000000L
      Tables.events(s, dir).select(
        col("event_id"),
        DtFns.floorFreq(t, us15).as("floor15"),
        DtFns.ceilFreq(t, us15).as("ceil15"),
        DtFns.roundFreq(t, us15).as("round15"),
        DtFns.isoYear(t).as("iso_y"),
        DtFns.isoWeek(t).as("iso_w"),
        DtFns.isoDay(t).as("iso_d"),
        DtFns.strftime(t, "HH:mm:ss").as("tod"),
        round(DtFns.totalSeconds(t, DtFns.floorDay(t)), 6).as("sec_of_day"))
    }),

    // vectorized (pointwise) indexing: sel with a points frame
    // (ref `dataset.py:3004` DataArray-valued indexers)
    "q123_sel_points" -> ((s, dir) => {
      import graft.model.XDataset
      val li = XDataset(Tables.lineitem(s, dir),
        dims = Seq("l_orderkey", "l_linenumber"))
      val points = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey").as("pt_id"),
          col("o_orderkey").as("ok"),
          (col("o_orderkey") % 4 + 1).cast("int").as("ln"))
      li.selPoints(points, Map("l_orderkey" -> "ok", "l_linenumber" -> "ln"))
        .df.select(col("pt_id"), col("l_quantity"), col("l_returnflag"))
    }),

    // ufunc battery 3 — the float-special tail of `xarray/ufuncs.py`
    // (copysign:201, ldexp:215, logaddexp:219, heaviside:212, hypot:213,
    // nextafter:227, spacing:175, rint:180, signbit:182, fmax/fmin/fmod,
    // float_power, isfinite/isinf/isnan, angle:242). libm outputs round
    // to 8 dp at the source (cross-engine policy); nextafter/spacing are
    // IEEE-exact bit steps, no rounding needed.
    "q162_ufunc_battery3" -> ((s, dir) => {
      import graft.exprs.MathExprs
      val q = col("l_quantity")
      Tables.lineitem(s, dir)
        .withColumn("x", col("l_discount") - 0.05)
        .withColumn("y",
          when(q > 40, lit(Double.NaN))
            .when(q > 25, lit(Double.PositiveInfinity)).otherwise(col("x")))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          when(col("x") < 0, -q).otherwise(q).as("copysign_qx"),
          (col("x") * pow(lit(2.0), col("l_linenumber"))).as("ldexp_xn"),
          round(log(exp(col("x")) + exp(q / 10)), 8).as("logaddexp"),
          round(log2(pow(lit(2.0), col("x")) + pow(lit(2.0), q / 10)), 8)
            .as("logaddexp2"),
          when(col("x") < 0, 0.0).when(col("x") === 0.0, 0.5)
            .otherwise(1.0).as("heaviside_x"),
          round(pow(q, 2.5), 4).as("float_power_q"),
          greatest(col("x"), col("l_tax") - 0.04).as("fmax_xt"),
          least(col("x"), col("l_tax") - 0.04).as("fmin_xt"),
          (col("x") % 0.03).as("fmod_x"),
          MathExprs.nextafter(col("x"), lit(1.0)).as("nextafter_x1"),
          MathExprs.spacing(col("x")).as("spacing_x"),
          bround(q / 7.0).as("rint_q7"),
          (col("x") < 0).as("signbit_x"),
          abs(col("x")).as("fabs_x"),
          (col("x") * 100).cast("long").cast("double").as("trunc_x100"),
          when(col("x") < 0, lit(3.14159265)).otherwise(0.0).as("angle_x"),
          (!isnan(col("y")) && col("y") =!= Double.PositiveInfinity &&
            col("y") =!= Double.NegativeInfinity).as("isfinite_y"),
          (col("y") === Double.PositiveInfinity ||
            col("y") === Double.NegativeInfinity).as("isinf_y"),
          isnan(col("y")).as("isnan_y"))
    }),

    // ufunc battery 4 — the integer/bitwise/logical tail of
    // `xarray/ufuncs.py` (gcd:211, lcm:214, bitwise_count:134,
    // bitwise_invert, shifts, and/or/xor, logical_*, comparisons,
    // maximum/minimum, isnat:168). All integer-exact — no float hazard.
    "q163_ufunc_battery4" -> ((s, dir) => {
      import graft.exprs.MathExprs
      val pk = col("l_partkey"); val sk = col("l_suppkey")
      val ln = col("l_linenumber").cast("long")
      val a = col("l_quantity") > 25; val b = col("l_discount") > 0.05
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        MathExprs.gcd(pk % 120, sk % 120).as("gcd_ps"),
        MathExprs.lcm(ln, lit(6L)).as("lcm_ln6"),
        bit_count(pk).cast("long").as("bitcnt_pk"),
        expr("~ CAST(l_linenumber AS BIGINT)").as("invert_ln"),
        shiftleft(ln, 2).as("lshift_ln"),
        shiftright(pk, 3).as("rshift_pk"),
        pk.bitwiseAND(sk).as("band_ps"),
        pk.bitwiseOR(sk).as("bor_ps"),
        pk.bitwiseXOR(sk).as("bxor_ps"),
        (a && b).as("land_ab"),
        (a || b).as("lor_ab"),
        (a =!= b).as("lxor_ab"),
        (!a).as("lnot_a"),
        greatest(pk % 100, sk % 100).as("maximum_ps"),
        least(pk % 100, sk % 100).as("minimum_ps"),
        (ln >= 4).as("ge_ln4"),
        (ln < 4).as("lt_ln4"),
        (pk % 2 === 0).as("eq_pk2"),
        (pk % 2 =!= sk % 2).as("ne_psk"),
        when(col("l_returnflag") === "N", lit(null).cast("timestamp"))
          .otherwise(col("l_shipdate")).isNull.as("isnat_ship"))
    }),

    // .str accessor tail 2 (ref `accessor_str.py`: extractall:626 — the
    // extra match dim becomes EXPLODED ROWS, the long-format analog of
    // xarray's new dimension; translate:1840; normalize:1879; rsplit:2404;
    // split n=2:2330; get(-1):283; istitle:2899; get_dummies NA mode:1048)
    "q164_str_tail2" -> ((s, dir) => {
      val p = col("p_name")
      Tables.part(s, dir)
        .select(col("p_partkey"), p,
          posexplode_outer(StrFns.extractAll(p, "([a-z]+)o", 1)))
        .select(
          col("p_partkey"), col("p_name"), col("pos"), col("col").as("m"),
          StrFns.translateS(p, "aeiou", "12345").as("devowel_map"),
          StrFns.normalizeUnicode(concat(p, lit("e\u0301")), "NFC")
            .as("nfc"),
          StrFns.rsplit1Head(p, " ").as("rsplit_head"),
          StrFns.rsplit1Tail(p, " ").as("rsplit_tail"),
          regexp_extract(p, "^([^ ]*) ?([^ ]*) ?(.*)$", 1).as("sp0"),
          regexp_extract(p, "^([^ ]*) ?([^ ]*) ?(.*)$", 2).as("sp1"),
          regexp_extract(p, "^([^ ]*) ?([^ ]*) ?(.*)$", 3).as("sp2"),
          p.substr(length(p), lit(1)).as("get_last"),
          StrFns.isTitle(p).as("istitle_p"),
          StrFns.isTitle(initcap(p)).as("istitle_cap"),
          StrFns.getDummies(
            when(col("p_partkey") % 10 === 0, lit(null).cast("string"))
              .otherwise(p), " ", Seq("red", "olive"))
            .getField("olive").as("dum_olive_na"))
    }),

    // .dt accessor tail 2 (ref `accessor_dt.py:660` TimedeltaAccessor
    // components + days_in_year:271 family): duration since year start
    // decomposed in exact epoch-µs arithmetic.
    "q165_dt_tail2" -> ((s, dir) => {
      val t = col("ts")
      val us = DtFns.tdMicrosBetween(t, date_trunc("YEAR", t))
      Tables.events(s, dir).select(
        col("event_id"),
        DtFns.tdDays(us).as("td_days"),
        DtFns.tdSeconds(us).as("td_seconds"),
        DtFns.tdMicroseconds(us).as("td_micros"),
        DtFns.tdTotalSeconds(us).as("td_total_sec"),
        DtFns.daysInYear(t).cast("int").as("days_in_year"),
        DtFns.isYearStart(t).as("y_start"),
        DtFns.isYearEnd(t).as("y_end"),
        DtFns.isQuarterEnd(t).as("q_end"))
    }),

    // complex dtype surface (SURVEY §1.3; Spark has no complex type):
    // struct<re,im> columns + field-wise IEEE arithmetic — product,
    // conjugate, |z|² and the complex quotient, all scan-stage exact
    "q279_complex_ops" -> ((s, dir) => {
      import graft.exprs.ComplexOps._
      val li = Tables.lineitem(s, dir)
      val z1 = complex(col("l_extendedprice") / 100, col("l_quantity"))
      val z2 = complex(lit(1.0) + col("l_tax"), col("l_discount"))
      val p = mul(z1, z2)
      val q = div(z1, z2)
      li.select(col("l_orderkey"), col("l_linenumber"),
        re(p).as("prod_re"), im(p).as("prod_im"),
        im(conj(z1)).as("conj_im"),
        abs2(z1).as("abs2"),
        re(q).as("quot_re"), im(q).as("quot_im"))
    }),

    // ufunc battery 5 — the remaining named tail of `xarray/ufuncs.py`
    // (ceil:150, floor:161, sqrt:186, square:187, sign:181, negative:176,
    // positive:177, reciprocal:179, conj:148, isreal/iscomplex:243-244,
    // add/subtract/multiply/divide/floor_divide/remainder:194-258,
    // greater:205, less_equal:221, fmax/fmin:202-203 NaN-IGNORING
    // semantics vs maximum's NaN propagation, heaviside:212 with a
    // non-default h0). All arithmetic is single-op IEEE (deterministic
    // across engines, no libm except sqrt which is IEEE-exact) — no
    // rounding grid needed; NaN never reaches an output column (fmax/fmin
    // resolve it, the propagation witness is a boolean).
    "q284_ufunc_battery5" -> ((s, dir) => {
      val q = col("l_quantity"); val t = col("l_tax") - 0.04
      Tables.lineitem(s, dir)
        .withColumn("x", col("l_discount") - 0.05)
        .withColumn("y",
          when(q > 40, lit(Double.NaN)).otherwise(col("l_discount") - 0.05))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          ceil(col("x") * 7).cast("long").as("ceil_x7"),
          floor(col("x") * 7).cast("long").as("floor_x7"),
          sqrt(q).as("sqrt_q"),
          (col("x") * col("x")).as("square_x"),
          signum(col("x")).cast("int").as("sign_x"),
          (-col("x")).as("negative_x"),
          col("x").as("positive_x"),
          (lit(1.0) / q).as("reciprocal_q"),
          col("x").as("conj_x"), // real conjugate is the identity
          lit(true).as("isreal_x"),
          lit(false).as("iscomplex_x"),
          (col("x") + q).as("add_xq"),
          (col("x") - q).as("subtract_xq"),
          (col("x") * q).as("multiply_xq"),
          (col("x") / q).as("divide_xq"),
          floor(q / lit(7.0)).cast("long").as("floordiv_q7"),
          // numpy remainder/mod: sign of the DIVISOR (python %), not the
          // C fmod battery-3 already pins — expressed as x - floor(x/m)*m
          (col("x") - floor(col("x") / lit(0.03)) * lit(0.03)).as("mod_py"),
          // fmax/fmin IGNORE NaN (numpy): the non-NaN operand wins
          when(isnan(col("y")), t).otherwise(greatest(col("y"), t)).as("fmax_nan"),
          when(isnan(col("y")), t).otherwise(least(col("y"), t)).as("fmin_nan"),
          // maximum/minimum PROPAGATE NaN — witnessed as a boolean so no
          // raw NaN reaches the hashed output
          isnan(greatest(col("y"), t)).as("maximum_prop_nan"),
          when(col("x") < 0, 0.0).when(col("x") === 0.0, lit(0.7))
            .otherwise(1.0).as("heaviside_h07"),
          (col("x") > 0.0).as("greater_x0"),
          (col("x") <= 0.0).as("lessequal_x0"))
    }),

    // .str accessor tail 3 (ref `accessor_str.py`: index:737 / rindex:758
    // — the raise-variants of find/rfind, exercised on rows where the
    // substring exists (the raise path is pinned by StrTailSpec); and the
    // THREE distinct unicode numeric predicates isdecimal:2856,
    // isdigit:2870, isnumeric:2884 — '²' is digit+numeric but not
    // decimal, '½' is numeric only, letters are none).
    "q285_str_tail3" -> ((s, dir) => {
      val p = col("p_name")
      Tables.part(s, dir)
        .filter(p.contains("o"))
        .withColumn("s_num", col("p_partkey").cast("string"))
        .withColumn("s_sup", concat(col("p_partkey").cast("string"), lit("²")))
        .withColumn("s_frac", concat(col("p_partkey").cast("string"), lit("½")))
        .select(
          col("p_partkey"), p,
          StrFns.index(p, "o").as("index_o"),
          StrFns.rindex(p, "o").as("rindex_o"),
          StrFns.isDecimalU(col("s_num")).as("dec_num"),
          StrFns.isDigitU(col("s_num")).as("dig_num"),
          StrFns.isNumericU(col("s_num")).as("num_num"),
          StrFns.isDecimalU(col("s_sup")).as("dec_sup"),
          StrFns.isDigitU(col("s_sup")).as("dig_sup"),
          StrFns.isNumericU(col("s_sup")).as("num_sup"),
          StrFns.isDecimalU(col("s_frac")).as("dec_frac"),
          StrFns.isDigitU(col("s_frac")).as("dig_frac"),
          StrFns.isNumericU(col("s_frac")).as("num_frac"),
          StrFns.isDecimalU(p).as("dec_name"),
          StrFns.isNumericU(lit("")).as("num_empty"))
    })
  )

  val oracles: Map[String, String] = Map(
    // json path extraction + the arithmetic the array/map expressions
    // reduce to (k >= 0 in the data, so pmod == %)
    "q217_json_array_map" ->
      """SELECT event_id, k, k AS k2, k + k * 2 + (k % 5) AS arr_sum,
           greatest(k, k % 7) AS amax, k * 2 AS mval,
           CASE WHEN k = 0 THEN 1 ELSE 2 END AS ndist
         FROM (SELECT event_id,
             CAST(json_extract(props, '$.k') AS INT) AS k
           FROM events)""",
    "q36_str_battery" ->
      """SELECT p_partkey,
         length(p_name) AS len,
         upper(p_name) AS upper,
         upper(substr(p_name, 1, 1)) || lower(substr(p_name, 2)) AS cap,
         substr(p_name, 1, 5) AS slice05,
         starts_with(p_name, 'a') AS starts_a,
         contains(p_name, 'li') AS has_li,
         length(regexp_replace(p_name, '[^aeiou]', '', 'g')) AS n_vowels,
         regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
         regexp_extract(p_name, '^(\w+)', 1) AS first_word,
         lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_z,
         rpad(p_name, 30, '.') AS padded,
         trim(substr(p_name, 1, 6)) AS stripped,
         instr(p_name, 'e') - 1 AS find_e,
         len(string_split(p_name, ' ')) AS n_words,
         repeat(substr(p_name, 1, 2), 3) AS rep3,
         translate(p_name,
           'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ',
           'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz') AS swapped
         FROM part""",
    "q37_dt_battery" ->
      """SELECT o_orderkey,
         year(o_orderdate) AS y,
         month(o_orderdate) AS m,
         day(o_orderdate) AS d,
         (dayofweek(o_orderdate) + 6) % 7 AS dow,
         dayofyear(o_orderdate) AS doy,
         quarter(o_orderdate) AS q,
         day(last_day(o_orderdate)) AS dim,
         weekofyear(o_orderdate) AS wk,
         (year(o_orderdate) % 4 = 0 AND year(o_orderdate) % 100 <> 0)
           OR year(o_orderdate) % 400 = 0 AS leap,
         day(o_orderdate) = 1 AS m_start,
         day(o_orderdate) = day(last_day(o_orderdate)) AS m_end,
         day(o_orderdate) = 1 AND month(o_orderdate) IN (1,4,7,10) AS q_start,
         CASE WHEN month(o_orderdate) IN (12,1,2) THEN 'DJF'
              WHEN month(o_orderdate) IN (3,4,5) THEN 'MAM'
              WHEN month(o_orderdate) IN (6,7,8) THEN 'JJA'
              ELSE 'SON' END AS season,
         round(year(o_orderdate) +
           CAST(dayofyear(o_orderdate) - 1 AS DOUBLE) /
           (CASE WHEN (year(o_orderdate) % 4 = 0 AND year(o_orderdate) % 100 <> 0)
                      OR year(o_orderdate) % 400 = 0 THEN 366 ELSE 365 END), 6)
           AS dec_year,
         strftime(o_orderdate, '%Y-%m') AS ym
         FROM orders""",
    "q38_scalar_ops" ->
      """SELECT c_custkey,
         CAST(trunc(c_acctbal) AS BIGINT) AS bal_long,
         least(greatest(c_acctbal, 0.0), 5000.0) AS bal_clip,
         CAST(round(CAST(c_acctbal AS DECIMAL(12,2)) * CAST(0.001 AS DECIMAL(4,3)),
           2) AS DOUBLE) + 0.0 AS bal_k,
         CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'neg' END AS sign3,
         1.0 AS ones_like,
         c_acctbal IS NULL AS isnull,
         abs(c_acctbal) AS bal_abs,
         floor(c_acctbal / 100) AS bal_floordiv,
         c_custkey % 7 AS key_mod
         FROM customer""",
    "q39_date_range_infer" ->
      """SELECT step_sec, count(*) AS n FROM (
           SELECT epoch(t) - lag(epoch(t)) OVER (ORDER BY t) AS step_sec
           FROM (SELECT generate_series AS t FROM
             generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-10',
                             INTERVAL 6 HOUR)))
         WHERE step_sec IS NOT NULL GROUP BY 1""",
    "q121_str_tail" ->
      """SELECT p_partkey,
         CASE WHEN list_contains(string_split(p_name, ' '), 'red')
              THEN 1 ELSE 0 END AS dum_red,
         CASE WHEN list_contains(string_split(p_name, ' '), 'blue')
              THEN 1 ELSE 0 END AS dum_blue,
         CASE WHEN list_contains(string_split(p_name, ' '), 'small')
              THEN 1 ELSE 0 END AS dum_small,
         CASE WHEN list_contains(string_split(p_name, ' '), 'hot')
              THEN 1 ELSE 0 END AS dum_hot,
         rtrim(regexp_replace(p_name, '(.{1,8})( +|$)', '\1' || chr(10), 'g'),
               chr(10)) AS wrapped,
         CASE WHEN instr(reverse(p_name), 'e') = 0 THEN -1
              ELSE length(p_name) - instr(reverse(p_name), 'e') END AS rfind_e,
         CASE WHEN instr(reverse(p_name), ' ') = 0 THEN ''
              ELSE substr(p_name, 1,
                length(p_name) - instr(reverse(p_name), ' ')) END AS rp_head,
         CASE WHEN instr(reverse(p_name), ' ') = 0 THEN ''
              ELSE ' ' END AS rp_sep,
         CASE WHEN instr(reverse(p_name), ' ') = 0 THEN p_name
              ELSE substr(p_name,
                length(p_name) - instr(reverse(p_name), ' ') + 2) END AS rp_tail,
         CASE WHEN starts_with(p_name, 'small ') THEN substr(p_name, 7)
              ELSE p_name END AS noprefix,
         CASE WHEN ends_with(p_name, 't')
              THEN substr(p_name, 1, length(p_name) - 1)
              ELSE p_name END AS nosuffix,
         substr(p_name, 1, 2) || 'XX' || substr(p_name, 6) AS slrep,
         lower(p_name) AS cf,
         regexp_matches(replace(p_name, ' ', ''), '^[A-Za-z0-9]+$') AS alnum
         FROM part""",
    "q122_dt_tail" ->
      """SELECT event_id,
         make_timestamp(epoch_us(ts) - epoch_us(ts) % 900000000) AS floor15,
         make_timestamp((epoch_us(ts) + 899999999)
           - (epoch_us(ts) + 899999999) % 900000000) AS ceil15,
         make_timestamp((epoch_us(ts) + 450000000)
           - (epoch_us(ts) + 450000000) % 900000000) AS round15,
         CAST(isoyear(ts) AS INT) AS iso_y,
         CAST(weekofyear(ts) AS INT) AS iso_w,
         CAST(isodow(ts) AS INT) AS iso_d,
         strftime(ts, '%H:%M:%S') AS tod,
         round((epoch_us(ts) - epoch_us(date_trunc('day', ts))) / 1e6, 6)
           AS sec_of_day
         FROM events""",
    "q123_sel_points" ->
      """SELECT o_orderkey AS pt_id, l_quantity, l_returnflag
         FROM orders
         JOIN lineitem ON l_orderkey = o_orderkey
           AND l_linenumber = CAST(o_orderkey % 4 + 1 AS INT)
         WHERE o_orderkey % 13 = 0""",
    "q162_ufunc_battery3" ->
      """SELECT l_orderkey, l_linenumber,
         CASE WHEN x < 0 THEN -l_quantity ELSE l_quantity END AS copysign_qx,
         x * pow(2.0, l_linenumber) AS ldexp_xn,
         round(ln(exp(x) + exp(l_quantity / 10)), 8) AS logaddexp,
         round(log2(pow(2.0, x) + pow(2.0, l_quantity / 10)), 8) AS logaddexp2,
         CASE WHEN x < 0 THEN 0.0 WHEN x = 0.0 THEN 0.5 ELSE 1.0 END
           AS heaviside_x,
         round(pow(l_quantity, 2.5), 4) AS float_power_q,
         greatest(x, l_tax - 0.04) AS fmax_xt,
         least(x, l_tax - 0.04) AS fmin_xt,
         x % 0.03 AS fmod_x,
         nextafter(x, 1.0) AS nextafter_x1,
         CASE WHEN x < 0 THEN nextafter(x, '-infinity'::DOUBLE) - x
              ELSE nextafter(x, 'infinity'::DOUBLE) - x END AS spacing_x,
         floor(l_quantity / 7.0 + 0.5) AS rint_q7,
         x < 0 AS signbit_x,
         abs(x) AS fabs_x,
         trunc(x * 100) AS trunc_x100,
         CASE WHEN x < 0 THEN 3.14159265 ELSE 0.0 END AS angle_x,
         isfinite(y) AS isfinite_y,
         isinf(y) AS isinf_y,
         isnan(y) AS isnan_y
         FROM (SELECT *, l_discount - 0.05 AS x,
             CASE WHEN l_quantity > 40 THEN 'nan'::DOUBLE
                  WHEN l_quantity > 25 THEN 'infinity'::DOUBLE
                  ELSE l_discount - 0.05 END AS y
           FROM lineitem)""",
    "q163_ufunc_battery4" ->
      """SELECT l_orderkey, l_linenumber,
         gcd(l_partkey % 120, l_suppkey % 120) AS gcd_ps,
         lcm(CAST(l_linenumber AS BIGINT), 6) AS lcm_ln6,
         CAST(bit_count(l_partkey) AS BIGINT) AS bitcnt_pk,
         ~ CAST(l_linenumber AS BIGINT) AS invert_ln,
         CAST(l_linenumber AS BIGINT) << 2 AS lshift_ln,
         l_partkey >> 3 AS rshift_pk,
         l_partkey & l_suppkey AS band_ps,
         l_partkey | l_suppkey AS bor_ps,
         xor(l_partkey, l_suppkey) AS bxor_ps,
         (l_quantity > 25 AND l_discount > 0.05) AS land_ab,
         (l_quantity > 25 OR l_discount > 0.05) AS lor_ab,
         ((l_quantity > 25) <> (l_discount > 0.05)) AS lxor_ab,
         NOT (l_quantity > 25) AS lnot_a,
         greatest(l_partkey % 100, l_suppkey % 100) AS maximum_ps,
         least(l_partkey % 100, l_suppkey % 100) AS minimum_ps,
         CAST(l_linenumber AS BIGINT) >= 4 AS ge_ln4,
         CAST(l_linenumber AS BIGINT) < 4 AS lt_ln4,
         l_partkey % 2 = 0 AS eq_pk2,
         l_partkey % 2 <> l_suppkey % 2 AS ne_psk,
         (CASE WHEN l_returnflag = 'N' THEN NULL
               ELSE l_shipdate END) IS NULL AS isnat_ship
         FROM lineitem""",
    "q164_str_tail2" ->
      """WITH e AS (SELECT *,
             regexp_extract_all(p_name, '([a-z]+)o', 1) AS ms
           FROM part)
         SELECT p_partkey, p_name,
           CAST(t.i - 1 AS INT) AS pos, ms[t.i] AS m,
           translate(p_name, 'aeiou', '12345') AS devowel_map,
           nfc_normalize(p_name || 'e' || chr(769)) AS nfc,
           CASE WHEN contains(p_name, ' ')
                THEN regexp_extract(p_name, '^(.*) ([^ ]*)$', 1)
                ELSE p_name END AS rsplit_head,
           CASE WHEN contains(p_name, ' ')
                THEN regexp_extract(p_name, '^(.*) ([^ ]*)$', 2)
                ELSE NULL END AS rsplit_tail,
           regexp_extract(p_name, '^([^ ]*) ?([^ ]*) ?(.*)$', 1) AS sp0,
           regexp_extract(p_name, '^([^ ]*) ?([^ ]*) ?(.*)$', 2) AS sp1,
           regexp_extract(p_name, '^([^ ]*) ?([^ ]*) ?(.*)$', 3) AS sp2,
           substr(p_name, length(p_name), 1) AS get_last,
           false AS istitle_p,
           true AS istitle_cap,
           CASE WHEN p_partkey % 10 = 0 THEN 0
                WHEN list_contains(string_split(p_name, ' '), 'olive')
                THEN 1 ELSE 0 END AS dum_olive_na
         FROM e LEFT JOIN LATERAL
           unnest(generate_series(1, greatest(len(ms), 0))) AS t(i) ON true""",
    "q165_dt_tail2" ->
      """WITH d AS (SELECT event_id,
             epoch_us(ts) - epoch_us(date_trunc('year', ts)) AS us, ts
           FROM events)
         SELECT event_id,
           (us - us % 86400000000) // 86400000000 AS td_days,
           (us % 86400000000 - us % 86400000000 % 1000000) // 1000000
             AS td_seconds,
           us % 1000000 AS td_micros,
           CAST(us AS DOUBLE) / 1e6 AS td_total_sec,
           CAST(CASE WHEN (year(ts) % 4 = 0 AND year(ts) % 100 <> 0)
                       OR year(ts) % 400 = 0 THEN 366 ELSE 365 END AS INT)
             AS days_in_year,
           dayofyear(ts) = 1 AS y_start,
           (month(ts) = 12 AND day(ts) = 31) AS y_end,
           (day(ts) = day(last_day(ts::DATE))
             AND month(ts) IN (3, 6, 9, 12)) AS q_end
         FROM d""",
    // complex replay: the same field-wise expansions in the same
    // operation order — identical IEEE arithmetic, no rounding
    "q279_complex_ops" ->
      """WITH z AS (SELECT l_orderkey, l_linenumber,
             l_extendedprice / 100 AS a, l_quantity AS b,
             1.0 + l_tax AS c, l_discount AS d
           FROM lineitem)
         SELECT l_orderkey, l_linenumber,
           a * c - b * d AS prod_re,
           a * d + b * c AS prod_im,
           -b AS conj_im,
           a * a + b * b AS abs2,
           (a * c - b * (-d)) / (c * c + d * d) AS quot_re,
           (a * (-d) + b * c) / (c * c + d * d) AS quot_im
         FROM z""",
    // battery-5 replay: every op is a single IEEE arithmetic step (or an
    // integer cast of one), so no rounding grid is needed; the NaN lane
    // resolves through the same CASE shortcuts as the Spark side
    "q284_ufunc_battery5" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(ceil(x * 7) AS BIGINT) AS ceil_x7,
         CAST(floor(x * 7) AS BIGINT) AS floor_x7,
         sqrt(l_quantity) AS sqrt_q,
         x * x AS square_x,
         CAST(sign(x) AS INT) AS sign_x,
         -x AS negative_x,
         x AS positive_x,
         1.0 / l_quantity AS reciprocal_q,
         x AS conj_x,
         TRUE AS isreal_x,
         FALSE AS iscomplex_x,
         x + l_quantity AS add_xq,
         x - l_quantity AS subtract_xq,
         x * l_quantity AS multiply_xq,
         x / l_quantity AS divide_xq,
         CAST(floor(l_quantity / 7.0) AS BIGINT) AS floordiv_q7,
         x - floor(x / 0.03) * 0.03 AS mod_py,
         CASE WHEN isnan(y) THEN t
              ELSE greatest(y, t) END AS fmax_nan,
         CASE WHEN isnan(y) THEN t
              ELSE least(y, t) END AS fmin_nan,
         isnan(y) AS maximum_prop_nan,
         CASE WHEN x < 0 THEN 0.0 WHEN x = 0.0 THEN 0.7
              ELSE 1.0 END AS heaviside_h07,
         x > 0.0 AS greater_x0,
         x <= 0.0 AS lessequal_x0
         FROM (SELECT *, l_discount - 0.05 AS x,
             l_tax - 0.04 AS t,
             CASE WHEN l_quantity > 40 THEN CAST('nan' AS DOUBLE)
                  ELSE l_discount - 0.05 END AS y
           FROM lineitem)""",
    // str-tail-3 replay: index/rindex via 1-based strpos over the rows
    // where 'o' exists; the unicode class predicates replay as regex
    // char-classes RESTRICTED to the alphabet actually present
    // ({0-9, ², ½} + ascii letters) — on that alphabet the regex IS the
    // category definition (decimal=[0-9] ⊂ digit=[0-9²] ⊂ numeric=[0-9²½])
    "q285_str_tail3" ->
      """SELECT p_partkey, p_name,
         strpos(p_name, 'o') - 1 AS index_o,
         length(p_name) - strpos(reverse(p_name), 'o') AS rindex_o,
         regexp_full_match(s_num, '[0-9]+') AS dec_num,
         regexp_full_match(s_num, '[0-9²]+') AS dig_num,
         regexp_full_match(s_num, '[0-9²½]+') AS num_num,
         regexp_full_match(s_sup, '[0-9]+') AS dec_sup,
         regexp_full_match(s_sup, '[0-9²]+') AS dig_sup,
         regexp_full_match(s_sup, '[0-9²½]+') AS num_sup,
         regexp_full_match(s_frac, '[0-9]+') AS dec_frac,
         regexp_full_match(s_frac, '[0-9²]+') AS dig_frac,
         regexp_full_match(s_frac, '[0-9²½]+') AS num_frac,
         regexp_full_match(p_name, '[0-9]+') AS dec_name,
         regexp_full_match('', '[0-9²½]+') AS num_empty
         FROM (SELECT p_partkey, p_name,
             CAST(p_partkey AS VARCHAR) AS s_num,
             CAST(p_partkey AS VARCHAR) || '²' AS s_sup,
             CAST(p_partkey AS VARCHAR) || '½' AS s_frac
           FROM part WHERE p_name LIKE '%o%')"""
  )
}
