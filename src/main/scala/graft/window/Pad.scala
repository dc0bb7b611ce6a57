package graft.window

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edge padding along a positional dim (ref `dataset.py:9054` pad;
  * numpy pad modes). Pad rows are generated from a tiny `sequence()` table
  * and fetch their source value by a mode-specific index mapping joined
  * back to the data — no window over the full data, one broadcast-sized
  * join per side at any scale.
  *
  * Supported modes: constant, edge, reflect (numpy: no edge repeat),
  * symmetric (mirror WITH edge repeat), wrap.
  */
object Pad {

  /** @param df     input with a dense 0-based `pos` column and value cols
    * @param pos    name of the position column
    * @param n      total size (positions are 0..n-1)
    * @param before / after: pad amounts
    * @return frame with positions -before .. n-1+after and one value column
    *         per mode mapping, named `<valueCol>_<mode>` */
  def pad(df: DataFrame, pos: String, valueCol: String, n: Long,
          before: Int, after: Int, constant: Any = null): DataFrame = {
    val spark = df.sparkSession
    val p = col(pos)
    // In range [0, n) every mode maps a position to its OWN value — a pure
    // projection over the data, no join. Only the 2*(before+after) generated
    // pad rows need to fetch a source value, and that set is tiny: ONE
    // broadcast-hash join (build side = pad rows) against a single scan of
    // the data replaces the old 4 full-size joins.
    val inRange = df.select(p,
      col(valueCol).as(s"${valueCol}_constant"),
      col(valueCol).as(s"${valueCol}_edge"),
      col(valueCol).as(s"${valueCol}_reflect"),
      col(valueCol).as(s"${valueCol}_symmetric"),
      col(valueCol).as(s"${valueCol}_wrap"))
    def srcIdx(mode: String): Column = mode match {
      case "edge"    => least(greatest(p, lit(0L)), lit(n - 1))
      case "reflect" =>
        // numpy 'reflect': mirror WITHOUT repeating the edge. The reflected
        // tiling is periodic with period 2(n-1), so folding via pmod handles
        // pad widths beyond n (numpy folds repeatedly); n==1 degenerates to
        // the single value.
        if (n == 1) lit(0L)
        else {
          val q = pmod(p, lit(2 * (n - 1)))
          when(q < n, q).otherwise(lit(2 * (n - 1)) - q)
        }
      case "symmetric" =>
        // numpy 'symmetric': mirror WITH the edge repeated; period 2n.
        val q = pmod(p, lit(2 * n))
        when(q < n, q).otherwise(lit(2 * n - 1) - q)
      case "wrap"    => pmod(p, lit(n))
    }
    val padGrid = spark.range(-before.toLong, 0).union(spark.range(n, n + after))
      .toDF(pos)
    val melted = padGrid.select(p,
      explode(array(Seq("edge", "reflect", "symmetric", "wrap")
        .map(m => struct(lit(m).as("m"), srcIdx(m).as("i"))): _*)).as("mi"))
      .select(p, col("mi.m").as("__m"), col("mi.i").as("__i"))
    val src = df.select(col(pos).as("__sp"), col(valueCol).as("__sv"))
    val padRows = src.join(melted, col("__sp") === col("__i"))
      .groupBy(p)
      .agg(
        max(when(col("__m") === "edge", col("__sv"))).as(s"${valueCol}_edge"),
        max(when(col("__m") === "reflect", col("__sv"))).as(s"${valueCol}_reflect"),
        max(when(col("__m") === "symmetric", col("__sv"))).as(s"${valueCol}_symmetric"),
        max(when(col("__m") === "wrap", col("__sv"))).as(s"${valueCol}_wrap"))
      .withColumn(s"${valueCol}_constant",
        if (constant == null) lit(null).cast(df.schema(valueCol).dataType)
        else lit(constant))
    inRange.unionByName(padRows.select(inRange.columns.map(col): _*))
  }

  /** Stat / ramp pad modes (numpy maximum / minimum / mean / median /
    * linear_ramp with end_value=0; stat length = whole series, the numpy
    * default). The series stats aggregate ONCE (decimal-exact mean; median
    * rounded to 6 dp on both engine and oracle sides per the float policy)
    * and broadcast into the generated pad rows — still no window over the
    * data. */
  def padStat(df: DataFrame, pos: String, valueCol: String, n: Long,
              before: Int, after: Int, meanScale: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val spark = df.sparkSession
    val p = col(pos)
    val v = col(valueCol)
    // In-range rows are pure projection (every stat mode keeps the row's own
    // value); pad rows are generated and get ALL their values from the 1-row
    // stats aggregate — no data-sized join anywhere.
    val stats = df.agg(
      max(v).as("__max"), min(v).as("__min"),
      (sum(v.cast(DecimalType(30, meanScale))).cast("double") / count(v))
        .as("__mean"),
      round(percentile(v, lit(0.5)), 6).as("__median"),
      max(when(col(pos) === 0, v)).as("__first"),
      max(when(col(pos) === n - 1, v)).as("__last"))
    val inRange = df.select(p,
      v.as(s"${valueCol}_maximum"), v.as(s"${valueCol}_minimum"),
      v.as(s"${valueCol}_mean"), v.as(s"${valueCol}_median"),
      v.as(s"${valueCol}_linear_ramp"))
    val padGrid = spark.range(-before.toLong, 0).union(spark.range(n, n + after))
      .toDF(pos)
    val ramp =
      when(p < 0,
        col("__first") * ((lit(before.toDouble) + p) / lit(before.toDouble)))
        .otherwise(
          col("__last") * ((lit(after.toDouble) - (p - lit(n - 1)))
            / lit(after.toDouble)))
    val padRows = padGrid.crossJoin(broadcast(stats)).select(p,
      col("__max").as(s"${valueCol}_maximum"),
      col("__min").as(s"${valueCol}_minimum"),
      col("__mean").as(s"${valueCol}_mean"),
      col("__median").as(s"${valueCol}_median"),
      ramp.as(s"${valueCol}_linear_ramp"))
    inRange.unionByName(padRows)
  }

  /** roll: circular shift of values by `shift` along pos (ref
    * `dataset.py:8038`): value at pos comes from (pos - shift) mod n. */
  def roll(df: DataFrame, pos: String, valueCol: String, n: Long,
           shift: Int): DataFrame = {
    val src = df.select(col(pos).as("__src_pos"), col(valueCol).as(s"${valueCol}_rolled"))
    df.withColumn("__from", pmod(col(pos) - shift, lit(n)))
      .join(src, col("__from") === col("__src_pos"))
      .drop("__from", "__src_pos")
  }
}
