package graft

import org.apache.spark.sql.functions._
import graft.io.{Tables, ZOrder}

/** Z-order layout: Morton interleave correctness + the property that
  * justifies the op at scale — every output file gets a tight min/max
  * envelope in EVERY clustering key (that envelope is what parquet
  * footer stats prune by). */
class ZOrderSpec extends SparkSpec {

  test("interleaveBits matches hand-computed Morton codes") {
    import spark.implicits._
    // z(x, y) with 2 bits each: bit layout y1 x1 y0 x0
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (2L, 1L))
    val got = rows.toDF("x", "y")
      .select(ZOrder.interleaveBits(Seq(col("x"), col("y")), 2).as("z"))
      .as[Long].collect().toSeq
    // x=2,y=1: x1=1 x0=0 y1=0 y0=1 -> y1 x1 y0 x0 = 0 1 1 0 = 6
    assert(got == Seq(0L, 1L, 2L, 15L, 6L))
  }

  test("z-ordered files are localized in BOTH keys; result set unchanged") {
    val dir = scratchDir("zorder_spec")
    val ev = Tables.events(spark, sf)
    ZOrder.write(ev, dir, Seq("user_id", "ts"), numFiles = 8)
    val back = spark.read.parquet(dir)
    // roundtrip: same multiset of events
    assert(back.count() == ev.count())
    assert(back.agg(sum(col("event_id"))).head.getLong(0) ==
      ev.agg(sum(col("event_id"))).head.getLong(0))
    // per-file envelopes: mean spread per key well under the global
    // spread in BOTH dims at once (a plain sort by ts would leave the
    // user_id spread at ~1.0x global in every file)
    val per = back
      .groupBy(input_file_name().as("f"))
      .agg((max(col("user_id")) - min(col("user_id"))).as("du"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("dt"))
      .agg(avg(col("du")), avg(col("dt"))).head()
    val g = ev.agg(
      (max(col("user_id")) - min(col("user_id"))).cast("double"),
      (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
        .cast("double")).head()
    val (userFrac, tsFrac) = (per.getDouble(0) / g.getDouble(0),
      per.getDouble(1) / g.getDouble(1))
    assert(userFrac < 0.75, s"per-file user_id spread $userFrac of global")
    assert(tsFrac < 0.75, s"per-file ts spread $tsFrac of global")
  }
}
