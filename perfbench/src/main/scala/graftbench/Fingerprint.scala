package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Order-independent digest of a result: its row count and the wrapping
  * sums of the low and high 32 bits of every row's 64-bit hash. */
final case class Fp(rows: Long, lo: Long, hi: Long) {
  def +(o: Fp): Fp = Fp(rows + o.rows, lo + o.lo, hi + o.hi)
  override def toString: String = f"$rows:$lo%016x:$hi%016x"
}

object Fingerprint {
  val Zero: Fp = Fp(0, 0, 0)

  def ofHash(h: Long): Fp = Fp(1, h & 0xffffffffL, h >>> 32)

  /** Runs the DataFrame's executed plan once, computing every row and
    * every column: rows are hashed as the plan emits them, so no column
    * can be pruned and no operator can be skipped. */
  def of(df: DataFrame): Fp = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var acc = Zero
      rows.foreach { r =>
        val u = proj(r)
        acc += ofHash(XXH64.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L))
      }
      Iterator(acc)
    }.collect().foldLeft(Zero)(_ + _)
  }

  /** Digest of one labeled cell: its coordinates and value as doubles. */
  def cellHash(coords: Array[Double], v: Double): Long = {
    var h = 42L
    coords.foreach(c => h = XXH64.hashLong(java.lang.Double.doubleToLongBits(c), h))
    XXH64.hashLong(java.lang.Double.doubleToLongBits(v), h)
  }

  /** Digest of a long-format grid read back from a store: every column
    * cast to double, hashed with [[cellHash]]. */
  def ofCells(df: DataFrame, dims: Seq[String], value: String): Fp = {
    import org.apache.spark.sql.functions.col
    val d = df.select((dims :+ value).map(c => col(c).cast("double")): _*)
    val k = dims.length
    d.queryExecution.toRdd.mapPartitions { rows =>
      var acc = Zero
      val coords = new Array[Double](k)
      rows.foreach { r =>
        var i = 0
        while (i < k) { coords(i) = r.getDouble(i); i += 1 }
        acc += ofHash(cellHash(coords, r.getDouble(k)))
      }
      Iterator(acc)
    }.collect().foldLeft(Zero)(_ + _)
  }
}

/** Shape of an executed plan: operator count, exchanges, and
  * interpreted (`CodegenFallback`) expressions from the graft library. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Int, Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val exchanges = nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val fallbacks = nodes.map(_.expressions.map(_.collect {
      case e: CodegenFallback if e.getClass.getName.startsWith("graft.") => e
    }.size).sum).sum
    (nodes.size, exchanges, fallbacks)
  }

  /** In a traced run, attach the executed plan's shape to the `exec` span
    * that just ran it (the final plan, after adaptive re-planning). */
  def note(t: Tracer, df: DataFrame): Unit = if (t.on) {
    val (nodes, exch, fb) = apply(df.queryExecution.executedPlan)
    t.note("exec", "plan_nodes" -> nodes, "plan_exchanges" -> exch,
      "plan_fallback_exprs" -> fb)
  }
}
