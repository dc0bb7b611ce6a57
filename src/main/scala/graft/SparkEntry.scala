package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._
import graft.util.QueryCache

/** Driver contract — see SURVEY.md §7.
  *
  * Query registry: each entry exercises one operator family from SURVEY.md §2
  * through the graft library; [[oracleSql]] holds the DuckDB-equivalent SQL
  * the driver hash-compares against at sf0.01.
  *
  * Float policy (cross-engine exactness): double sums accumulate in decimal
  * ([[graft.model.XDataset.exactSum]]) so Spark and DuckDB agree bit-for-bit;
  * numerically stable statistics (stddev/corr/percentile) are rounded to 4-6
  * dp on BOTH sides.
  *
  * Every main (Bench, Verify, PlanDump, ScaleSmoke) names its queries with
  * [[select]] and runs them with [[run]]; a main only formats the outcomes.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg_partial")(spark, "/root/testdata/sf0.001")

  /** The 13 query families. Their key sets are disjoint: `++` would keep
    * only the last of two queries with one name (RegistrySpec checks). */
  private[graft] val families: Seq[QueryFamily] = Seq(QueriesCore,
    QueriesAlign, QueriesGroupBy, QueriesWindow, QueriesReshape,
    QueriesFunctions, QueriesNumerics, QueriesLLM, QueriesUdf,
    QueriesStreaming, QueriesMore, QueriesCalendar, QueriesCoverage)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.map(_.queries).reduce(_ ++ _)

  /** DuckDB-runnable oracle for each query (same column names/aliases).
    * Queries absent here get the driver's weaker rows-only check. */
  def oracleSql: Map[String, String] = families.map(_.oracles).reduce(_ ++ _)

  /** Every registered name in sorted order when `names` is empty, else
    * `names` (duplicates dropped). An unknown name raises an
    * IllegalArgumentException that lists it, so a misspelt name fails the
    * main before it writes anything. */
  def select(names: Seq[String]): Seq[String] = {
    val known = queries.keySet
    val unknown = names.filterNot(known).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) known.toSeq.sorted else names.distinct
  }

  /** One query's outcome: the action's result or what it threw, and the
    * seconds from the start of the build to the end of the action. */
  final case class Outcome[T](name: String, result: Either[Throwable, T],
                              secs: Double)

  /** The query lifecycle every main shares. For each name, in order: build
    * the query and apply `action` to its name and frame inside
    * [[QueryCache.scoped]], which releases exactly the frames the query's
    * operators persisted; then `catalog.clearCache()` drops anything else
    * cached, so cache memory never accumulates across a run. A failure is
    * captured in that name's outcome and the run goes on. Each query runs
    * as the iterator reaches it, so a caller can report one outcome before
    * the next query starts. */
  def run[T](spark: SparkSession, dir: String, names: Seq[String])(
      action: (String, DataFrame) => T): Iterator[Outcome[T]] = {
    val registry = queries
    names.iterator.map { name =>
      val t0 = System.nanoTime()
      val result =
        try Right(QueryCache.scoped(action(name, registry(name)(spark, dir))))
        catch { case e: Throwable => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Outcome(name, result, secs)
    }
  }
}
