package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Query-scoped cache registry: library operators that persist a
  * multi-consumer intermediate (packing's ranged frame, the LM token
  * table, SemDeDup's normalized vectors, ...) register it here, and the
  * enclosing [[scoped]] block — one per query in the registry runner
  * (`SparkEntry.run`), or any user pipeline step — unpersists exactly
  * those frames on exit. Every persist in the library goes through
  * [[persist]] (ScratchSpec scans for others).
  *
  * The returned DataFrames usually still REFERENCE the persisted frame
  * (the cache must outlive the operator call, until the caller's action
  * has run), so the operator itself cannot unpersist — but a library
  * function also must not leak session-lifetime cache entries to every
  * caller outside the runner. Scoping at the caller is the right
  * altitude for both. Outside any scope the persist is recorded
  * session-wide and [[clearAll]] (or Spark's catalog-wide cache clear)
  * reclaims it.
  */
object QueryCache {

  private val scope = new ThreadLocal[java.util.ArrayList[DataFrame]]()
  private val unscoped =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[DataFrame]())

  /** Persist `df` and register it with the active scope (or the
    * session-wide fallback list). */
  def persist(df: DataFrame,
              level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    val s = scope.get()
    if (s != null) s.add(df) else unscoped.add(df)
    df
  }

  /** Run `f`; afterwards unpersist every frame persisted (via [[persist]])
    * inside it. Nested scopes release only their own frames. */
  def scoped[T](f: => T): T = {
    val prev = scope.get()
    val mine = new java.util.ArrayList[DataFrame]()
    scope.set(mine)
    try f
    finally {
      scope.set(prev)
      mine.forEach { d =>
        try d.unpersist(false) catch { case _: Throwable => () }
      }
    }
  }

  /** Release every frame persisted outside any scope. */
  def clearAll(): Unit = {
    val snapshot = unscoped.synchronized {
      val c = new java.util.ArrayList[DataFrame](unscoped)
      unscoped.clear(); c
    }
    snapshot.forEach { d =>
      try d.unpersist(false) catch { case _: Throwable => () }
    }
  }
}
