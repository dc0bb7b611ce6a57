package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import graft.util.QueryCache

/** Query-scoped cache registry: frames persisted inside a scope are
  * released on exit; nested scopes release only their own; unscoped
  * persists are reclaimed by clearAll. */
class QueryCacheSpec extends SparkSpec {
  import spark.implicits._

  test("scoped persists are unpersisted on exit, nested scopes are local") {
    val inner = Seq(1, 2, 3).toDF("a")
    val outer = Seq(4, 5).toDF("b")
    QueryCache.scoped {
      QueryCache.persist(outer)
      outer.count()
      QueryCache.scoped {
        QueryCache.persist(inner)
        inner.count()
        assert(inner.storageLevel.useMemory)
      }
      // inner scope closed -> inner frame released, outer still cached
      assert(!inner.storageLevel.useMemory)
      assert(outer.storageLevel.useMemory)
    }
    assert(!outer.storageLevel.useMemory)
  }

  test("unscoped persists are tracked and released by clearAll") {
    val df = Seq(9).toDF("x")
    QueryCache.persist(df)
    df.count()
    assert(df.storageLevel.useMemory)
    QueryCache.clearAll()
    assert(!df.storageLevel.useMemory)
  }

  test("operators compose under a scope without leaking cache entries") {
    // zipWithIndex persists its ranged frame through QueryCache
    val src = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "v")
    // relative count: other suites may legitimately hold cached frames
    // in the shared session
    val before = spark.sparkContext.getPersistentRDDs.size
    QueryCache.scoped {
      val pos = graft.model.Positions.zipWithIndex(src, Seq(col("k")), "pos")
      assert(pos.orderBy("pos").select("v").as[String].collect().toSeq ===
        Seq("a", "b", "c"))
    }
    // nothing from the op survives the scope
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
    // covariance persists its moments frame
    val vecs = Seq(Array(1.0f, 2.0f), Array(2.0f, 1.0f), Array(0.0f, 3.0f))
      .map(Tuple1(_)).toDF("v")
    QueryCache.scoped {
      assert(graft.llm.Pca.covariance(vecs, "v").count() === 3L)
    }
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("q224_load_eager reads its loaded frame from the cache") {
    QueryCache.scoped {
      val q = SparkEntry.queries("q224_load_eager")(spark, sf)
      val cached = q.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }
      assert(cached.nonEmpty, q.queryExecution.withCachedData.treeString)
      assert(q.count() > 0L)
    }
  }
}
