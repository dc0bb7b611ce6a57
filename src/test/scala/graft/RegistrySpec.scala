package graft

/** The query registry and its one runner: the families never shadow each
  * other, every oracle names a query, `select` rejects unknown names, and
  * `run` captures failures per query and leaves nothing cached. */
class RegistrySpec extends SparkSpec {

  test("the 13 families' key sets are disjoint; every oracle names a query") {
    val families = SparkEntry.families
    assert(families.size === 13)
    val names = families.flatMap(_.queries.keys)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"registered by two families: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size === names.size)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.mkString(", ")}")
  }

  test("select: all names sorted, or the named ones; unknown names raise") {
    val all = SparkEntry.select(Nil)
    assert(all === SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.select(Seq("q89_spline_cubic", "q61b_ewm_sum",
      "q89_spline_cubic")) === Seq("q89_spline_cubic", "q61b_ewm_sum"))
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.select(Seq("q01_agg_partial", "q_typo", "q_typo2"))
    }
    assert(ex.getMessage.contains("q_typo, q_typo2"), ex.getMessage)
  }

  test("run: one outcome per name in order, failures captured, cache released") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val names = Seq("q224_load_eager", "q01_agg_partial", "q02_sel_slice")
    val outcomes = SparkEntry.run(spark, sf, names) { (name, df) =>
      if (name == "q01_agg_partial") sys.error("boom")
      df.count()
    }.toList
    assert(outcomes.map(_.name) === names)
    assert(outcomes(1).result.left.map(_.getMessage) === Left("boom"))
    assert(outcomes(0).result.exists(_ > 0L))
    assert(outcomes(2).result.exists(_ > 0L))
    assert(outcomes.forall(_.secs > 0.0))
    // q224 persisted its loaded frame; the runner's scope released it
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }
}
