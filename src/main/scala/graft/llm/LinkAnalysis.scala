package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Link analysis — fixed-iteration PageRank, the domain/document
  * authority signal of web-scale curation stacks (CommonCrawl-style
  * domain ranking feeding quality weights). Purely declarative: one
  * equi-join + hash agg per iteration (the mass-passing shuffle), the
  * node universe LEFT-joined back so sinks keep their teleport mass;
  * no driver state beyond the node count.
  *
  * Determinism / portability: ranks are FIXED-POINT integers at scale
  * 1e12 and every step is integer arithmetic — floor division for the
  * per-edge share (`rank div outdeg`), an exact decimal sum for the
  * in-mass, and the damped update as `base + (17·sum) div 20`
  * (0.85 = 17/20 exactly). No float rounding convention exists to
  * diverge between engines, so an external SQL engine replays every
  * iteration bit-for-bit. Floor-division remainders (< outdeg units of
  * 1e-12 per node per iteration) leak like dangling mass does — the
  * ORDERING, which is what curation consumes, is standard PageRank.
  *
  * Simplification, documented: dangling-node mass is NOT redistributed
  * (out-degree-0 rank leaks); ranks then sum to < 1.
  */
object LinkAnalysis {

  /** Fixed-point scale: rank 1.0 == 1e12. */
  val Scale = 1000000000000L

  /** @param nodes rank universe (one row per id; ids absent from every
    *              edge still receive the teleport term)
    * @param edges directed multi-edges (parallel edges act as weight)
    * @param damp  damping as an exact rational `dampNum/dampDen`
    *              (default 17/20 = 0.85)
    * @return (id, rank_e12) after `iters` damped iterations from the
    *         uniform start `Scale div N`. */
  def pagerank(nodes: DataFrame, edges: DataFrame, id: String,
               src: String, dst: String, iters: Int,
               dampNum: Long = 17L, dampDen: Long = 20L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum > 0 && dampDen > dampNum,
      s"damping $dampNum/$dampDen must be in (0, 1)")
    val nd = graft.util.QueryCache.persist(nodes.select(col(id)).distinct())
    val e = graft.util.QueryCache.persist(
      edges.select(col(src).as("__s"), col(dst).as("__d")))
    val outdeg = e.groupBy(col("__s")).agg(count(lit(1)).as("__deg"))
    val n = nd.count() // bounded driver state: one long
    require(n > 0, "pagerank: the node universe is empty")
    // teleport term (1-d)/N at the fixed-point grid, floor
    val baseFp = (Scale * (dampDen - dampNum)) / (dampDen * n)
    var r = nd.select(col(id), lit(Scale / n).as("rank_e12"))
    for (_ <- 1 to iters) {
      val contribs = e
        .join(r.select(col(id).as("__s"), col("rank_e12").as("__r")), "__s")
        .join(outdeg, "__s")
        .select(col("__d"), expr("__r div __deg").as("__c"))
        .groupBy(col("__d"))
        // decimal sum: overflow-safe at any in-degree; the cast back to
        // long is ANSI-checked (loud, never silent) and exact until 2^63
        .agg(sum(col("__c").cast(DecimalType(38, 0)))
          .cast("long").as("__sum"))
      r = nd.join(contribs.select(col("__d").as(id), col("__sum")),
          Seq(id), "left")
        .select(col(id),
          (lit(baseFp) +
            expr(s"($dampNum * coalesce(__sum, 0L)) div $dampDen"))
            .as("rank_e12"))
    }
    r
  }

  /** HITS hubs & authorities on a bipartite edge set, MAX-normalized
    * integer fixed point.
    *
    * Classic HITS L2-normalizes each iteration — a sqrt whose rounding
    * convention diverges between engines (why HITS was deliberately
    * skipped in earlier rounds). Normalizing by the MAX instead keeps the
    * same fixed-point direction (scores are only ever read relative to
    * each other) while staying in pure integer arithmetic:
    * `x' = x·1e6 div max(x)` — the truncating integral div shared by
    * Java `/`, Spark `div`, and DuckDB `//` — so every engine computes
    * identical scores. Each iteration is two equi-join aggregates plus a
    * 1-row broadcast max; round count is bounded by `iters`, never by
    * data. Returns (role 'hub'|'auth', node, score_ppm). */
  def hits(edges: DataFrame, src: String, dst: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters $iters out of range")
    val M = 1000000L
    val e = graft.util.QueryCache.persist(
      edges.select(col(src).cast("string").as("__u"),
        col(dst).cast("string").as("__t")).distinct())
    var h = e.select(col("__u")).distinct().select(col("__u"),
      lit(M).as("__h"))
    var a = e.select(col("__t")).distinct().select(col("__t"),
      lit(0L).as("__a"))
    def maxNorm(df0: DataFrame, c: String): DataFrame = {
      // persist BEFORE branching: the frame feeds both its own max
      // aggregate and the normalized select — unpersisted, that branch
      // point doubles the recomputed lineage at every iteration
      val df = graft.util.QueryCache.persist(df0)
      val mx = df.agg(max(col(c)).as("__mx"))
      // decimal-widened numerator: score·1e6 can pass 2^63 at extreme
      // in-degrees; `div` on decimals is the same exact integral quotient
      // both engines compute (the alsoTook convention)
      df.crossJoin(mx)
        .select(df.columns.filter(_ != c).map(col) :+
          expr(s"CAST((CAST($c AS DECIMAL(38,0)) * ${M}L) div __mx AS BIGINT)")
            .as(c): _*)
    }
    for (_ <- 1 to iters) {
      // authority pull: a(t) = Σ_{(u,t)} h(u); decimal sum stays exact
      // at any in-degree, the cast back is ANSI-loud
      a = maxNorm(e.join(h, "__u").groupBy(col("__t"))
        .agg(sum(col("__h").cast(DecimalType(38, 0))).cast("long")
          .as("__a")), "__a")
      h = maxNorm(e.join(a, "__t").groupBy(col("__u"))
        .agg(sum(col("__a").cast(DecimalType(38, 0))).cast("long")
          .as("__h")), "__h")
    }
    h.select(lit("hub").as("role"), col("__u").as("node"),
        col("__h").as("score_ppm"))
      .unionByName(a.select(lit("auth").as("role"), col("__t").as("node"),
        col("__a").as("score_ppm")))
  }

  /** Market-basket affinity ("customers who took X also took Y"): per
    * item its top-k co-basket items ranked by exact-ppb LIFT
    * `co·N / (n_a·n_b)` (association strength normalized by marginal
    * popularity), ties by co-count then item id. Presence-based (an
    * item twice in one basket counts once). The self-join runs on the
    * basket key (equi-join, baskets are small); the ranking window is
    * per-item and bounded by its co-item count. All integer arithmetic
    * — bit-reproducible anywhere. */
  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003) —
    * score NON-edges of the co-occurrence graph by shared neighborhood:
    * cn = |Γ(a)∩Γ(c)| and the neighborhood Jaccard cn/(deg_a+deg_c−cn)
    * on the exact ppm grid. The "which parts will be bought together
    * NEXT" sibling of [[alsoTook]]'s existing-edge lift.
    *
    * Scale shape: wedges close at the shared MIDDLE node, so fan-out is
    * deg(n)² per node — the `maxDeg` cap anti-joins hub middles out of
    * wedge formation (the q52 stop-gram / q325 degree-orientation
    * lesson: hubs carry no discriminative signal and all the quadratic
    * cost); degrees for the Jaccard keep the FULL graph. Existing edges
    * are anti-joined away; winner ranking is one TakeOrdered. */
  def linkPrediction(baskets: DataFrame, basket: String, item: String,
                     maxDeg: Long, topK: Int): DataFrame = {
    val bi = graft.util.QueryCache.persist(
      baskets.select(col(basket).as("__b"), col(item).as("__i")).distinct())
    val edges = graft.util.QueryCache.persist(bi.as("a")
      .join(bi.as("b"), col("a.__b") === col("b.__b")
        && col("a.__i") < col("b.__i"))
      .select(col("a.__i").as("u"), col("b.__i").as("v")).distinct())
    val adj = graft.util.QueryCache.persist(
      edges.union(edges.select(col("v"), col("u")))
        .toDF("x", "nbr"))
    // deg has THREE consumers (the hub filter and the two per-endpoint
    // degree joins) — uncached, each re-aggregated the adjacency cache
    // (§1.2 don't compute twice; profiled 3 near-identical agg jobs)
    val deg = graft.util.QueryCache.persist(
      adj.groupBy(col("x")).agg(count(lit(1)).as("deg")))
    val midOk = deg.filter(col("deg") <= maxDeg)
      .select(col("x").as("__mid"))
    // wedges a—n—c with non-hub middles; a < c dedupes the pair space.
    // viaMid is width-pinned on the wedge key (REPARTITION_BY_NUM, the
    // q339/q52 pattern): the quadratic wedge self-join fans kilobytes of
    // cached adjacency into deg² pair rows, and under cached-plan AQE
    // coalescing its unpinned input collapsed to 1 partition — profiled
    // as one 1.3 s single-task job (round 18). HashPartitioning(n)
    // satisfies the self-join's distribution on BOTH sides, so the join
    // reuses this single exchange; persist keeps the two sides from
    // recomputing the midOk probe twice.
    val viaMid = graft.util.QueryCache.persist(
      adj.join(midOk, col("x") === col("__mid"))
        .select(col("x").as("n"), col("nbr"))
        .repartition(graft.util.Parallelize.computeWidth(
          baskets.sparkSession), col("n")))
    val wedges = viaMid.as("l")
      .join(viaMid.as("r"), col("l.n") === col("r.n")
        && col("l.nbr") < col("r.nbr"))
      .groupBy(col("l.nbr").as("a"), col("r.nbr").as("c"))
      .agg(count(lit(1)).as("cn")) // middles are distinct per (a,c) pair
    val cand = wedges.join(edges,
      wedges("a") === edges("u") && wedges("c") === edges("v"),
      "left_anti")
    cand
      .join(deg.select(col("x").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("x").as("c"), col("deg").as("deg_c")), "c")
      .select(col("a"), col("c"), col("cn"), col("deg_a"), col("deg_c"),
        expr("cn * 1000000 div (deg_a + deg_c - cn)").as("jaccard_ppm"))
      .orderBy(col("cn").desc, col("jaccard_ppm").desc, col("a"),
        col("c"))
      .limit(topK)
  }

  def alsoTook(baskets: DataFrame, basket: String, item: String,
               k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bi = graft.util.QueryCache.persist(
      baskets.select(col(basket).as("__b"), col(item).as("__i")).distinct())
    val cnt = bi.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    val nBaskets = bi.select(col("__b")).distinct()
      .agg(count(lit(1)).as("__nb"))
    val co = bi.as("a")
      .join(bi.as("b"),
        col("a.__b") === col("b.__b") && col("a.__i") =!= col("b.__i"))
      .groupBy(col("a.__i").as("item"), col("b.__i").as("rec_item"))
      .agg(count(lit(1)).as("n_co"))
    val scored = co
      .join(cnt.select(col("__i").as("item"), col("__n").as("__na")), "item")
      .join(cnt.select(col("__i").as("rec_item"), col("__n").as("__nb2")),
        "rec_item")
      .crossJoin(nBaskets)
      // the numerator widens to DECIMAL before the integral divide:
      // co·N·1e9 exceeds Long already at ~1e7 baskets (the pagerank
      // decimal-sum convention; `div` on decimals is the same exact
      // integral quotient both engines compute)
      .select(col("item"), col("rec_item"), col("n_co"),
        expr("""CAST(n_co AS DECIMAL(38,0)) * __nb * 1000000000
                div (CAST(__na AS DECIMAL(38,0)) * __nb2)""")
          .cast("long").as("lift_ppb"))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("lift_ppb").desc, col("n_co").desc, col("rec_item"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Triangle counting + local clustering coefficient on an undirected
    * simple graph, by degree-ordered edge orientation (the node-iterator++
    * / MapReduce-triangles scheme): every edge is directed from its
    * lower-(degree, id) endpoint to the higher, so each triangle is
    * enumerated exactly once — as a wedge at its lowest-ordered vertex
    * closed by one equi-join — and the wedge fan-out at a vertex is
    * quadratic only in its ORIENTED out-degree, which the ordering caps
    * near sqrt(|E|). That bound is what keeps power-law graphs (web,
    * co-purchase) tractable at 100 TB where the naive adjacency self-join
    * explodes quadratically on hub nodes.
    *
    * All-integer output: cc_ppm = (2·tri·1e6) div (deg·(deg−1)) on the
    * truncating-div grid shared by Spark `div` and DuckDB `//`.
    *
    * @param edges undirected edge list; direction, duplicates and
    *              self-loops are normalized away
    * @return (node, degree, triangles, cc_ppm) for every node with
    *         degree >= 2 */
  def triangles(edges: DataFrame, src: String, dst: String): DataFrame = {
    // canonical undirected simple edges as (lo, hi) id pairs
    val e0 = graft.util.QueryCache.persist(
      edges.select(least(col(src), col(dst)).as("__lo"),
          greatest(col(src), col(dst)).as("__hi"))
        .filter(col("__lo") =!= col("__hi") &&
          col("__lo").isNotNull && col("__hi").isNotNull)
        .distinct())
    val deg = graft.util.QueryCache.persist(
      e0.select(col("__lo").as("__n"))
        .unionByName(e0.select(col("__hi").as("__n")))
        .groupBy(col("__n")).agg(count(lit(1)).as("__deg")))
    // orient each edge from the lower (deg, id) endpoint; carry the
    // head's (deg, id) so the wedge join can order its two heads without
    // another lookup
    val orient = graft.util.QueryCache.persist(e0
      .join(deg.select(col("__n").as("__lo"), col("__deg").as("__dl")),
        "__lo")
      .join(deg.select(col("__n").as("__hi"), col("__deg").as("__dh")),
        "__hi")
      .select(
        when(col("__dl") < col("__dh") ||
            (col("__dl") === col("__dh") && col("__lo") < col("__hi")),
            struct(col("__lo").as("a"), col("__hi").as("b"),
              col("__dh").as("db")))
          .otherwise(struct(col("__hi").as("a"), col("__lo").as("b"),
            col("__dl").as("db"))).as("__e"))
      .select(col("__e.a").as("__a"), col("__e.b").as("__b"),
        col("__e.db").as("__db")))
    // wedges at the anchor a: unordered head pairs (b, c) taken with
    // b <ord c so the closing edge, if present, is oriented exactly (b, c)
    val wedges = orient.as("x").join(orient.as("y"),
        col("x.__a") === col("y.__a") &&
          (col("x.__db") < col("y.__db") ||
            (col("x.__db") === col("y.__db") &&
              col("x.__b") < col("y.__b"))))
      .select(col("x.__a").as("__t1"), col("x.__b").as("__t2"),
        col("y.__b").as("__t3"))
    val tris = wedges.join(orient.select(col("__a").as("__t2"),
        col("__b").as("__t3")), Seq("__t2", "__t3"))
    // each triangle credits all three corners
    val perNode = tris
      .select(explode(array(col("__t1"), col("__t2"), col("__t3")))
        .as("__n"))
      .groupBy(col("__n")).agg(count(lit(1)).as("__tri"))
    deg.filter(col("__deg") >= 2)
      .join(perNode, Seq("__n"), "left")
      .select(col("__n").as("node"), col("__deg").as("degree"),
        coalesce(col("__tri"), lit(0L)).as("triangles"))
      // decimal-widened numerator (the alsoTook convention): tri·2e6
      // can pass 2^63 on hub nodes of a web-scale graph
      .withColumn("cc_ppm",
        expr("""CAST((CAST(triangles AS DECIMAL(38,0)) * 2000000)
                div (CAST(degree AS DECIMAL(38,0)) * (degree - 1))
                AS BIGINT)"""))
  }

  /** k-core decomposition for a FIXED k: the maximal subgraph in which
    * every node has degree >= k, computed by synchronized peeling —
    * each round drops ALL nodes of current degree < k, so the result is
    * the k-core's unique fixpoint and the round schedule is the same on
    * any engine (the k-core is order-independent: peeling is
    * confluent). Output: one row per surviving node with its degree
    * INSIDE the core.
    *
    * Scale shape: per round one degree aggregate + two anti-joins on
    * the (bounded, shrinking) dropped-node frame; the loop is
    * driver-side but each trip is a full distributed pass (the
    * connected-components / PageRank iteration discipline). `maxRounds`
    * bounds the loop; the method THROWS if the peel has not reached its
    * fixpoint by then — a silent partial core is not a k-core. */
  def kcore(edges: DataFrame, src: String, dst: String, k: Int,
            maxRounds: Int = 8): DataFrame = {
    require(k >= 1 && maxRounds >= 1, s"kcore(k=$k, maxRounds=$maxRounds)")
    var e = graft.util.QueryCache.persist(
      edges.select(least(col(src), col(dst)).as("u"),
          greatest(col(src), col(dst)).as("v"))
        .filter(col("u") =!= col("v") &&
          col("u").isNotNull && col("v").isNotNull)
        .distinct())
    var round = 0
    var converged = false
    // fixed width for the peel loop: each round's eager localCheckpoint
    // materializes at the RAW partition count, outside AQE coalescing,
    // so a data-keyed session width would multiply per-round task count
    // (measured 2.17× at 30× — BENCH_SCALE.md deployment guidance)
    graft.util.Parallelize.withFixedShuffle(edges.sparkSession,
      edges.sparkSession.sparkContext.defaultParallelism) {
    while (!converged && round < maxRounds) {
      val deg = e.select(col("u").as("n"))
        .unionByName(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val drop = graft.util.QueryCache.persist(
        deg.filter(col("d") < k).select("n"))
      if (drop.isEmpty) converged = true
      else {
        // eager localCheckpoint: each round must TRUNCATE the logical
        // plan, not just cache it — with plain persist the optimizer
        // re-analyzes the whole anti-join chain on every action and
        // per-round planning time grows superlinearly (measured on the
        // sf0.1 co-purchase graph: 43 s with persist lineage vs 10 s
        // checkpointed, same 4 rounds)
        val ne = e.join(drop, col("u") === col("n"), "left_anti")
          .join(drop, col("v") === col("n"), "left_anti")
          .localCheckpoint(true)
        e.unpersist()
        e = ne
      }
      round += 1
    }
    if (!converged) {
      // the in-loop check observes convergence one round LATE (an empty
      // drop costs a round): a graph needing exactly maxRounds real
      // peels exits the loop unconverged even though the fixpoint was
      // reached — one final degree check settles it without peeling
      val lastDrop = e.select(col("u").as("n"))
        .unionByName(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .filter(col("d") < k)
      if (lastDrop.isEmpty) converged = true
    }
    } // withFixedShuffle
    require(converged,
      s"$k-core peel did not converge in $maxRounds rounds — raise " +
        "maxRounds (each round is one distributed pass)")
    e.select(col("u").as("n"))
      .unionByName(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("core_degree"))
      .select(col("n").as("node"), col("core_degree"))
  }

  /** SYNCHRONOUS label propagation, exactly `rounds` update steps:
    * every node simultaneously adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label — a fully deterministic
    * variant of LPA community detection (async LPA's visit order is
    * engine luck; the synchronous mode-with-min-tie-break update is a
    * pure function of the previous labeling, so any engine replays the
    * round-`rounds` labeling bit-for-bit; oscillation between two
    * labelings is possible and FINE — "labels after R sync rounds" is
    * the contract). Labels start as node ids.
    *
    * Per round: one neighbor-label join + one (node, label) count
    * aggregate + one argmax-by-(count, min label) aggregate (the
    * max-struct trick — no window), with eager localCheckpoint
    * truncating lineage (the k-core discipline). */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds $rounds")
    val e = graft.util.QueryCache.persist(
      edges.select(col(src).cast("long").as("u"),
          col(dst).cast("long").as("v"))
        .filter(col("u") =!= col("v") &&
          col("u").isNotNull && col("v").isNotNull)
        .distinct())
    val adj = graft.util.QueryCache.persist(
      e.unionByName(e.select(col("v").as("u"), col("u").as("v"))))
    // fixed width for the sync rounds (the kcore localCheckpoint rationale)
    val labels = graft.util.Parallelize.withFixedShuffle(edges.sparkSession,
      edges.sparkSession.sparkContext.defaultParallelism) {
      var lbls = adj.select(col("u").as("n")).distinct()
        .withColumn("lbl", col("n"))
        .localCheckpoint(true)
      var r = 0
      while (r < rounds) {
        val nl = adj
          .join(lbls.select(col("n").as("v"), col("lbl")), "v")
          .groupBy(col("u"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("u"))
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("best"))
          .select(col("u").as("n"), (-col("best.nl")).as("lbl"))
        val next = nl.localCheckpoint(true)
        lbls = next
        r += 1
      }
      lbls
    }
    labels.select(col("n").as("node"), col("lbl").as("community"))
  }
}
