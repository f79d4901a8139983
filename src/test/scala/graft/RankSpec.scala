package graft

import org.apache.spark.sql.functions._
import graft.operators.Rank

class RankSpec extends SparkSpec {
  import spark.implicits._

  // 1 → {2,3}, 2 → {3}; node 3 is dangling (receives, never emits)
  private lazy val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "d")

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.as[(Long, Double)].collect().toMap

  test("hand-computed fixpoint steps are exact (d=0.5)") {
    val r1 = ranksOf(Rank.pageRank(tri, "s", "d", iters = 1, damping = 0.5))
    assert(r1 === Map(1L -> 0.5, 2L -> 0.75, 3L -> 1.25))
    val r2 = ranksOf(Rank.pageRank(tri, "s", "d", iters = 2, damping = 0.5))
    // node 2: 0.5 + 0.5·(0.5/2); node 3: 0.5 + 0.5·(0.5/2 + 0.75/1)
    assert(r2 === Map(1L -> 0.5, 2L -> 0.625, 3L -> 1.0))
  }

  test("result is independent of input partitioning (exact sums)") {
    val n = 128
    val base = spark.range(n).select(col("id").as("s"))
      .select(explode(array(
        struct(col("s"), ((col("s") * 2 + 1) % n).as("d")),
        struct(col("s"), ((col("s") * 4 + 2) % n).as("d")))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
    val a = ranksOf(Rank.pageRank(base, "s", "d", iters = 3, damping = 0.75))
    val b = ranksOf(Rank.pageRank(base.repartition(7), "s", "d",
                                  iters = 3, damping = 0.75))
    assert(a === b) // bit-exact: dyadic arithmetic, order-free
    assert(a.size === n)
  }

  test("self-loops feed a node's own rank back (no special-casing)") {
    // 1 ⟲, 1 → 2: outdeg(1)=2, so r1(1) = 0.5 + 0.5·(1/2) = 0.75,
    // r1(2) = 0.5 + 0.5·(1/2) = 0.75; then r2(1) = 0.5 + 0.5·(0.75/2)
    val g = Seq((1L, 1L), (1L, 2L)).toDF("s", "d")
    val r2 = ranksOf(Rank.pageRank(g, "s", "d", iters = 2, damping = 0.5))
    assert(r2 === Map(1L -> 0.6875, 2L -> 0.6875))
  }

  test("superseded rounds free their checkpoint blocks") {
    Blocks.freeAll(spark) // earlier tests' terminal checkpoints
    val out = Rank.pageRank(tri, "s", "d", iters = 4, damping = 0.5)
    out.collect()
    // alive: ONLY the final round (the returned frame reads it) — the
    // spine, edges, and every superseded round must be gone
    val alive = spark.sparkContext.getPersistentRDDs.size
    assert(alive <= 1, s"leaked checkpoint blocks: $alive alive")
    Blocks.freeAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("personalized pagerank hand-check: restart mass stays near the seed (d=0.5)") {
    // tri graph, seed {1}: r1 = (0.5, 0.25, 0.25);
    // r2(2) = 0.5·(r1(1)/2) = 0.125, r2(3) = 0.5·(r1(1)/2 + r1(2)/1) = 0.25
    val seeds = Seq(1L).toDF("n")
    def run(iters: Int) = ranksOf(Rank.personalizedPageRank(
      tri, "s", "d", seeds, "n", iters = iters, damping = 0.5))
    assert(run(1) === Map(1L -> 0.5, 2L -> 0.25, 3L -> 0.25))
    assert(run(2) === Map(1L -> 0.5, 2L -> 0.125, 3L -> 0.25))
  }

  test("personalized pagerank scores unreached nodes exactly 0.0") {
    // directed path 1→2→…→6, seed {1}: after 2 rounds mass has walked
    // at most 2 hops, so nodes 4..6 must be EXACTLY zero — the
    // locality a global pagerank cannot express (it scores all > 0)
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("s", "d")
    val r = ranksOf(Rank.personalizedPageRank(
      path, "s", "d", Seq(1L).toDF("n"), "n", iters = 2, damping = 0.5))
    assert(r(1L) === 0.5 && r(2L) === 0.25 && r(3L) === 0.25)
    assert(r(4L) === 0.0 && r(5L) === 0.0 && r(6L) === 0.0)
    val global = ranksOf(Rank.pageRank(path, "s", "d", iters = 2, damping = 0.5))
    assert(global.values.forall(_ > 0.0))
  }

  test("personalized pagerank is partition-independent and frees its rounds") {
    Blocks.freeAll(spark)
    val n = 128
    val base = spark.range(n).select(col("id").as("s"))
      .select(explode(array(
        struct(col("s"), ((col("s") * 2 + 1) % n).as("d")),
        struct(col("s"), ((col("s") * 4 + 2) % n).as("d")))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
    val seeds = spark.range(0, n, 16).select(col("id").as("n"))
    val a = ranksOf(Rank.personalizedPageRank(base, "s", "d", seeds, "n",
                                              iters = 3, damping = 0.75))
    val b = ranksOf(Rank.personalizedPageRank(base.repartition(7), "s", "d",
                                              seeds, "n",
                                              iters = 3, damping = 0.75))
    assert(a === b) // dyadic arithmetic, order-free
    assert(a.size === n)
    // seeds hold their restart floor; total mass stays seed-anchored
    seeds.as[Long].collect().foreach(sd => assert(a(sd) >= 0.25))
    // two returned frames may legitimately hold their final checkpoint
    // each; everything superseded must be gone
    val alive = spark.sparkContext.getPersistentRDDs.size
    assert(alive <= 2, s"leaked checkpoint blocks: $alive alive")
    Blocks.freeAll(spark)
  }

  test("hits hand-check: integer auth/hub iteration on the tri graph") {
    // a1 = indeg = (0,1,2); h1 = out-sum of a1 = (3,2,0);
    // a2 = in-sum of h1 = (0,3,5); h2 = out-sum of a2 = (8,5,0)
    val out = Rank.hits(tri, "s", "d", iters = 2)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out === Map(1L -> ((0L, 8L)), 2L -> ((3L, 5L)),
                       3L -> ((5L, 0L))))
  }

  test("hits is partition-independent and splits hub from authority") {
    val n = 128
    val base = spark.range(n).select(col("id").as("s"))
      .select(explode(array(
        struct(col("s"), ((col("s") * 2 + 1) % n).as("d")),
        struct(col("s"), ((col("s") * 4 + 2) % n).as("d")))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Rank.hits(df, "s", "d", iters = 3)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val a = run(base)
    assert(a === run(base.repartition(7)))
    // in-degrees split 0/2/4 while out-degree is uniform 2: auth must
    // vary across nodes, so the two columns are genuinely different
    // signals (a blended impostor would correlate them perfectly)
    assert(a.map(_._2).distinct.size > 1)
    assert(a.count(_._2 === 0L) > 0, "zero-indegree nodes keep auth 0")
  }

  test("dense-bipartite inputs auto-route to the degree-capped subgraph (r16)") {
    import graft.operators.{Graph, GraphRoute}
    // dense bipartite: 200 left × 70 right complete — mean out-degree
    // (200·70·2)/(270) ≈ 104 > the 64 cutoff; both directions present
    // (the Scale1000 bipDirected shape)
    val bip = spark.range(200).select(col("id").as("a"))
      .crossJoin(spark.range(70).select((col("id") + 1000L).as("b")))
    val dir2 = bip.select(col("a").as("s"), col("b").as("d"))
      .union(bip.select(col("b").as("s"), col("a").as("d")))
    val cap = GraphRoute.DefaultCap
    // each call's result with the one graph.route it recorded
    def route[T](body: => T): (T, String) = {
      val (r, ds) = Decision.capture(body)
      (r, decision(ds, "graph.route").route)
    }
    val (routed, r0) = route(ranksOf(Rank.pageRank(dir2, "s", "d",
                                                   iters = 2, damping = 0.5)))
    assert(r0 === s"capped($cap)")
    // routed scores = EXACT scores of the capped subgraph (the
    // deterministic cap: each node's `cap` smallest neighbors)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("d"))
    val cappedEdges = dir2.withColumn("rk", row_number().over(w))
      .where(col("rk") <= cap).drop("rk")
    spark.conf.set("spark.graft.graph.denseRoute", "direct")
    try {
      val (expected, r1) = route(ranksOf(Rank.pageRank(cappedEdges, "s", "d",
                                                       iters = 2, damping = 0.5)))
      // the capped subgraph is itself sparse (mean degree = cap < 64)
      assert(r1 === "direct")
      assert(routed === expected)
      // the loud opt-out really runs uncapped — hub mass spreads over
      // all 200 in-neighbors, so scores differ from the capped run
      val (direct, r2) = route(ranksOf(Rank.pageRank(dir2, "s", "d",
                                                     iters = 2, damping = 0.5)))
      assert(r2 === "direct-forced")
      assert(direct !== routed)
    } finally spark.conf.set("spark.graft.graph.denseRoute", "cap")
    // sparse graphs (every kNN/planted gate) route through untouched
    assert(route(ranksOf(Rank.pageRank(tri, "s", "d", iters = 1,
                                       damping = 0.5)))._2 === "direct")
    // `off` skips the profile job entirely and still computes exactly
    spark.conf.set("spark.graft.graph.denseRoute", "off")
    try {
      val (r, r3) = route(ranksOf(Rank.pageRank(tri, "s", "d", iters = 1,
                                                damping = 0.5)))
      assert(r3 === "off")
      assert(r === Map(1L -> 0.5, 2L -> 0.75, 3L -> 1.25))
    } finally spark.conf.set("spark.graft.graph.denseRoute", "cap")
    // r17 (verdict item 2): routing is PER-FAMILY — the reach family
    // does NOT cap. Capped BFS answered a different question (15,616
    // of 15.0M truly reachable at 1000×); dense graphs now run exact
    // frontier-delta relaxation and the route records "frontier".
    val seeds = Seq(0L).toDF("seed")
    val (dDense, r4) = route(Graph.bfsDistances(dir2, "s", "d", seeds, "seed",
                                                maxIters = 3)
      .as[(Long, Long)].collect().toMap)
    assert(r4 === "frontier")
    // exact reach on the dense bipartite graph: the seed reaches all
    // 70 right nodes in 1 hop and the other 199 left nodes in 2
    assert(dDense.size === 270)
    assert(dDense(0L) === 0L)
    assert((1000L until 1070L).forall(b => dDense(b) === 1L))
    assert((1L until 200L).forall(a => dDense(a) === 2L))
    graft.Blocks.freeAll(spark)
  }

  test("routeDense cap: kept set is the value-total-order smallest per src (r17)") {
    import graft.operators.GraphRoute
    // pins the kept-set CONTRACT independent of implementation (the
    // r17 A/B swapped the cap stage to a typed bounded agg and back —
    // SCALE1000_r17_bip.json holds the refutation; this test is what
    // makes any future swap safe). Hub src 7: 500 edges over 40 dsts
    // × 11 weights (duplicates included); src 8 adds duplicate and
    // tie rows. Mean degree 503/2 >> 64 → dense → capped.
    val e = spark.range(500)
      .select(lit(7L).as("src"), (col("id") % 40).as("dst"),
              (col("id") % 11).as("w"))
      .union(Seq((8L, 1L, 5L), (8L, 1L, 5L), (8L, 2L, 0L))
        .toDF("src", "dst", "w"))
    val cap = GraphRoute.DefaultCap
    val (gotDf, ds) = Decision.capture(GraphRoute.routeDense(
        e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        "spec"))
    val got = gotDf.as[(Long, Long, Long)].collect().toSeq.sorted
    assert(decision(ds, "graph.route").route === s"capped($cap)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"), col("w"))
    val expected = e.withColumn("rk", row_number().over(w))
      .where(col("rk") <= cap).drop("rk")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got === expected)
    // column order and names survive the cap round-trip
    assert(got.count(_._1 === 8L) === 3) // sub-cap src keeps everything
    graft.Blocks.freeAll(spark)
  }

  test("label propagation: disconnected cliques converge to distinct labels") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
                    (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("a", "b")
    val out = graft.operators.Rank.labelPropagation(pairs, "a", "b", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).map(out) === Seq(1L, 1L, 1L))
    assert(Seq(10L, 11L, 12L).map(out) === Seq(10L, 10L, 10L))
    Blocks.freeAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("label propagation majority beats min: a 2-vs-1 HIGH label wins") {
    import spark.implicits._
    // round 1: twin pendants 5,6 of node 9 take label 9; node 2
    // (pendant of 3) takes label 3. Round 2 at node 100 (nbrs 5,6,2):
    // votes {9: 2, 3: 1} -> majority 9 wins even though 3 < 9 — the
    // min rule is a TIE-break, not the decision
    val pairs = Seq((5L, 9L), (6L, 9L), (2L, 3L),
                    (100L, 5L), (100L, 6L), (100L, 2L)).toDF("a", "b")
    val out = graft.operators.Rank.labelPropagation(pairs, "a", "b", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(out(100L) === 9L)
    Blocks.freeAll(spark)
  }

  test("label propagation beyond-broadcast fallback is bit-identical to the broadcast form") {
    import spark.implicits._
    // a chain + two cliques so rounds actually move labels around
    val pairs = ((1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L),
          (200L, 201L), (201L, 202L), (200L, 202L), (202L, 40L)))
      .toDF("a", "b")
    val bc = graft.operators.Rank.labelPropagation(pairs, "a", "b", iters = 3)
      .as[(Long, Long)].collect().toMap
    Blocks.freeAll(spark)
    val fb = graft.operators.Rank.labelPropagation(pairs, "a", "b", iters = 3,
        maxBroadcastNodes = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fb === bc)
    Blocks.freeAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("beyond-broadcast LPA round shuffles labels, never the cached edges") {
    import spark.implicits._
    // Replicates one fallback round's join shape (Rank.scala): edges
    // hash-partitioned on src and persisted ONCE; the label stream
    // hinted shuffle-hash. The plan must show exactly TWO hash
    // exchanges — the label side entering the join and the (dst,
    // label) partial-agg stream — and a ShuffledHashJoin; a third
    // exchange would mean the edge cache re-shuffles per round.
    val e = (1L to 500L).map(i => (i, i % 97)).toDF("src", "dst")
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()
    val lab = (1L to 500L).map(i => (i, i)).toDF("src", "label")
      .hint("shuffle_hash")
    val counts = e.join(lab, "src")
      .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
    counts.collect()
    val p = counts.queryExecution.executedPlan.toString
    // look only at the executed (final) section; the InMemoryRelation
    // repr re-prints its one-time REPARTITION_BY_COL build plan, which
    // is not a per-round exchange
    val finalSection = p.substring(0, math.max(p.indexOf("== Initial Plan =="), 0) match {
      case 0 => p.length; case i => i
    })
    assert(finalSection.contains("ShuffledHashJoin"), p)
    // the join's streamed (left) child must be the edge cache scan
    // itself — an Exchange there would mean edges re-shuffle per round
    assert("ShuffledHashJoin[^\\n]*\\n[^\\n]*(TableCacheQueryStage|InMemoryTableScan)"
      .r.findFirstIn(finalSection).isDefined,
      s"edge cache not streamed directly into the join\n$p")
    e.unpersist(true)
  }
}
