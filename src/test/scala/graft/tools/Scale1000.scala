package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft._
import graft.operators.Dedup
import graft.functions.TextFunctions
import graft.queries.RelationalQueries

/** 1000× probe tier (test scope — never ships): the five
  * scale-critical families run against a 1000× derived set
  * (`graft.ScaleN <sf0.1> /tmp/sf1000x 1000` — ~600M lineitem / 150M
  * orders / 100M events / 5M documents in 1000-DEEP exact-dup groups /
  * 2M embeddings) under the same 16 GiB executor-like heap as the
  * 100× tier (SCALE100.md). 100× was conquered (zero spill, zero
  * exclusions); this tier exists to find the next wall before a user
  * does.
  *
  * The known-by-algebra wall this tier makes measurable: MEMBER-PAIR
  * EXPANSION. Collapse-first keeps all join work linear in the 5k
  * unique texts, but the member-pair OUTPUT of a d-deep dup group is
  * d(d-1)/2 rows — ~2.5B pairs at d=1000 (vs 27M at d=100: ×90 output
  * for ×10 data, exactly quadratic). The probe times it honestly, and
  * times the scale-correct ROUTING next to it: consume the
  * cluster/keeper table (pairs on uniques → CC on the group graph →
  * ONE member-map join, output linear at 5M rows) instead of
  * materialized member pairs.
  *
  * Usage: Test/runMain graft.tools.Scale1000 /tmp/sf1000x [outJson]
  */
object Scale1000 {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1000x")
    // SPARK_GRAFT_SHUFFLE decouples partition COUNT from thread count:
    // the r13 verdict's partition-sizing spill claim (per-partition
    // hash-map/sort pressure at 32 partitions, not plan shape) is
    // proven by rerunning the heavy rows at 128/256 partitions on the
    // same 32 threads — a production cluster's thousands of reduce
    // partitions, emulated on one box.
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
              sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
                sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, dir).limit(1000).groupBy("l_returnflag").count().collect()

    val out = new StringBuilder
    val only = sys.env.get("SCALE1000_ONLY").map(_.split(",").toSet)
    // the decisions the last run recorded (none when it was skipped)
    var decided = Seq.empty[Decision]
    def run(label: String)(body: => Long): Unit = {
      decided = Nil
      if (!only.forall(_.contains(label))) return
      val (row, p) = ProbeRow(spark, label, "SCALE FAIL")(body)
      decided = p.decisions
      val line = row + "}"
      println("SCALE1000 " + line)
      out.append(line).append('\n')
    }
    def runDf(label: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      run(label)(df.count())

    // ---- headline context: the flagship over 600M lineitem rows
    runDf("pipeline_material_demand")(
      SparkEntry.queries("pipeline_material_demand")(spark, dir))
    runDf("agg_groupby_sum")(SparkEntry.queries("agg_groupby_sum")(spark, dir))

    // ---- family 1: exact dedup — 5M docs → 5k fingerprint groups
    runDf("dedup_exact")(SparkEntry.queries("dedup_exact")(spark, dir))

    // ---- family 2: minhash pair generation
    // (a) the linear object: band join + verify over the 5k UNIQUES
    //     (what collapse-first reduces every corpus to)
    val keepers = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(TextFunctions.fingerprint(col("text")))
      Tables.documents(spark, dir)
        .withColumn("keeper", min(col("doc_id")).over(w))
        .where(col("doc_id") === col("keeper"))
        .select(col("doc_id"), col("text"))
    }
    runDf("minhash_pairs_uniques") {
      Dedup.minhashPairs(keepers.localCheckpoint(), "doc_id", "text")
    }
    // (b) the quadratic object, timed honestly: full member-pair
    //     expansion over 1000-deep groups (~2.5B output rows)
    runDf("minhash_pairs_full_expansion") {
      Dedup.minhashPairs(Tables.documents(spark, dir), "doc_id", "text")
    }

    // ---- family 3: cluster resolution, the scale-correct route —
    // CC (star) on the GROUP graph, then one member-map join: output
    // 5M keeper rows, never 2.5B pairs
    runDf("cc_star_group_graph_member_map") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(TextFunctions.fingerprint(col("text")))
      val mem = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .withColumn("gid", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("gid"))
        .localCheckpoint()
      val uniq = mem.where(col("doc_id") === col("gid"))
        .join(Tables.documents(spark, dir), "doc_id")
        .select(col("doc_id"), col("text"))
      val groupPairs = Dedup.minhashPairs(uniq.localCheckpoint(),
        "doc_id", "text")
      val labels = Dedup.clustersStar(groupPairs, "doc_a", "doc_b")
        .withColumnRenamed("doc_id", "gid")
      // every member inherits its group keeper's cluster label; docs
      // whose group has no near-dup edge keep gid as the label
      mem.join(labels, Seq("gid"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("gid")).as("cluster_rep"))
    }

    // ---- family 4: persisted ANN index build + probe over 2M vectors
    run("ann_index_build_2m") {
      val root = java.nio.file.Files
        .createTempDirectory("graft-ann-1000x").toString + "/idx"
      spark.conf.set("spark.graft.scale1000.annRoot", root)
      graft.sources.AnnIndex.build(spark, Tables.embeddings(spark, dir),
        root, cells = 64, nFiles = 64)
    }
    runDf("ann_index_probe_2m") {
      val root = spark.conf.get("spark.graft.scale1000.annRoot")
      graft.sources.AnnIndex.probe(spark, root,
        Tables.embeddings(spark, dir).where(col("vec_id") < 10),
        k = 10, nprobe = 8)
    }

    // ---- family 5: persisted inverted index build + probe over 5M docs
    // nFiles sizes the clustered-write sort partitions (the build's one
    // essential exchange) — the corpusBytes/targetFileBytes rule from
    // the writeSegment doc; SCALE1000_INV_NFILES probes the knob
    val invNFiles = sys.env.get("SCALE1000_INV_NFILES").map(_.toInt)
      .getOrElse(64)
    run(s"inv_index_build_5m") {
      val root = java.nio.file.Files
        .createTempDirectory("graft-inv-1000x").toString + "/idx"
      spark.conf.set("spark.graft.scale1000.invRoot", root)
      graft.sources.InvertedIndex.build(spark, Tables.documents(spark, dir),
        root, nBuckets = 64, nFiles = invNFiles)
    }
    runDf("inv_index_probe_5m") {
      val root = spark.conf.get("spark.graft.scale1000.invRoot")
      graft.sources.InvertedIndex.probe(spark, root,
        Seq("spark", "window", "merge"), k = 10)
    }

    // ---- family 6: per-doc term statistics over 5M docs — the
    // queries converted off the explode+groupBy(doc_id, term) shape
    // after inv_index_build_5m exposed it (graft_term_counts rows).
    // Consume EVERY output column through a hash-sum: after the
    // conversion these are (mostly) per-row projections, and a bare
    // count() would let ColumnPruning erase the very computation being
    // measured (text_repetition "ran" in 1.06 s that way — the
    // optimizer had deleted the gram lambdas and term counting).
    def runHash(label: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      run(label) {
        val d = df
        // bit_xor, not sum: ANSI mode kills a long sum of 5M hashes
        d.select(xxhash64(d.columns.map(col): _*).as("h"))
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)")).head().getLong(0)
      }
    runHash("tfidf_top_term_5m")(
      SparkEntry.queries("tfidf_top_term")(spark, dir))
    runHash("rare_token_stats_5m")(
      SparkEntry.queries("rare_token_stats")(spark, dir))
    runHash("text_repetition_5m")(
      SparkEntry.queries("text_repetition")(spark, dir))

    // ---- family 7: per-source quality percentile filter — exact
    // window form vs the documented 100 TB approx swap (SURVEY 31b/
    // 31b2), both on the native quality scan, at 5M docs
    runHash("quality_filter_5m")(
      SparkEntry.queries("quality_filter")(spark, dir))
    runHash("quality_filter_approx_5m")(
      SparkEntry.queries("quality_filter_approx")(spark, dir))

    // ---- family 8: winnowing fingerprints over 5M docs — per-row
    // native scan (graft_winnow), the r12 conversion off interpreted
    // gram-md5 HOFs
    runDf("winnow_fingerprint_5m")(
      SparkEntry.queries("winnow_fingerprint")(spark, dir))
    // the production xxhash64 digest next to the md5 oracle form — the
    // r14 verdict item 6 A/B (md5 EVALUATION is the winnow wall:
    // ~2B digest calls, 2,204 task-s at this tier)
    runDf("winnow_xx_5m")(
      SparkEntry.queries("winnow_xx")(spark, dir))

    // ---- family 9: segment-level corpus dedup (global boilerplate
    // excision + per-doc reassembly) and the IVF-PQ ANN artifact at 2M
    // vectors (the 32x-smaller ADC code path, vs family 4's plain IVF)
    runHash("dedup_lines_5m")(
      SparkEntry.queries("dedup_lines")(spark, dir))
    runHash("strip_boilerplate_5m")(
      SparkEntry.queries("strip_boilerplate")(spark, dir))
    run("ann_pq_build_2m") {
      val root = java.nio.file.Files
        .createTempDirectory("graft-annpq-1000x").toString + "/idx"
      spark.conf.set("spark.graft.scale1000.annPqRoot", root)
      graft.sources.AnnIndex.build(spark, Tables.embeddings(spark, dir),
        root, cells = 64, nFiles = 64, pqSubspaces = 8)
    }
    runDf("ann_pq_probe_2m") {
      val root = spark.conf.get("spark.graft.scale1000.annPqRoot")
      graft.sources.AnnIndex.probePq(spark, root,
        Tables.embeddings(spark, dir).where(col("vec_id") < 10),
        k = 10, nprobe = 8)
    }

    // ---- family 10 (r13): CDC — 600M change feed → 150M latest keys
    // merged against the 150M-row target. The r12 verdict question:
    // does latestPerKey's map-side max_by SortAggregate still hold at
    // 6× the 100× feed, and what does the full-outer merge join spill?
    // hash-consumed (NOT runDf): count() of a groupBy prunes the
    // aggregate functions themselves — the bare-count form measured a
    // plain DISTINCT on the key, not latestPerKey (caught r13: the
    // packed-agg fix changed the merge rows but left this row's bytes
    // identical)
    runHash("cdc_latest_per_key")(
      SparkEntry.queries("cdc_latest_per_key")(spark, dir))
    runHash("cdc_merge_apply")(SparkEntry.queries("cdc_merge_apply")(spark, dir))
    def cdcTarget1000 = Tables.orders(spark, dir).select( // = RelationalQueries.cdcTarget
      col("o_orderkey").as("order_key"),
      col("o_totalprice").as("total_price"),
      col("o_orderstatus").as("status"))
    // the documented SHJ fast path is for BOUNDED deltas (the usual
    // CDC shape: a day's changes vs the full table). With the
    // corpus-sized delta above it rightly DIES ("not enough memory to
    // build hash map", measured r13) — so the row probes the shape
    // the hint is FOR: a 1% delta against the 150M-row target.
    runHash("cdc_merge_apply_shj_1pct") {
      val latest = RelationalQueries.cdcLatestPerKey(spark, dir)
        .where(col("order_key") % 100 === 0)
        .select(col("order_key"), col("op"),
          col("new_price").as("total_price"), lit("NEW").as("status"))
      graft.operators.Cdc.mergeApply(cdcTarget1000, latest, "order_key",
        joinHint = "shuffle_hash")
    }
    // same 1% delta through the default sort-merge plan — the A/B
    // that shows what the hash build buys when it fits
    runHash("cdc_merge_apply_smj_1pct") {
      val latest = RelationalQueries.cdcLatestPerKey(spark, dir)
        .where(col("order_key") % 100 === 0)
        .select(col("order_key"), col("op"),
          col("new_price").as("total_price"), lit("NEW").as("status"))
      graft.operators.Cdc.mergeApply(cdcTarget1000, latest, "order_key")
    }
    runHash("upsert_on_conflict")(
      SparkEntry.queries("upsert_on_conflict")(spark, dir))
    runHash("scd2_dimension")(SparkEntry.queries("scd2_dimension")(spark, dir))

    // ---- family 11 (r13): window/sessionize — 100M events in
    // per-user sort partitions; 150M orders under the per-customer
    // top-k window; the day-grain streak dedup
    runDf("events_sessionize")(
      SparkEntry.queries("events_sessionize")(spark, dir))
    runHash("events_hourly")(SparkEntry.queries("events_hourly")(spark, dir))
    runDf("topk_orders_per_cust")(
      SparkEntry.queries("topk_orders_per_cust")(spark, dir))
    runDf("activity_streaks")(
      SparkEntry.queries("activity_streaks")(spark, dir))
    runHash("retention_cohorts")(
      SparkEntry.queries("retention_cohorts")(spark, dir))

    // ---- family 12 (r13): containment / substring / semantic dedup
    // over the FULL 1000× corpus (registered gates bound their corpus
    // for the DuckDB twin; the operators here run unbounded — the
    // 100× precedent of SCALE100.md, one tier up)
    runDf("dedup_containment_5m") {
      Dedup.containmentPairs(Tables.documents(spark, dir), "doc_id", "text",
        dfNum = 1, dfDen = 5, minNum = 1, minDen = 2, maxJoinTokens = 16)
    }
    runHash("dedup_substring_5m")(
      SparkEntry.queries("dedup_substring")(spark, dir))
    runDf("semdedup_2m")(
      SparkEntry.queries("semdedup")(spark, dir)
        .groupBy(col("keep")).agg(count(lit(1)).as("n")))

    // ---- family 13 (r13): the graph family at 1000×. The honest
    // corpus-scale surface is the kNN co-occurrence CONSTRUCTION over
    // 600M lineitem rows (one collect_set shuffle + in-row pair
    // expansion + one (u,v) partial agg + the per-node top-k window);
    // the resulting mutual-OR kNN graph is node-bounded (~1M supplier
    // nodes × k=20) at ANY data scale — that boundedness is exactly
    // the scale claim, so the iterative operators then run on
    // identical materialized input, same discipline as the 100× tier's
    // pair-graph block (SCALE100.md).
    val knnPath = s"$dir/__knn_edges"
    run("graph_knn_build_600m") {
      // the adopted operator shape (distinct + self-join; see
      // Graph.coOccurrencePairs scaladoc for the r13 A/B: 126 s vs
      // the collect_set form's 355 s / 82+20 GB spill at this tier)
      val weighted = graft.operators.Graph.coOccurrencePairs(
        Tables.lineitem(spark, dir), "l_orderkey", "l_suppkey")
      graft.operators.Graph.topKEdges(weighted, 20)
        .write.mode("overwrite").parquet(knnPath)
      spark.read.parquet(knnPath).count()
    }
    // (the rejected collect_set/ObjectHashAggregate form was measured
    // here for the A/B — 355 s / 82.7+19.8 GB spill, and under
    // residual block-manager pressure it died outright with
    // UNABLE_TO_ACQUIRE_MEMORY — recorded in SCALE1000.md and the
    // Graph.coOccurrencePairs scaladoc, then removed so artifact runs
    // stay green)
    def knn = spark.read.parquet(knnPath)
    def knnDirected = knn.select(col("u").as("src"), col("v").as("dst"))
      .union(knn.select(col("v").as("src"), col("u").as("dst")))
    def seeds = Tables.supplier(spark, dir)
      .where(col("s_suppkey") % 1000 === 0).select(col("s_suppkey"))
    runDf("triangle_counts_knn")(graft.operators.Graph.triangleCounts(knn))
    runDf("ktruss_knn")(graft.operators.Graph.ktruss(knn, k = 4, maxIters = 3))
    runDf("kcore_knn")(graft.operators.Graph.kcore(knn, k = 8, maxIters = 4))
    runDf("pagerank_knn")(graft.operators.Rank.pageRank(
      knnDirected, "src", "dst", iters = 3, damping = 0.85))
    runDf("lpa_knn")(graft.operators.Rank.labelPropagation(knn, "u", "v", 3))
    runDf("hits_knn")(graft.operators.Rank.hits(
      knnDirected, "src", "dst", iters = 3))
    runDf("bfs_knn")(graft.operators.Graph.bfsDistances(
      knnDirected, "src", "dst", seeds, "s_suppkey", maxIters = 3))
    runDf("sssp_knn")(graft.operators.Graph.ssspDistances(
      knnDirected.withColumn("w", col("src") % 3 + 1),
      "src", "dst", "w", seeds, "s_suppkey", maxIters = 3))
    runDf("ppr_knn")(graft.operators.Rank.personalizedPageRank(
      knnDirected, "src", "dst", seeds, "s_suppkey",
      iters = 3, damping = 0.75))

    // ---- family 13c (r13): corpus-scale ITERATIVE graph probe. The
    // kNN supplier graph above is node-bounded at ~1k by design
    // (suppliers are a dim — they don't grow with data volume), so
    // its iterative rows finish in seconds. The graph whose NODE set
    // scales with the fact tables is customer–supplier: custkey
    // shifts with SF (1.5M customers at 1000×), edges come from the
    // full 600M-row fact join, ~60M distinct — node ids disjoint by
    // a 10^8 supplier offset.
    val bipPath = s"$dir/__cust_supp_edges"
    run("graph_bipartite_build_600m") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"),
                col("l_suppkey").cast("long").as("supp"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey").as("o"), col("o_custkey").as("cust")),
          "o")
        .select(col("cust"), (col("supp") + lit(100000000L)).as("supp"))
        .distinct()
        .write.mode("overwrite").parquet(bipPath)
      spark.read.parquet(bipPath).count()
    }
    def bip = spark.read.parquet(bipPath)
    def bipDirected = bip.select(col("cust").as("src"), col("supp").as("dst"))
      .union(bip.select(col("supp").as("src"), col("cust").as("dst")))
    def bipSeeds = Tables.orders(spark, dir)
      .where(col("o_custkey") % 1000 === 0)
      .select(col("o_custkey").as("seed")).distinct()
    runDf("pagerank_bipartite")(graft.operators.Rank.pageRank(
      bipDirected, "src", "dst", iters = 3, damping = 0.85))
    // LPA on the UNCAPPED bipartite graph dies by algebra, not by
    // plan: round 1's (dst, label) count table is edge-sized when a
    // high-degree node's neighbor labels are all distinct (a 600k-
    // degree supplier sees ~600k distinct customer labels), measured
    // AGGREGATE_OUT_OF_MEMORY at 1.17B directed edges. The routing —
    // as for every similarity-graph operator — is degree-cap first:
    // LPA's production home is bounded-degree near-dup graphs.
    runDf("lpa_bipartite_capped") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cust")).orderBy(col("supp"))
      val capped = bip.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 20).drop("rk")
      graft.operators.Rank.labelPropagation(capped, "cust", "supp", 3)
    }
    runDf("bfs_bipartite")(graft.operators.Graph.bfsDistances(
      bipDirected, "src", "dst", bipSeeds, "seed", maxIters = 3))
    runDf("sssp_bipartite")(graft.operators.Graph.ssspDistances(
      bipDirected.withColumn("w", col("src") % 3 + 1),
      "src", "dst", "w", bipSeeds, "seed", maxIters = 3))
    runDf("ppr_bipartite")(graft.operators.Rank.personalizedPageRank(
      bipDirected, "src", "dst", bipSeeds, "seed",
      iters = 3, damping = 0.75))

    // ---- family 14 (r13): ANN recall at the PRODUCTION cell count —
    // the cells ≈ √n sizing rule validated at 2M vectors (verdict r12
    // #8: the 1000× index gates use cells=64; nothing measured recall
    // at cells=1448). ScaleN copies embedding VALUES verbatim (2k
    // distinct vectors in 1000-deep dup groups) — degenerate for a
    // recall curve, every query's true top-10 is its own copies — so
    // the family first materializes a deterministically JITTERED
    // corpus (±5%-scale per-dim hash noise): 2M distinct vectors in
    // ~2k natural clusters, the shape a real embedding corpus has.
    val prodVecPath = s"$dir/__ann_prod_vectors"
    runDf("ann_prod_vectors_materialize") {
      Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x + ((pmod(xxhash64(col("vec_id"), i), lit(1001)) - 500)
              .cast("double") / 10000.0)).cast("float")).as("embedding"))
        .write.mode("overwrite").parquet(prodVecPath)
      spark.read.parquet(prodVecPath)
    }
    def prodVecs = spark.read.parquet(prodVecPath)
    // query set: MIXTURE vectors (mean of jittered base-i and
    // base-(i+7) copies) — corpus members are too easy at production
    // cell counts (a query's true top-10 is its own cluster, which
    // lives in its own cell: measured recall@10 = 1.0 at nprobe=1 for
    // ALL nprobe). A between-clusters query's truth spans ≥2 clusters,
    // so the curve actually exercises the nprobe knob.
    def prodQueries = {
      val a = prodVecs.where(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), col("embedding").as("ea"))
      val b = prodVecs
        .where(col("vec_id") >= 1000007L && col("vec_id") < 1000107L)
        .select((col("vec_id") - 1000007L).as("query_id"),
                col("embedding").as("eb"))
      a.join(b, "query_id").select(col("query_id").as("vec_id"),
        zip_with(col("ea"), col("eb"),
          (x, y) => ((x + y) / lit(2.0f)).cast("float")).as("embedding"))
    }
    run("ann_index_build_c1448") {
      val root = java.nio.file.Files
        .createTempDirectory("graft-ann-prod-1000x").toString + "/idx"
      spark.conf.set("spark.graft.scale1000.annProdRoot", root)
      graft.sources.AnnIndex.build(spark, prodVecs, root,
        cells = 1448, nFiles = 64)
    }
    // exact ground truth, timed as its own row (r13 lesson: computing
    // it lazily inside the first probe block mis-attributed 178 s of
    // brute force to nprobe=1)
    var truth: Map[Long, Set[Long]] = Map.empty
    run("ann_truth_bruteforce_2m") {
      truth = graft.operators.Similarity
        .bruteForceTopK(prodQueries.localCheckpoint(), prodVecs, 10)
        .select(col("query_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet }
      truth.size.toLong
    }
    val recalls = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    for (np <- Seq(1, 4, 12, 38, 76)) {
      run(s"ann_probe_c1448_np$np") {
        val root = spark.conf.get("spark.graft.scale1000.annProdRoot")
        val got = graft.sources.AnnIndex.probe(spark, root, prodQueries,
            k = 10, nprobe = np)
          .select(col("query_id"), col("neighbor_id")).collect()
          .groupBy(_.getLong(0)).map { case (q, rs) =>
            q -> rs.map(_.getLong(1)).toSet }
        val r = truth.map { case (q, t) =>
          got.getOrElse(q, Set.empty[Long]).intersect(t).size / 10.0
        }.sum / math.max(truth.size, 1)
        recalls(np) = r
        got.size.toLong
      }
    }
    if (recalls.nonEmpty) {
      val curve = recalls.map { case (np, r) =>
        f""""np$np":$r%.4f""" }.mkString("{", ",", "}")
      val monotone = recalls.values.toSeq.sliding(2)
        .forall(p => p.size < 2 || p(1) >= p(0) - 1e-9)
      val line = s"""{"query":"ann_recall_curve_c1448","curve":$curve,""" +
        s""""monotone":$monotone}"""
      println("SCALE1000 " + line)
      out.append(line).append('\n')
    }

    // ---- family 15 (r16): persisted trigram grep index — build over
    // 5M docs (postings are doc-count-linear: distinct trigrams per
    // doc), then a bounded literal sweep whose cost tracks the
    // patterns' posting lists, not the corpus
    val grepRoot = s"$dir/__grep_index"
    run("grep_index_build_5m") {
      graft.sources.GrepIndex.build(spark, Tables.documents(spark, dir),
        "doc_id", "text", grepRoot, nFiles = 32)
      val segs = graft.sources.GrepIndex.catalogOf(spark, grepRoot)
      spark.read.parquet(segs.map(_.postings): _*).count()
    }
    runDf("grep_index_probe_5m")(graft.sources.GrepIndex.probe(spark,
      grepRoot, Seq((0L, "merge part window"), (1L, "batch batch batch"),
        (2L, "customer line"), (3L, "zzzz never present"))))
    // the last record of an op wins; "n/a" for a step that never ran
    def last(op: String) = decided.findLast(_.op == op)
    if (!only.exists(o => !o.contains("grep_index_probe_5m")))
      println("SCALE1000_NOTE grep route " + last("grep.route").fold("n/a")(_.route) +
        " postings file prune " + last("grep.postings").fold("n/a")(d => s"${d.kept}/${d.total}"))

    args.lift(1).foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        out.toString)
    }
    println("SCALE1000 done")
    spark.stop()
  }
}
