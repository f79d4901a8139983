package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft._
import graft.operators.{Cdc, Dedup}
import graft.queries.RelationalQueries

/** Scale-validation harness (test scope — never ships): runs the
  * dedup + CDC families and the headline analytics against an N×
  * derived SF dir (generate with `graft.ScaleN <sf0.1> <out> 100`),
  * printing one JSON line per query with wall seconds AND the
  * stage-metric evidence the 10× runs could not provide: bytes
  * spilled (memory/disk), shuffle read/write volume, and peak
  * execution memory. This is the artifact behind SURVEY §5a — the
  * point where "would survive 100×" claims stop being extrapolation.
  *
  * Usage: Test/runMain graft.tools.Scale100 /tmp/sf100x [outJson]
  */
object Scale100 {

  final class StageMetrics extends SparkListener {
    private var spillMem, spillDisk, shufRead, shufWrite, taskMs = 0L
    private var peakExec = 0L
    def reset(): Unit = synchronized {
      spillMem = 0; spillDisk = 0; shufRead = 0; shufWrite = 0
      taskMs = 0; peakExec = 0
    }
    def snapshot: Map[String, Long] = synchronized {
      Map("spill_mem" -> spillMem, "spill_disk" -> spillDisk,
          "shuffle_read" -> shufRead, "shuffle_write" -> shufWrite,
          "task_ms" -> taskMs, "peak_exec_mem" -> peakExec)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          spillMem += m.memoryBytesSpilled
          spillDisk += m.diskBytesSpilled
          shufRead += m.shuffleReadMetrics.totalBytesRead
          shufWrite += m.shuffleWriteMetrics.bytesWritten
          taskMs += m.executorRunTime
          peakExec = math.max(peakExec, m.peakExecutionMemory)
          // SCALE_STAGE_VERBOSE=1: per-stage attribution for hunting
          // where a query's task time actually goes
          if (sys.env.get("SCALE_STAGE_VERBOSE").contains("1"))
            println(f"STAGE ${s.stageInfo.stageId}%5d " +
              f"task_s=${m.executorRunTime / 1000}%7d " +
              f"spill=${(m.memoryBytesSpilled + m.diskBytesSpilled) / (1L << 20)}%6d MB " +
              f"tasks=${s.stageInfo.numTasks}%4d  ${s.stageInfo.name.take(120)}")
        }
      }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf100x")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
              sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new StageMetrics
    spark.sparkContext.addSparkListener(metrics)
    // warmup (untimed): JVM/codegen costs identical to Bench's rationale
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, dir).limit(1000).groupBy("l_returnflag").count().collect()

    val out = new StringBuilder
    // SCALE100_ONLY=a,b,c restricts to a label subset for local
    // iteration (same convention as Verify's SPARK_GRAFT_ONLY);
    // artifact runs leave it unset.
    val only = sys.env.get("SCALE100_ONLY").map(_.split(",").toSet)
    // the decisions the last run recorded (none when it was skipped)
    var decided = Seq.empty[Decision]
    def run(label: String)(df: => DataFrame): Unit = {
      decided = Nil
      if (only.forall(_.contains(label))) runAlways(label)(df)
    }
    def runAlways(label: String)(df: => DataFrame): Unit = {
      // settle the async listener bus so the previous query's last
      // stages don't bleed into this window (diagnostic tool: a 1 s
      // sleep is simpler than reaching into the private listener bus)
      Thread.sleep(1000); metrics.reset()
      val t0 = System.nanoTime()
      val (n, ds) = Decision.capture(try df.count()
              catch { case t: Throwable =>
                System.err.println(s"SCALE FAIL $label: $t"); -1L })
      decided = ds
      val sec = (System.nanoTime() - t0) / 1e9
      Blocks.freeAll(spark)
      Thread.sleep(1000)
      val m = metrics.snapshot
      val line = f"""{"query":"$label","rows":$n,"sec":$sec%.2f,""" +
        m.map { case (k, v) => s""""$k":$v""" }.mkString("", ",", "}")
      println("SCALE100 " + line)
      out.append(line).append('\n')
    }

    // ---- headline analytics (scale linearly with facts)
    run("pipeline_material_demand")(
      SparkEntry.queries("pipeline_material_demand")(spark, dir))
    run("agg_groupby_sum")(SparkEntry.queries("agg_groupby_sum")(spark, dir))
    run("q3_shipping_priority")(
      SparkEntry.queries("q3_shipping_priority")(spark, dir))
    run("events_sessionize")(SparkEntry.queries("events_sessionize")(spark, dir))

    // ---- CDC family (verdict r6 #7: SortAggregate spill behavior).
    // The registered queries run on the full orders/lineitem feeds, so
    // they scale 100× with the dir. mergeApply additionally compared
    // merge (default) vs shuffle_hash at this scale.
    run("cdc_latest_per_key")(SparkEntry.queries("cdc_latest_per_key")(spark, dir))
    run("cdc_merge_apply")(SparkEntry.queries("cdc_merge_apply")(spark, dir))
    run("cdc_merge_apply_shj") {
      val latest = RelationalQueries.cdcLatestPerKey(spark, dir).select(
        col("order_key"), col("op"),
        col("new_price").as("total_price"), lit("NEW").as("status"))
      val target = Tables.orders(spark, dir).select( // = RelationalQueries.cdcTarget
        col("o_orderkey").as("order_key"),
        col("o_totalprice").as("total_price"),
        col("o_orderstatus").as("status"))
      Cdc.mergeApply(target, latest, "order_key", joinHint = "shuffle_hash")
    }
    run("upsert_on_conflict")(SparkEntry.queries("upsert_on_conflict")(spark, dir))
    run("scd2_dimension")(SparkEntry.queries("scd2_dimension")(spark, dir))

    // ---- dedup family on the FULL 100× corpus (500k docs in
    // 100-deep exact-dup groups — the adversarial shape for LSH)
    run("dedup_exact")(SparkEntry.queries("dedup_exact")(spark, dir))
    run("dedup_minhash_pairs")(
      SparkEntry.queries("dedup_minhash_pairs")(spark, dir))
    run("dedup_minhash_pairs_auto")(
      Dedup.minhashPairs(Tables.documents(spark, dir), "doc_id", "text",
                         pairJoinHint = "auto"))
    run("dedup_embedding_cosine")(
      SparkEntry.queries("dedup_embedding_cosine")(spark, dir))
    run("dedup_simhash")(SparkEntry.queries("dedup_simhash")(spark, dir))
    // r9: containment on the 100-deep-dup corpus — the exact shape the
    // uncollapsed token join went quadratic on (r8 verdict #1)
    run("dedup_containment")(
      SparkEntry.queries("dedup_containment")(spark, dir))
    run("dedup_containment_cross")(
      SparkEntry.queries("dedup_containment_cross")(spark, dir))
    // r9: substring excision on the 100-deep-dup corpus — the collapse
    // must keep all positional work on the 5k distinct texts
    run("dedup_substring")(SparkEntry.queries("dedup_substring")(spark, dir))
    // r9: per-source boilerplate stripping (corpus-sized segment
    // explode + per-(source, seg) df) and MAD anomaly detection (two
    // window sorts over the pre-aggregated daily series)
    run("strip_boilerplate")(SparkEntry.queries("strip_boilerplate")(spark, dir))
    run("anomaly_mad")(SparkEntry.queries("anomaly_mad")(spark, dir))

    // ---- round-10 operators on the full 100× corpus: token-budget
    // mixture + stratified split (one window exchange each), the
    // perceptron learner (2-3 full scans, O(tasks·d) shuffle), the
    // native BPE encoder and Unicode normalizer (scan-only codegen),
    // and the REAL multimodal codecs (encode+decode per doc)
    // count() alone lets Catalyst prune the computed columns (the r9
    // probe lesson) — group/aggregate ON the computed value instead
    run("mixture_token_budget")(SparkEntry.queries("mixture_token_budget")(spark, dir))
    run("stratified_split")(
      SparkEntry.queries("stratified_split")(spark, dir)
        .groupBy("split").count())
    run("perceptron_sound")(SparkEntry.queries("perceptron_sound")(spark, dir))
    run("perceptron_filter")(SparkEntry.queries("perceptron_filter")(spark, dir))
    // GROUP ON the computed column (not a global agg — count() of a
    // global agg constant-folds to 1 row and the scan is eliminated)
    run("bpe_encode_sound")(
      SparkEntry.queries("bpe_encode_sound")(spark, dir)
        .groupBy((length(col("pieces")) % 64).as("b")).count())
    run("bpe_encode")(
      SparkEntry.queries("bpe_encode")(spark, dir)
        .groupBy(col("n_pieces")).count())
    run("nfc_normalize_sound")(
      SparkEntry.queries("nfc_normalize_sound")(spark, dir)
        .groupBy(col("n_composed"), (length(col("norm_text")) % 64).as("b"))
        .count())
    run("multimodal_sound")(
      SparkEntry.queries("multimodal_sound")(spark, dir)
        .groupBy("media_type").agg(sum(col("mean_pixel")), sum(col("n_bytes"))))

    // ---- connected components on the REAL pair graph at 100×
    // (registered dedup_clusters filters doc_id<200 and would not
    // scale; here the pairs come from the full corpus). Materialize
    // the pair stream once so the three CC variants compete on
    // identical input — this is the jump-vs-star crossover probe.
    val pairsPath = s"$dir/__cc_pairs"
    run("cc_pairgen_materialize") {
      Dedup.minhashPairs(Tables.documents(spark, dir), "doc_id", "text")
        .select("doc_a", "doc_b")
        .write.mode("overwrite").parquet(pairsPath)
      spark.read.parquet(pairsPath)
    }
    def pairs = spark.read.parquet(pairsPath)
    run("dedup_clusters_jump")(Dedup.clusters(pairs, "doc_a", "doc_b"))
    run("dedup_clusters_star")(Dedup.clustersStar(pairs, "doc_a", "doc_b"))
    run("dedup_clusters_auto")(Dedup.clustersAuto(pairs, "doc_a", "doc_b"))
    println("SCALE100 cc_choice=" + Decisions.route(decided, "cc.route"))
    // r9: synchronous LPA communities over the SAME 27M-pair graph —
    // per round one edge⋈labels join + two same-key aggs
    run("lpa_pair_graph")(
      graft.operators.Rank.labelPropagation(pairs, "doc_a", "doc_b", 3))
    // r10: the beyond-broadcast fallback (billion-node regime) forced —
    // edges hash-partitioned on src once, only the node-sized label
    // stream shuffles per round; must beat the r9 fallback's 44.9 s /
    // 3.2 GB-per-round edge re-shuffle and stay under the 9.7 GB peak
    run("lpa_pair_graph_nobroadcast")(
      graft.operators.Rank.labelPropagation(pairs, "doc_a", "doc_b", 3,
        maxBroadcastNodes = 0L))

    // ---- iterative rank/cluster operators on the REAL 100× inputs
    // (their registered gates run planted/small-k shapes; these are
    // the production-scale datapoints: rank over the symmetrized
    // ~55M-directed-edge pair graph, k-means over the full 200k
    // embeddings at a realistic cell count)
    run("pagerank_pair_graph") {
      val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.operators.Rank.pageRank(edges, "src", "dst",
                                    iters = 3, damping = 0.85)
    }
    // r9: PCA fit+whiten-project over the full 100× embedding table —
    // the d(d+1)/2 moment partials are the only shuffle
    run("pca_whiten_project") {
      val emb = Tables.embeddings(spark, dir)
      val model = graft.operators.Pca.fit(emb, "embedding", k = 8)
      graft.operators.Pca.project(emb, "embedding", model, whiten = true)
        .select(col("vec_id"), col("proj"))
    }
    run("kmeans_fit_k64") {
      val emb = Tables.embeddings(spark, dir)
      val cents = graft.operators.Cluster.fit(emb, "vec_id", "embedding",
                                              k = 64, maxIters = 3)
      graft.operators.Cluster.assign(emb, "vec_id", "embedding", cents)
        .groupBy(col("cluster_id")).count()
    }

    // ---- round-8 operators: the kNN-graph triangle count (the top-k
    // construction is precisely the scale claim to validate — a weight
    // cut died combinatorially at 10×), the zero-shuffle winnowing
    // HOF pipeline over 500k docs, the dyadic EWMA window, and two of
    // the new TPC-H shapes whose dims stay 1× while facts grow 100×
    run("triangle_counts")(SparkEntry.queries("triangle_counts")(spark, dir))
    run("winnow_fingerprint")(
      SparkEntry.queries("winnow_fingerprint")(spark, dir))
    run("ewma_daily_demand")(
      SparkEntry.queries("ewma_daily_demand")(spark, dir))
    run("ewma_daily_demand_tuned")(
      SparkEntry.queries("ewma_daily_demand_tuned")(spark, dir))
    run("q8_market_share")(SparkEntry.queries("q8_market_share")(spark, dir))
    run("q6_forecast_revenue")(
      SparkEntry.queries("q6_forecast_revenue")(spark, dir))

    // ---- r9 second tier: families with 10× correctness gates but no
    // 100× performance row yet — temporal joins, funnels, text
    // retrieval, packing, fuzzy matching
    for (q <- Seq("asof_clicks", "range_join_bands", "funnel_conversion",
                  "fuzzy_name_match", "gapfill_daily_demand",
                  "retention_cohorts", "quality_filter", "doc_pack",
                  "bm25_search", "pmi_top_pairs"))
      run(q)(SparkEntry.queries(q)(spark, dir))

    // ---- late-r9 TPC-H additions: Q12's fact-fact conditional census
    // (the orderkey shuffle is the scale surface), Q17's brand-filtered
    // rejoin (thresholds stay dim-bounded while the fact grows), Q20's
    // two partkey aggregations over the prefix-filtered subset
    for (q <- Seq("q12_late_by_class", "q17_small_qty_revenue",
                  "q20_dominant_suppliers"))
      run(q)(SparkEntry.queries(q)(spark, dir))

    // ---- late-r9 sampling/selection additions: priority sampling's
    // per-source window sort over the full 500k-doc corpus; DSIR's
    // unigram+bigram explode→256-bucket partial agg then zero-shuffle
    // literal-fold scoring; hard-negative mining's broadcast
    // anchors × full corpus scan
    run("sample_priority")(SparkEntry.queries("sample_priority")(spark, dir))
    run("dsir_select")(SparkEntry.queries("dsir_select")(spark, dir))
    run("ann_hard_negatives")(
      SparkEntry.queries("ann_hard_negatives")(spark, dir))
    // bigram-LM scoring: the en-slice reference bigram table (~10M
    // grams at 100×) equi-joined against the full 26.6M-row
    // doc-bigram stream. count() alone lets Catalyst ELIMINATE the
    // unique-key spine join and prune the whole scoring subtree, and
    // count()-of-global-agg is constant-folded (SURVEY.md r7 lesson)
    // — so group ON a computed column: the output row count is then
    // data-dependent and the full pipeline must run.
    run("lm_novelty")(SparkEntry.queries("lm_novelty")(spark, dir)
      .groupBy(col("n_unseen")).agg(sum("hit_mass").as("h")))
    run("lm_perplexity")(SparkEntry.queries("lm_perplexity")(spark, dir)
      .groupBy(col("n_bigrams")).agg(sum("mean_nll").as("s")))
    // vocab coverage (count-table window) and alpha-mixture sampling
    // (per-row threshold filter)
    run("vocab_coverage")(SparkEntry.queries("vocab_coverage")(spark, dir))
    run("mixture_alpha")(SparkEntry.queries("mixture_alpha")(spark, dir))
    // BPE training: the corpus-scale dictionary shuffle over 500k
    // docs (the driver loop is corpus-size-independent by design)
    run("bpe_train")(SparkEntry.queries("bpe_train")(spark, dir))
    // skew diagnosis over 60M fact rows, the approx quality-filter
    // swap (broadcast threshold, no corpus window), and the composed
    // curation flagship (dedup keep-one bites hard on the 100-deep
    // dup corpus: 500k -> 5k -> capped)
    run("skew_report")(SparkEntry.queries("skew_report")(spark, dir))
    run("quality_filter_approx")(
      SparkEntry.queries("quality_filter_approx")(spark, dir))
    run("curate_pipeline")(SparkEntry.queries("curate_pipeline")(spark, dir))
    // WordPiece MaxMatch over 500k docs — the heaviest per-row HOF in
    // the suite (8 substr probes per character)
    run("wordpiece_tokenize")(
      SparkEntry.queries("wordpiece_tokenize")(spark, dir)
        .groupBy(col("n_unk")).agg(sum("n_tokens").as("t")))
    // forecast backtest (decimal window over the 15M-order daily
    // series) and the HLL NDV cube (sketch partial-aggs over 15M
    // orders, merged across grains)
    run("forecast_backtest")(
      SparkEntry.queries("forecast_backtest")(spark, dir))
    run("ndv_cube")(SparkEntry.queries("ndv_cube")(spark, dir))
    // SemDeDup over the full 100× embedding table: 100-deep exact-dup
    // groups are the operator's CHEAP case (collapse first — the
    // pair graph runs on ~2k uniques)
    run("semdedup")(SparkEntry.queries("semdedup")(spark, dir)
      .groupBy(col("keep")).agg(count(lit(1)).as("n")))
    // the broadcast-hinted variant: skips the 500 MB stream exchange
    // the static SMJ plan pays before AQE's BHJ conversion
    run("lm_novelty_bcast") {
      val docs = Tables.documents(spark, dir)
      graft.operators.Lm.novelty(docs, "doc_id", "text",
          graft.operators.Lm.fitBigrams(
            docs.where(col("lang") === "en"), "doc_id", "text"),
          refJoinHint = "broadcast")
        .groupBy(col("n_unseen")).agg(sum("hit_mass").as("h"))
    }

    // ---- round-11 operators: the persisted ANN index lifecycle over
    // the full 200k-vector table (build = train + assign + one
    // cell-clustered segment write + stats index; append = assign the
    // batch against frozen centroids + one new segment, zero data
    // copy; probe = centroid rank + stats-pruned read of the probed
    // cells' files ONLY), the PNG codec family (deflate encode +
    // inflate/de-filter decode per doc over 500k docs), and the
    // calibrated-classifier sampler (pure scan)
    val annRoot = s"$dir/__ann_index"
    run("ann_index_build") {
      val emb = Tables.embeddings(spark, dir)
      graft.sources.AnnIndex.build(spark, emb.where(col("vec_id") % 10 =!= 0),
        annRoot, cells = 64, nFiles = 64)
      spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$annRoot/segments").groupBy("cell").count()
    }
    run("ann_index_append") {
      val emb = Tables.embeddings(spark, dir)
      graft.sources.AnnIndex.append(spark, annRoot,
        emb.where(col("vec_id") % 10 === 0), nFiles = 64)
      spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$annRoot/segments").groupBy("cell").count()
    }
    // 100-query throughput row: 100×4 probes cover ~all 64 cells, so
    // this is the probe path's full-corpus upper bound
    run("ann_index_probe_100q") {
      val q = Tables.embeddings(spark, dir).where(col("vec_id") < 100)
      graft.sources.AnnIndex.probe(spark, annRoot, q, k = 10, nprobe = 4)
    }
    println("SCALE100 ann_prune_100q=" + Decisions.ratio(decided, "ann.cells"))
    // selective row: 5 queries probe ≤20 of 64 cells — the kept/total
    // line is the file-pruning evidence (cell-clustered layout +
    // per-segment stats index doing their job)
    run("ann_index_probe_5q") {
      val q = Tables.embeddings(spark, dir).where(col("vec_id") < 5)
      graft.sources.AnnIndex.probe(spark, annRoot, q, k = 10, nprobe = 4)
    }
    println("SCALE100 ann_prune_5q=" + Decisions.ratio(decided, "ann.cells"))
    run("multimodal_png")(
      SparkEntry.queries("multimodal_png")(spark, dir)
        .groupBy("width").agg(sum(col("mean_pixel"))))
    run("sample_by_classifier")(
      SparkEntry.queries("sample_by_classifier")(spark, dir)
        .groupBy((floor(col("p_keep") * 10)).as("b")).count())

    // ---- round-11 batch 2: the persisted inverted index over the
    // full 500k-doc corpus (build = tokenize + tf agg + bucket-
    // clustered posting/dict writes + stats indexes; probe = stats-
    // pruned read of the query terms' bucket files only), k-core over
    // the real 27M-pair graph (bounded 4-round peel — the LPA round
    // shape), and the Gopher rule gate (pure scan, zero shuffle)
    val invRoot = s"$dir/__inv_index"
    run("bm25_index_build") {
      graft.sources.InvertedIndex.build(spark,
        Tables.documents(spark, dir), invRoot, nBuckets = 64, nFiles = 64)
      spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$invRoot/segments").groupBy("bucket").count()
    }
    run("bm25_index_probe") {
      graft.sources.InvertedIndex.probe(spark, invRoot,
        Seq("spark", "window", "merge"), k = 10)
    }
    println("SCALE100 inv_prune_3t=" + Decisions.ratio(decided, "inv.buckets"))
    run("kcore_pair_graph")(
      graft.operators.Graph.kcore(
        graft.operators.Graph.canonicalEdges(pairs, "doc_a", "doc_b"),
        k = 8, maxIters = 4))
    run("gopher_quality")(
      SparkEntry.queries("gopher_quality")(spark, dir)
        .groupBy(col("keep")).agg(count(lit(1))))

    // ---- round-11 batch 3: truss peel over the REAL (unbounded)
    // supplier co-occurrence kNN graph — each round pays one
    // degree-oriented triangle enumeration, so this is ~3× the
    // triangle_counts work on the same graph; Holt DES over the 100×
    // daily series (two window passes, one exchange); JL projection
    // over the full embedding table (pure scan, plan-literal matrix);
    // modal-value profiling (one partial-agg shuffle)
    run("ktruss_knn_graph") {
      val weighted = graft.operators.Graph.coOccurrencePairs(
        Tables.lineitem(spark, dir), "l_orderkey", "l_suppkey")
      graft.operators.Graph.ktruss(
        graft.operators.Graph.topKEdges(weighted, 20), k = 4, maxIters = 3)
    }
    run("holt_forecast")(SparkEntry.queries("holt_forecast")(spark, dir))
    run("jl_project")(
      SparkEntry.queries("jl_project")(spark, dir)
        .agg(sum(col("p0")), sum(col("p7"))))
    run("mode_per_group")(SparkEntry.queries("mode_per_group")(spark, dir))

    // ---- round-11 batch 4: streaks over the full 100× event stream
    // (the day-grain dedup is the scale claim: raw events collapse
    // map-side before either shuffle), and personalized PageRank over
    // the 500k-node doc pair graph seeded with every 1000th doc (the
    // pageRank loop + one spine-join — same cached-edge discipline)
    run("activity_streaks")(
      SparkEntry.queries("activity_streaks")(spark, dir))
    // batch 5: blocked fuzzy join at 100× — ScaleN key-shifts suppkeys
    // but keeps name strings, so collapse exact-dup names to
    // representatives FIRST (the documented discipline; without it the
    // 100 copies of every name re-inflate quadratically inside blocks)
    run("fuzzy_match_blocked_dedup") {
      val reps = Tables.supplier(spark, dir)
        .groupBy(col("s_name")).agg(min(col("s_suppkey")).as("rep"))
      graft.operators.Fuzzy.selfJoin(reps, "rep", "s_name", maxDist = 1)
    }
    run("seasonal_decompose")(
      SparkEntry.queries("seasonal_decompose")(spark, dir))
    // batch 6: the sketch-only production side of the overlap planner
    // (no exact joins — the plan a 100 TB run would issue) and basket
    // affinity over the full 60M-lineitem basket set
    run("source_overlap_sketch_only") {
      val raw = Tables.documents(spark, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
      val sk = raw.groupBy(col("source"))
        .agg(hll_sketch_agg(col("word")).as("sk"),
             approx_count_distinct(col("word")).as("nd"))
        .localCheckpoint(true)
      sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          (col("a.nd") + col("b.nd") -
            hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))))
            .as("est_overlap"))
    }
    run("basket_affinity")(SparkEntry.queries("basket_affinity")(spark, dir))
    // batch 7: HITS and multi-source BFS over the same 54M-directed-
    // edge doc pair graph the PPR/LPA probes walk — the full graph
    // family now has 100× rows on identical input
    // HITS runs on the kNN-BOUNDED co-occurrence graph, not the raw
    // pair graph: unnormalized integer growth is deg_max^(2·iters),
    // and a dup-heavy pair cluster's degree could push that past 64
    // bits — the kNN cap (deg ≤ ~2k) keeps 3 rounds ≤ ~4e9, the
    // documented contract
    run("hits_knn_graph") {
      val weighted = graft.operators.Graph.coOccurrencePairs(
        Tables.lineitem(spark, dir), "l_orderkey", "l_suppkey")
      val knn = graft.operators.Graph.topKEdges(weighted, 20)
      graft.operators.Rank.hits(
        knn.select(col("u").as("src"), col("v").as("dst"))
          .union(knn.select(col("v").as("src"), col("u").as("dst"))),
        "src", "dst", iters = 3)
    }
    // batch 8: exact-recall jaccard join over the FULL 500k-doc corpus
    // with exact-dup collapse first (the standing rule — the corpus is
    // dup-heavy by construction); count the surviving pairs. And the
    // bucketed-rank Gini over 1.5M customers.
    run("jaccard_join_collapse_first") {
      val reps = Tables.documents(spark, dir)
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      graft.operators.SetJoin
        .prefixJaccardSelfJoin(reps, "doc_id", "text", 9, 10)
        .groupBy().agg(count(lit(1)).as("n_pairs"))
    }
    run("revenue_gini")(SparkEntry.queries("revenue_gini")(spark, dir))
    run("funnel_steps")(SparkEntry.queries("funnel_steps")(spark, dir))
    // batch 10: CUSUM over the 100× daily series (one window + tiny
    // broadcast); weighted SSSP over the pair graph with unit+hash
    // weights; entity resolution over 100k suppliers (collapse-first
    // inside: names dedup to ~1k distinct)
    run("cusum_alerts")(SparkEntry.queries("cusum_alerts")(spark, dir))
    run("interval_coverage")(
      SparkEntry.queries("interval_coverage")(spark, dir))
    run("demand_trend_ols")(
      SparkEntry.queries("demand_trend_ols")(spark, dir))
    run("doc_length_percentile") {
      SparkEntry.queries("doc_length_percentile")(spark, dir)
        .agg(sum(col("len_rank")), sum(col("n_tokens")))
    }
    run("series_correlation")(
      SparkEntry.queries("series_correlation")(spark, dir))
    // centroid PRODUCTION form (order-free decimal sums — the plan a
    // 100 TB run issues; the gate's ordered fold pins the arithmetic)
    run("embedding_centroids_prod") {
      Tables.embeddings(spark, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(col("v").cast("double").cast("decimal(20,12)")).as("sv"),
             count(lit(1)).as("n"))
        .select(col("label"), col("dim"),
          (col("sv").cast("double") / col("n").cast("double")).as("centroid"))
    }
    run("embedding_centroids_gate")(
      SparkEntry.queries("embedding_centroids")(spark, dir))
    run("equi_depth_bins")(SparkEntry.queries("equi_depth_bins")(spark, dir))
    run("sssp_pair_graph") {
      val e = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"),
                           (col("doc_a") % 3 + 1).as("w"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"),
                            (col("doc_b") % 3 + 1).as("w")))
      graft.operators.Graph.ssspDistances(e, "src", "dst", "w",
        Tables.documents(spark, dir)
          .where(col("doc_id") % 1000 === 0).select(col("doc_id")),
        "doc_id", maxIters = 3)
    }
    run("entity_resolution_dedup") {
      val reps = Tables.supplier(spark, dir)
        .groupBy(col("s_name")).agg(min(col("s_suppkey")).as("rep"))
      graft.operators.Dedup.clusters(
        graft.operators.Fuzzy.selfJoin(reps, "rep", "s_name", 1),
        "key_a", "key_b")
    }
    run("bfs_pair_graph") {
      val e = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      graft.operators.Graph.bfsDistances(e, "src", "dst",
        Tables.documents(spark, dir)
          .where(col("doc_id") % 1000 === 0).select(col("doc_id")),
        "doc_id", maxIters = 3)
    }
    run("ppr_pair_graph") {
      val e = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      graft.operators.Rank.personalizedPageRank(
        e, "src", "dst",
        Tables.documents(spark, dir)
          .where(col("doc_id") % 1000 === 0).select(col("doc_id")),
        "doc_id", iters = 3, damping = 0.75)
    }

    // ---- round-12 additions: image perceptual-hash dedup (real
    // decode of 600 planted containers + the pigeonhole band join —
    // bounded gate corpus, but the decode+hash machinery is what the
    // row measures), the incremental curation flagship (3 batches:
    // ledger dedup + quality + budget + BOTH index appends + rebuild
    // comparison, all against the 100× documents/embeddings tables),
    // and unigram-LM training's corpus-scale dictionary shuffle over
    // 500k docs (driver EM loop is vocabulary-bounded by design)
    run("multimodal_dedup")(
      SparkEntry.queries("multimodal_dedup")(spark, dir))
    run("curate_incremental")(
      SparkEntry.queries("curate_incremental")(spark, dir)
        .groupBy(col("source"), col("ann_probe_ok"), col("bm25_probe_ok"))
        .agg(count(lit(1))))
    run("unigram_train")(SparkEntry.queries("unigram_train")(spark, dir))

    // ---- r15 (verdict item 7): Curate.compact + vacuumSegments
    // economics. 12 micro-batches land 12 corpus + 12 ledger segments
    // (the steady-state streaming-ingest shape); compact folds them to
    // 1+1 and vacuumSegments reclaims the orphans. Recorded: ingest
    // wall, segment count/bytes before/after, a fixed probe's wall
    // before/after (the read-amplification a consumer actually pays),
    // probe PARITY (xxhash fold must be identical), vacuum reclaim.
    if (only.forall(_.contains("curate_compact_economics"))) {
      def emit(line: String): Unit = {
        println("SCALE100 " + line); out.append(line).append('\n')
      }
      val roots = graft.operators.Curate.tempRoots("graft-compact-100x")
      // ScaleN copies document VALUES verbatim, so undoctored batches
      // past the first are exact dups the ledger correctly drops to
      // zero-row segments - salt per doc_id so every batch lands real
      // corpus+ledger segments and compact has 12+12 to fold
      val docs100 = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit(" "), col("doc_id")).as("text"))
      val embs100 = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val nBatches = 12
      // ScaleN strides each corpus copy by 1e6 ids (copy c holds
      // [c*1e6, c*1e6+5000) at this tier) - a 4e6 span gives every
      // batch four copies (~20k salted-unique docs), 240k docs total
      val span = 4000000L
      val tIn0 = System.nanoTime()
      for (b <- 0 until nBatches) {
        val lo = b * span
        graft.operators.Curate.runBatch(spark, roots,
          docs100.where(col("doc_id") >= lo && col("doc_id") < lo + span),
          embs100.where(col("vec_id") >= lo && col("vec_id") < lo + span),
          // wide-open gates: the POINT is segment-count economics
          // (12 batches must land 12+12 segments for compact to have
          // work) - a tight budget exhausts at batch 1 and leaves a
          // degenerate 2-segment catalog
          qualityFloor = 0.0, budgetPerSource = 1000000000L)
      }
      val ingestSec = (System.nanoTime() - tIn0) / 1e9
      val hconf = spark.sessionState.newHadoopConf()
      def segStats(): (Long, Long) = { // (#files, bytes) in _segments
        val p = new org.apache.hadoop.fs.Path(s"${roots.curation}/_segments")
        val fs = p.getFileSystem(hconf)
        val it = fs.listFiles(p, true)
        var files = 0L; var bytes = 0L
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
            files += 1; bytes += st.getLen
          }
        }
        (files, bytes)
      }
      def nSegments(): Long = {
        val v = graft.sources.Manifest.versions(spark, roots.curation).last
        spark.read.parquet(graft.sources.Manifest
          .resolvedDataDir(spark, roots.curation, v) + "/catalog").count()
      }
      def probe(): (Double, Long, Long) = { // (sec, rows, fold)
        val t0 = System.nanoTime()
        val d = graft.operators.Curate.readCorpus(spark, roots)
        val r = d.select(xxhash64(d.columns.map(col): _*).as("h"))
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)")).head()
        ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
      }
      val (f0, b0) = segStats()
      val s0 = nSegments()
      val (p0sec, p0n, p0h) = probe()
      val tC0 = System.nanoTime()
      // retain=1: the compaction commit is the only live version, so
      // vacuumSegments below can show the reclaim
      graft.operators.Curate.compact(spark, roots, nFiles = 4, retain = 1)
      val compactSec = (System.nanoTime() - tC0) / 1e9
      val s1 = nSegments()
      val (p1sec, p1n, p1h) = probe()
      val tV0 = System.nanoTime()
      val removed = graft.operators.Curate.vacuumSegments(spark, roots,
        minAgeMs = 0L)
      val vacuumSec = (System.nanoTime() - tV0) / 1e9
      val (f2, b2) = segStats()
      val (p2sec, p2n, p2h) = probe()
      emit(f"""{"query":"curate_compact_economics","batches":$nBatches,""" +
        f""""ingest_sec":$ingestSec%.2f,"compact_sec":$compactSec%.2f,""" +
        f""""vacuum_sec":$vacuumSec%.2f,"segments_before":$s0,""" +
        f""""segments_after":$s1,"files_before":$f0,"bytes_before":$b0,""" +
        f""""files_after_vacuum":$f2,"bytes_after_vacuum":$b2,""" +
        f""""removed_segments":${removed.size},""" +
        f""""probe_before_sec":$p0sec%.2f,"probe_after_sec":$p1sec%.2f,""" +
        f""""probe_after_vacuum_sec":$p2sec%.2f,""" +
        f""""parity":${p0n == p1n && p1n == p2n && p0h == p1h && p1h == p2h},""" +
        f""""rows":$p0n}""")
    }

    args.lift(1).foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), out.toString)
    }
    spark.stop()
  }
}
