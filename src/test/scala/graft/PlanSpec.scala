package graft
import graft.queries.{DedupQueries, TextQueries}

/** Physical-plan guards: the properties that make these queries work at
  * 100 TB are asserted, not assumed — filters reach the parquet scan,
  * projections prune the read schema, dims broadcast, per-row ops
  * stay shuffle-free, and hot paths stay inside WholeStageCodegen. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("batch quality gates evaluate the stats pass ONCE per row (Generate barrier)") {
    // the r14 IngestStream finding applied to the batch paths (r16,
    // verdict item 6): withColumn+where lets predicate pushdown
    // inline the quality expression into the Filter while the Project
    // keeps its own copy — the full stats pass ran twice per
    // surviving row until the explode(array(...)) barrier pinned one
    // evaluation. Counted on the executed-plan string so a future
    // optimizer rewrite that re-splits the expression fails loudly.
    for (q <- Seq("curate_pipeline", "sample_by_quality")) {
      val n = "textqualitystats\\(".r.findAllIn(plan(q)).size
      assert(n === 1, s"$q evaluates the quality stats pass $n times")
    }
    // the percentile/window gates were already single-eval by shape
    // (quality feeds a window/checkpoint, not a pushed-down filter) —
    // pinned so they stay that way
    for (q <- Seq("quality_filter", "dedup_keep_best")) {
      val n = "textqualitystats\\(".r.findAllIn(plan(q)).size
      assert(n === 1, s"$q evaluates the quality stats pass $n times")
    }
  }

  test("scan_incremental pushes the date range down to the parquet scan") {
    val p = plan("scan_incremental")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"), p)
  }

  test("scan_project prunes the read schema to selected columns") {
    val p = plan("scan_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_extendedprice"), read)
  }

  test("multi-way joins broadcast every dimension side") {
    for (q <- Seq("q3_shipping_priority", "q5_local_volume", "q7_nation_trade",
                  "promo_revenue", "tfidf_top_term")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: no broadcast join")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
             s"$q: nested loop present")
    }
  }

  test("per-row operators plan with zero exchanges") {
    for (q <- Seq("derive_recipe", "text_quality", "text_token_count",
                  "split_train_test", "pii_redact", "embedding_norm_quant")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q: unexpected shuffle\n$p")
    }
  }

  test("flagship pipeline shuffles exactly once (the groupBy)") {
    val p = plan("pipeline_material_demand")
    assert(p.split("Exchange hashpartitioning").length - 1 === 1, p)
  }

  test("doc_pack reuses one partitioning for window and groupBy") {
    // window on (source) + groupBy (source, pack_id): the second agg can
    // partial-aggregate on the window's layout — at most 2 exchanges,
    // and never one per operator
    val p = plan("doc_pack")
    assert(p.split("Exchange hashpartitioning").length - 1 <= 2, p)
  }

  test("aggregations run partial then final (map-side combine)") {
    for (q <- Seq("agg_groupby_sum", "q1_pricing_summary", "events_hourly")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q: no partial aggregation\n$p")
    }
  }

  test("dedup verify joins never broadcast the corpus payload") {
    // the signature/vector payload tables are O(corpus): a broadcast
    // here OOMs every executor at 100 TB — pairs must shuffle-join,
    // the pair stream as the shuffled-hash build side
    for (q <- Seq("dedup_minhash_pairs", "dedup_embedding_cosine", "dedup_simhash")) {
      val p = plan(q)
      assert(!p.contains("BroadcastExchange"), s"$q: corpus-sized broadcast\n$p")
      assert(p.contains("ShuffledHashJoin"), s"$q: no shuffled-hash pair join\n$p")
    }
    // a candidate pair appears once, at its first shared band, so no
    // aggregate dedups the pair stream by its two ids
    val pairIds = Set("ga", "gb", "doc_a", "doc_b", "id_a", "id_b")
    for (q <- Seq("dedup_simhash", "dedup_embedding_cosine")) {
      val p = plan(q)
      val pairAggs = "Aggregate\\(keys=\\[([^\\]]*)\\]".r.findAllMatchIn(p)
        .map(_.group(1).split(", ").map(_.takeWhile(_ != '#')).toSet)
        .filter(keys => (keys & pairIds).size >= 2).toList
      assert(pairAggs.isEmpty, s"$q: aggregate over the pair ids\n$p")
    }
  }

  test("containment plans (self + cross): collapse agg, partial rank limit, pinned merge joins, no corpus broadcast") {
    for (q <- Seq("dedup_containment", "dedup_containment_cross")) {
      val p = plan(q)
      // exact-dup collapse precedes candidate generation: a
      // partial+final HashAggregate keyed on the content fingerprint
      // (the r8-verdict fix — without it dup groups pair
      // quadratically)
      assert(p.contains("HashAggregate(keys=[fp"), s"$q: no fp collapse agg")
      // the k-rarest probe ranking runs as a rank-LIMIT pushdown:
      // WindowGroupLimit prunes to 16 rows/doc partially BEFORE the
      // window sort ships the corpus token stream
      assert(p.contains("WindowGroupLimit"), s"$q: rank limit not pushed")
      // probe join over two corpus-sized token streams stays
      // sort-merge (spillable at any scale)
      assert(p.contains("SortMergeJoin [tok"), s"$q: probe join not SMJ")
      // nothing corpus-sized broadcasts — member maps, groups tables,
      // df stats and token streams all shuffle (stats-driven broadcast
      // of small test-scale sides would hide the 100 TB plan from
      // this guard)
      assert(!p.contains("BroadcastExchange"), s"$q: corpus-sized broadcast")
    }
  }

  test("IVF cell assignment is a per-row argmax: zero exchange, zero explosion") {
    import spark.implicits._
    val cents = (0 until 4).map(i =>
      (i, Array.tabulate(4)(j => if (i == j) 1f else 0f))).toSeq
    val df = Seq((1L, Array(0.9f, 0.1f, 0f, 0f))).toDF("id", "vec")
    val out = graft.operators.Similarity.assignCells(df, "vec", cents)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("CartesianProduct") &&
           !p.contains("Generate"), p)
  }

  test("cdc latest-per-key partial-aggregates the change feed") {
    // must combine map-side (shuffle = one row per key per input
    // partition, not the whole feed) AND stay a HashAggregate: the r12
    // max_by form's struct buffer forced a SortAggregate whose partial
    // sorted the whole 600M-row feed at the 1000× tier (SCALE1000.md
    // r13); the packed DECIMAL(38,0) ordering keeps the buffer
    // all-primitive
    val p = plan("cdc_latest_per_key")
    assert(p.contains("partial_max"), s"no partial max\n$p")
    assert(p.contains("HashAggregate"), s"no HashAggregate\n$p")
    assert(!p.contains("SortAggregate"), s"unexpected SortAggregate\n$p")
  }

  test("dedup_clusters pair verify spreads across partitions") {
    // a quadratic (all-pairs) verify inherits the streamed side's
    // partitioning from the nested-loop join: without an explicit
    // repartition, one parquet file = one partition = one task doing
    // ALL the pairwise jaccard work, no matter the cluster size
    val p = DedupQueries.dedupClusterPairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("Exchange RoundRobinPartitioning"),
           s"pair verify not repartitioned\n$p")
  }

  test("doc_chunks is one round-robin exchange and nothing else") {
    // the scan-speed claim: no agg, no join, no hash shuffle — the only
    // exchange is the repartition gluing compute width to cluster, not
    // file, layout
    val p = plan("doc_chunks")
    assert(p.contains("Exchange RoundRobinPartitioning"), p)
    assert(p.split("Exchange").length - 1 === 1, s"extra exchanges\n$p")
    assert(!p.contains("Aggregate") && !p.contains("Join"), p)
  }

  test("sample_per_source partial-aggregates: no window, no full sort") {
    // the O(sources·k) shuffle claim: TopKAgg runs as a two-phase
    // object agg (partial_topkagg map-side), never a per-group window
    // sort of every row
    val p = plan("sample_per_source")
    assert(p.contains("partial_topkagg"), s"no map-side partial top-k\n$p")
    assert(!p.contains("Window") && !p.contains("Sort "), p)
  }

  test("group-window queries reuse one partitioning end-to-end") {
    // quality_filter: one exchange feeds the source window;
    // value_percentiles_by_type: ONE exchange feeds row_number, the
    // count window AND the final agg (all keyed by event_type)
    for (q <- Seq("quality_filter", "value_percentiles_by_type")) {
      val p = plan(q)
      assert(p.split("Exchange hashpartitioning").length - 1 === 1,
             s"$q: window/agg partitioning not reused\n$p")
    }
  }

  test("retention_cohorts shuffles the corpus once, dedups days map-side") {
    val p = plan("retention_cohorts")
    // user groupBy (corpus-sized) + cohort-matrix agg (tiny) — and the
    // day set must dedup in the partial aggregate, not on the reducer
    assert(p.split("Exchange hashpartitioning").length - 1 === 2, p)
    assert(p.contains("partial_collect_set"), s"no map-side day dedup\n$p")
    assert(!p.contains("Window"), p)
  }

  test("bm25 broadcasts term stats and plans global top-k as TakeOrdered") {
    val p = plan("bm25_search")
    assert(p.contains("BroadcastHashJoin"), s"df table not broadcast\n$p")
    // the rk<=10 filter must push a limit below the rank window — a
    // single-partition full sort of every scored doc would not scale
    assert(p.contains("TakeOrderedAndProject"), s"global sort not limited\n$p")
  }

  test("min_cost_supplier broadcasts both dims, shuffle-joins only the fact") {
    val p = plan("min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the argmin rejoin is fact-to-agg on l_partkey — never a broadcast
    // of the fact side: exactly one non-broadcast join pair
    assert(p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) <= 1, p)
  }

  test("global-scalar thresholds broadcast one row, never shuffle the compare") {
    for (q <- Seq("important_parts", "idle_rich_customers", "mixture_drift")) {
      val p = plan(q)
      // the scalar side arrives as a broadcast (nested-loop on a
      // single-row build is the planned shape for a no-key cross join)
      assert(p.contains("Broadcast"), s"$q: scalar not broadcast\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian\n$p")
    }
  }

  test("order_count_distribution pre-aggregates orders before the customer join") {
    val p = plan("order_count_distribution")
    // partial agg on o_custkey must sit below the join: an aggregate
    // appears before (deeper than) the left outer join in the plan
    val lines = p.linesIterator.toSeq
    val aggIdx = lines.indexWhere(l => l.contains("HashAggregate") &&
      l.contains("o_custkey"))
    val joinIdx = lines.indexWhere(_.contains("LeftOuter"))
    assert(aggIdx > joinIdx && joinIdx >= 0,
      s"orders not pre-aggregated below the join\n$p")
  }

  test("pmi pair expansion partial-aggregates; unigram stats broadcast") {
    val p = plan("pmi_top_pairs")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // pair counts must combine map-side: partial_count over the
    // (tok_a, tok_b) keys
    assert(p.contains("partial_count"), p)
  }

  test("heavy hitters aggregate map-side partially (MG summaries merge)") {
    val p = TextQueries.heavyHittersSound(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial"), p)  // ObjectHashAggregate/SortAggregate partial
    assert(!p.contains("CartesianProduct"), p)
  }

  test("late_shippers decorrelates to one fact scan and chained windows") {
    val p = plan("late_shippers")
    // the Q21 EXISTS/NOT-EXISTS pair must NOT rescan lineitem per
    // subquery: exactly one fact scan feeds the whole query
    assert(p.split("lineitem").length - 1 === 1, p)
    // both window passes share the l_orderkey partitioning: two Window
    // nodes, and no exchange between them (3 total: agg, window, rollup)
    assert(p.split("\\+- Window").length - 1 === 2, p)
    assert(p.split("Exchange hashpartitioning").length - 1 === 3, p)
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q19 disjunction pushes per-table OR residuals to both scans") {
    val p = plan("q19_band_revenue")
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    val fact = scans.find(_.contains("lineitem")).getOrElse("")
    val dim = scans.find(_.contains("part.parquet")).getOrElse("")
    // the OR spans both tables, but Catalyst must still derive and
    // push the single-table residual disjunctions to each scan
    assert(fact.contains("Or(") && fact.contains("l_quantity"), fact)
    assert(dim.contains("Or(") && dim.contains("p_brand"), dim)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dsir scoring is exchange-free; sound fold is one scan") {
    // the fold runs against the 256-double plan literal — per-row
    // work only; any Exchange here means the literal design regressed
    val p = plan("dsir_sound")
    assert(!p.contains("Exchange"), s"dsir_sound shuffles\n$p")
  }

  test("wordpiece tokenization runs the native expression, not a HOF fold") {
    val p = plan("wordpiece_tokenize")
    assert(p.contains("wordpiecetokens") || p.contains("WordpieceTokens"),
           s"native expr missing\n$p")
    assert(!p.toLowerCase.contains("aggregate(sequence"),
           s"interpreted HOF fold present\n$p")
  }

  test("priority sampling shuffles once (the per-group window)") {
    val p = plan("sample_priority")
    assert(p.split("Exchange hashpartitioning").length - 1 === 1, p)
  }

  test("curate_pipeline fuses to its two windows (no extra exchanges)") {
    // fingerprint window + per-source cap window; filters are per-row
    val p = plan("curate_pipeline")
    assert(p.split("Exchange hashpartitioning").length - 1 <= 2, p)
  }

  test("semdedup never broadcasts the corpus vector table") {
    // centroids are plan literals; the only broadcastable sides are
    // bounded (component winners) — a corpus-sized BroadcastExchange
    // would OOM the driver at scale. Count broadcast rows indirectly:
    // every BroadcastExchange in the plan must sit above an agg or a
    // bounded-side subtree, never directly above the embeddings scan
    val p = plan("semdedup")
    val bad = p.linesIterator.sliding(2).exists(w =>
      w.head.contains("BroadcastExchange") &&
        w.last.contains("embeddings.parquet"))
    assert(!bad, s"corpus scan broadcast directly\n$p")
  }

  test("lm novelty's ref join keys both sides on the bigram pair") {
    // the stream⋈ref join must be an equi-join on (w1, w2) — a
    // nested-loop fallback here is corpus × vocab
    val p = plan("lm_novelty")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hot scans stay inside WholeStageCodegen") {
    for (q <- Seq("q1_pricing_summary", "derive_recipe", "text_quality",
                  "blocklist_filter")) {
      // AQE prints codegen spans only once stages have executed —
      // collect() materializes THIS queryExecution (count() would
      // build a separate one and leave this plan unexecuted)
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // executed AQE plans print codegen spans as "*(n) Operator"
      assert(p.contains("WholeStageCodegen") || p.contains("*(1)"),
             s"$q: no codegen span\n$p")
    }
  }
}
