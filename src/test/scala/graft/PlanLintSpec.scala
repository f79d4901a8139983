package graft

import org.apache.spark.sql.functions._
import graft.plans.PlanLint

/** The plan linter must flag the patterns that die at 100 TB and stay
  * quiet on the shapes this engine's own operators use. */
class PlanLintSpec extends SparkSpec {
  import spark.implicits._

  private def kinds(df: org.apache.spark.sql.DataFrame): Set[String] =
    PlanLint.lint(df).map(_.kind).toSet

  test("flags a cartesian product; a provably-tiny cross is classified bounded") {
    val a = (1 to 10).toDF("x")
    val b = (1 to 10).toDF("y")
    // a 10x10 literal cross joins as broadcast nested loop with a
    // provable 10-row build side — informational, not a scale finding
    val crossed = kinds(a.crossJoin(b))
    assert(crossed.contains("nested_loop_join_bounded"))
    assert(!crossed.contains("nested_loop_join"))
    // the true shuffle-replicate cartesian is always flagged
    val cart = a.hint("shuffle_replicate_nl").crossJoin(b)
    assert(kinds(cart).contains("cartesian_product"))
  }

  test("lintFull reconciliation keeps AQE-introduced flagged kinds behind informational variants") {
    import graft.plans.PlanLint.{Finding, reconcile}
    def ks(fs: Seq[Finding]) = fs.map(_.kind)
    val sortOut = Finding("global_sort_output", "output contract")
    val sortFlag = Finding("global_sort", "mid-plan sort")
    val sortBounded = Finding("global_sort_bounded", "tiny input")
    val skew = Finding("skew_join_split", "runtime split")
    // initial had only the OUTPUT-CONTRACT variant: a flagged executed
    // global_sort is genuinely new (AQE re-plan moved it mid-plan) — keep
    assert(ks(reconcile(Seq(sortOut), Seq(sortFlag)))
      === Seq("global_sort_output", "global_sort"))
    // initial PROVED the kind bounded: the executed flag is the
    // stats-elision artifact (EliminateLimits ate the proof) — drop
    assert(ks(reconcile(Seq(sortBounded), Seq(sortFlag)))
      === Seq("global_sort_bounded"))
    // exact flagged kind already reported initially — no double-report
    assert(ks(reconcile(Seq(sortFlag), Seq(sortFlag))) === Seq("global_sort"))
    // skew splits only exist at runtime — always kept
    assert(ks(reconcile(Seq(sortBounded), Seq(skew)))
      === Seq("global_sort_bounded", "skew_join_split"))
    // executed informationals never duplicate an initially-present
    // base kind (initial is authoritative for those) — but a
    // runtime-INTRODUCED informational whose base kind the initial
    // plan never saw (here the AQE-only global_sort_bounded) is new
    // structure and stays observable (r16 ADVICE: the old filter
    // dropped every informational executed kind unconditionally)
    assert(ks(reconcile(Seq(Finding("shuffle_count", "3")),
      Seq(Finding("shuffle_count", "5"), sortBounded)))
      === Seq("shuffle_count", "global_sort_bounded"))
    // ...and when the initial plan carried ANY variant of the base
    // kind, the executed informational still folds away
    assert(ks(reconcile(Seq(sortOut),
      Seq(Finding("global_sort_topk", "runtime topk"))))
      === Seq("global_sort_output"))
  }

  test("maxRowsOf join bounds are joinType-shaped (r15 ADVICE)") {
    def bound(df: org.apache.spark.sql.DataFrame): Option[Long] =
      PlanLint.maxRowsOf(df.queryExecution.executedPlan)
    // full outer of two 1-row sides can emit 2 rows — the old
    // unconditional l*r misproved 1 and could downgrade a real
    // finding past requireClean's hard gate
    val one = Seq(1).toDF("a")
    val other = Seq(2).toDF("b")
    val full = one.join(other, col("a") === col("b"), "full")
    assert(full.count() === 2L)
    val fb = bound(full)
    assert(fb.forall(_ >= 2L), s"full-outer bound $fb underestimates 2 rows")
    // left outer against a provably tiny side still emits EVERY left
    // row: the bound must not collapse below the left side's scale
    val big = spark.range(5000).toDF("a")
    val lo = big.join(broadcast(other), col("a") === col("b"), "left")
    assert(bound(lo).forall(_ >= 5000L))
    // semi/anti are bounded by the STREAMED side alone, even when the
    // other side is structurally unprovable (a parquet scan)
    val scan = Tables.orders(spark, sfDir).select(col("o_orderkey").as("b"))
    val semi = spark.range(10).toDF("a")
      .join(scan, col("a") === col("b"), "left_semi")
    assert(bound(semi).exists(_ <= 10L),
      s"semi bound ${bound(semi)} should be provable from the left side")
  }

  test("flags a broadcast nested loop join only when the build side is unprovable/big") {
    // literal build side ABOVE BoundedRows: structure proves 5000 rows,
    // which is past the threshold - flagged
    val big = spark.range(100000).toDF("x")
    val over = (1 to 5000).toDF("y")
    assert(kinds(big.join(broadcast(over), col("x") < col("y")))
      .contains("nested_loop_join"))
    // scalar build side (grouping-free aggregate = provably 1 row):
    // the idiomatic attach-a-global-total pattern - bounded
    val scalar = big.agg(max(col("x")).as("mx"))
    val attached = kinds(big.crossJoin(broadcast(scalar)))
    assert(attached.contains("nested_loop_join_bounded"))
    assert(!attached.contains("nested_loop_join"))
    // file-scan build side: row count unprovable from structure - flagged
    val scan = Tables.nation(spark, sfDir)
    assert(kinds(big.join(broadcast(scan), col("x") < col("n_nationkey")))
      .contains("nested_loop_join"))
  }

  test("flags a global window, accepts partitioned and provably-bounded ones") {
    import org.apache.spark.sql.expressions.Window
    // UNPROVABLE input size (file scan): global window flagged
    val scan = Tables.orders(spark, sfDir)
    val global = scan.withColumn("rn",
      row_number().over(Window.orderBy(col("o_orderkey"))))
    assert(kinds(global).contains("global_window"))
    val partitioned = scan.withColumn("rn",
      row_number().over(Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderkey"))))
    assert(!kinds(partitioned).contains("global_window"))
    // provably bounded input (explicit limit): single-task is free
    val boundedK = kinds(scan.limit(100).withColumn("rn",
      row_number().over(Window.orderBy(col("o_orderkey")))))
    assert(boundedK.contains("global_window_bounded"))
    assert(!boundedK.contains("global_window"))
  }

  test("global sort: flagged mid-plan, classified as output contract at root") {
    val li = Tables.lineitem(spark, sfDir)
    // ORDER BY as the LAST op = presentation contract (range sort)
    val atRoot = kinds(li.select(col("l_orderkey"), col("l_quantity"))
      .orderBy(col("l_quantity")))
    assert(atRoot.contains("global_sort_output") &&
           !atRoot.contains("global_sort"))
    // the same sort feeding MORE computation is wasted work - flagged.
    // (sort -> groupBy would be optimized away; a sort under a later
    // JOIN survives into the plan)
    val mid = li.orderBy(col("l_quantity"))
      .withColumn("rn", monotonically_increasing_id())
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
    val midK = kinds(mid)
    assert(midK.contains("global_sort"), s"expected mid-plan flag, got $midK")
  }

  test("counts shuffles; an aggregation costs exactly one exchange") {
    val df = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    val counts = PlanLint.lint(df)
      .filter(_.kind == "shuffle_count").head.detail.toInt
    assert(counts === 1, s"expected 1 shuffle, linter saw $counts")
  }

  test("requireClean throws on dirty plans, passes clean ones") {
    // unprovable-size sides (file scans) cross-joined: genuinely dirty
    val e = intercept[IllegalStateException](
      PlanLint.requireClean(Tables.orders(spark, sfDir)
        .crossJoin(broadcast(Tables.nation(spark, sfDir)))))
    assert(e.getMessage.contains("cartesian_product") ||
           e.getMessage.contains("nested_loop_join"))
    PlanLint.requireClean( // must not throw
      Tables.orders(spark, sfDir).groupBy("o_orderstatus").count())
    PlanLint.requireClean( // bounded scalar attach must not throw either
      Tables.orders(spark, sfDir).crossJoin(
        Tables.orders(spark, sfDir).agg(max("o_totalprice").as("mx"))))
  }

  test("the engine's own flagship passes the hard gate") {
    PlanLint.requireClean(
      SparkEntry.queries("pipeline_material_demand")(spark, sfDir))
    PlanLint.requireClean(SparkEntry.queries("curate_pipeline")(spark, sfDir))
  }

  test("lintExecuted sees a runtime SMJ->BHJ conversion lint() cannot") {
    // static broadcasts off, adaptive broadcasts on: the INITIAL plan
    // must sort-merge, and AQE converts to broadcast-hash at runtime
    // once the built side's actual bytes come in under the adaptive
    // threshold — the conversion only exists in the final plan
    val conf = spark.conf
    val staticBefore = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val adaptiveBefore =
      conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
      val joined = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      def bc(fs: Seq[PlanLint.Finding]): Int =
        fs.find(_.kind == "broadcast_count").get.detail.toInt
      val initial = bc(PlanLint.lint(joined))
      assert(initial === 0,
        s"initial plan already broadcasts ($initial) - test setup broken")
      val executed = bc(PlanLint.lintExecuted(joined))
      assert(executed > 0,
        "AQE SMJ->BHJ conversion invisible to the executed-plan lint")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", staticBefore)
      adaptiveBefore match {
        case Some(v) =>
          conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("skewFindings lifts hot keys from Skew.report into findings") {
    // 1000 rows on one key + 10 singletons: max/mean >> 4
    val hot = (1 to 1000).map(_ => "hot") ++ (1 to 10).map(i => s"k$i")
    val df = hot.toDF("k")
    val fs = PlanLint.skewFindings(df, "k")
    assert(fs.nonEmpty && fs.head.kind === "skewed_key")
    assert(fs.head.detail.contains("k=hot"))
    // uniform data stays quiet
    assert(PlanLint.skewFindings(
      (1 to 100).map(i => s"u$i").toDF("k"), "k").isEmpty)
  }
}
