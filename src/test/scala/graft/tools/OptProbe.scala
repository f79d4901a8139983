package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft._

/** r19 optimization-round probe (test scope, sbt-free via spark-submit):
  *
  *   plans <outdir> <sfdir> <suffix> <q1,q2,...>
  *     write `.explain("formatted")` of each named query to
  *     `<outdir>/<query>_<suffix>.txt` (driver-only; no execution).
  *
  *   time <sfdir> <passes> <q1,q2,...>
  *     bench-methodology timing (count() action, min across passes)
  *     with BOTH wall and executor task CPU (the r19 primary
  *     comparator) per query.
  *
  *   substr <sfdir>
  *     stage decomposition of Corpus.exciseDupSubstrings(Xx) with
  *     task-CPU attribution per sub-action.
  */
object OptProbe {

  final class CpuClock extends org.apache.spark.scheduler.SparkListener {
    val runMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val gcMs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) { runMs.addAndGet(m.executorRunTime); cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime) }
    }
  }

  private def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .get.invoke(bus)
    } catch { case _: Throwable => Thread.sleep(100) }

  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    args.headOption.getOrElse("help") match {
      case "plans" =>
        val Array(_, outDir, sfDir, suffix, qs) = args.take(5)
        val spark = session(cpus)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        qs.split(",").foreach { q =>
          try {
            val df = Queries.all(q)(spark, sfDir)
            // capture formatted plan text (same as df.explain("formatted"))
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"PLAN $q -> $outDir/${q}_$suffix.txt")
          } catch { case t: Throwable =>
            println(s"PLAN FAIL $q: ${t.getClass.getSimpleName}: ${t.getMessage}") }
          Blocks.freeAll(spark)
        }
        spark.stop()

      case "time" =>
        val sfDir = args(1); val passes = args(2).toInt
        val qs = args(3).split(",").toSeq
        val spark = session(cpus)
        val clock = new CpuClock
        spark.sparkContext.addSparkListener(clock)
        // warmup (mirrors Bench)
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        val rows = (1 to passes).flatMap { p =>
          qs.map { q =>
            val c0 = clock.cpuNs.get(); val r0 = clock.runMs.get()
            val g0 = clock.gcMs.get()
            val t0 = System.nanoTime()
            val n = Queries.all(q)(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            Blocks.freeAll(spark)
            drain(spark)
            val cpu = (clock.cpuNs.get() - c0) / 1e9
            val run = (clock.runMs.get() - r0) / 1e3
            val gc = (clock.gcMs.get() - g0) / 1e3
            import scala.jdk.CollectionConverters._
            val ccUsed = java.lang.management.ManagementFactory
              .getMemoryPoolMXBeans.asScala
              .filter(_.getName.startsWith("CodeHeap"))
              .map(b => s"${b.getName.replace("CodeHeap '", "").replace("'", "").replace(" ", "")}=${b.getUsage.getUsed / (1 << 20)}M")
              .mkString(",")
            val compMs = java.lang.management.ManagementFactory
              .getCompilationMXBean.getTotalCompilationTime
            println(f"TIME pass=$p $q%-28s rows=$n%10d wall=$wall%8.3f cpu=$cpu%8.3f run=$run%8.3f gc=$gc%8.3f comp=${compMs / 1000.0}%8.1f cc=$ccUsed")
            (q, wall, cpu, run)
          }
        }
        qs.foreach { q =>
          val rs = rows.filter(_._1 == q)
          println(f"BEST $q%-28s wall=${rs.map(_._2).min}%8.3f cpu=${rs.map(_._3).min}%8.3f run=${rs.map(_._4).min}%8.3f")
        }
        spark.stop()

      case "substr" =>
        val sfDir = args(1)
        val spark = session(cpus)
        val clock = new CpuClock
        spark.sparkContext.addSparkListener(clock)
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        def t(label: String)(body: => Long): Unit = {
          val c0 = clock.cpuNs.get(); val r0 = clock.runMs.get()
          val t0 = System.nanoTime()
          val n = body
          val wall = (System.nanoTime() - t0) / 1e9
          drain(spark)
          val cpu = (clock.cpuNs.get() - c0) / 1e9
          val run = (clock.runMs.get() - r0) / 1e3
          println(f"SUBSTR $label%-26s rows=$n%10d wall=$wall%8.3f cpu=$cpu%8.3f run=$run%8.3f")
        }
        import graft.functions.TextFunctions
        val k = 20
        val docs = Tables.documents(spark, sfDir)
        val normed = docs.select(col("doc_id"),
          TextFunctions.normalize(col("text")).as("__t"))
        val texts = normed
          .groupBy(md5(col("__t")).as("__fp"), col("__t"))
          .agg(count(lit(1)).as("__w"))
          .repartition(spark.sessionState.conf.numShufflePartitions)
        t("collapse+ckpt") { val c = texts.localCheckpoint(); c.count() }
        val textsC = texts.localCheckpoint()
        for ((tag, gcol) <- Seq(
            ("md5hof", expr(s"transform(sequence(1, length(__t) - ${k - 1}), " +
                         s"i -> md5(substring(__t, i, $k)))")),
            ("md5nat", graft.functions.GraftFunctions.charGramMd5(col("__t"), k)),
            ("xx", graft.functions.GraftFunctions.charGramHashes(col("__t"), k)))) {
          val withG = textsC.where(length(col("__t")) >= k)
            .select(col("__fp"), col("__w"), gcol.as("__gs"))
          t(s"grams_$tag")(withG.select(explode(col("__gs"))).count())
          val dup = withG
            .select(col("__w"), explode(array_distinct(col("__gs"))).as("__g"))
            .groupBy(col("__g")).agg(sum(col("__w")).as("__c"))
            .where(col("__c") >= 2).select(col("__g"))
          t(s"dup_table_$tag")(dup.count())
          val pos = withG.select(col("__fp"), posexplode(col("__gs")))
            .toDF("__fp", "__i0", "__g")
          val dupStarts = pos.join(dup, "__g")
            .groupBy(col("__fp"))
            .agg(sort_array(collect_list(col("__i0") + 1)).as("__ds"))
          t(s"dup_starts_$tag")(dupStarts.count())
          // r20: warm repeat (JIT) + collect-free control — the delta
          // (warm dup_starts − nocollect) is the share the
          // sort_array(collect_list) chain could ever give back to a
          // native primitive-buffer aggregate.
          t(s"dup_starts2_$tag")(dupStarts.count())
          val dupStartsNc = pos.join(dup, "__g")
            .groupBy(col("__fp"))
            .agg(max(col("__i0") + 1).as("__m"), count(lit(1)).as("__n"))
          t(s"dup_starts_nc_$tag")(dupStartsNc.count())
          t(s"dup_starts_nc2_$tag")(dupStartsNc.count())
        }
        t("full_md5") {
          graft.operators.Corpus.exciseDupSubstrings(docs, "doc_id", "text", k).count()
        }
        Blocks.freeAll(spark)
        t("full_md5_2") {
          graft.operators.Corpus.exciseDupSubstrings(docs, "doc_id", "text", k).count()
        }
        Blocks.freeAll(spark)
        t("full_xx") {
          graft.operators.Corpus.exciseDupSubstringsXx(docs, "doc_id", "text", k).count()
        }
        Blocks.freeAll(spark)
        t("full_xx_2") {
          graft.operators.Corpus.exciseDupSubstringsXx(docs, "doc_id", "text", k).count()
        }
        spark.stop()

      case "tri" =>
        val sfDir = args(1)
        val spark = session(cpus)
        val clock = new CpuClock
        spark.sparkContext.addSparkListener(clock)
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        def t(label: String)(body: => Long): Unit = {
          val c0 = clock.cpuNs.get(); val t0 = System.nanoTime()
          val n = body
          val wall = (System.nanoTime() - t0) / 1e9
          drain(spark)
          val cpu = (clock.cpuNs.get() - c0) / 1e9
          println(f"TRI $label%-26s rows=$n%10d wall=$wall%8.3f cpu=$cpu%8.3f")
        }
        import graft.operators.Graph
        val li = Tables.lineitem(spark, sfDir).where(col("l_orderkey") < 1000000)
        t("distinct_pairs_src") {
          li.select(col("l_orderkey").as("__g"),
            col("l_suppkey").cast("long").as("__i")).distinct().count()
        }
        val weighted = Graph.coOccurrencePairs(li, "l_orderkey", "l_suppkey")
        t("co_pairs")(weighted.count())
        val weighted2 = Graph.coOccurrencePairs(li, "l_orderkey", "l_suppkey")
        val edges = Graph.topKEdges(weighted2, 20)
        t("co_pairs+topk")(edges.count())
        val weighted3 = Graph.coOccurrencePairs(li, "l_orderkey", "l_suppkey")
        t("full")(Graph.triangleCounts(Graph.topKEdges(weighted3, 20)).count())
        Blocks.freeAll(spark)
        t("full_2")(Graph.triangleCounts(Graph.topKEdges(
          Graph.coOccurrencePairs(li, "l_orderkey", "l_suppkey"), 20)).count())
        spark.stop()

      case "jac" =>
        val sfDir = args(1)
        val spark = session(cpus)
        val clock = new CpuClock
        spark.sparkContext.addSparkListener(clock)
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        def t(label: String)(body: => Long): Unit = {
          val c0 = clock.cpuNs.get(); val t0 = System.nanoTime()
          val n = body
          val wall = (System.nanoTime() - t0) / 1e9
          drain(spark)
          val cpu = (clock.cpuNs.get() - c0) / 1e9
          println(f"JAC $label%-26s rows=$n%10d wall=$wall%8.3f cpu=$cpu%8.3f")
        }
        val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 2000)
        val (tauNum, tauDen) = (9, 10)
        val toks = docs.select(col("doc_id").as("id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
          .localCheckpoint(true)
        t("toks_ckpt")(toks.count())
        val dfc = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val sz = toks.groupBy(col("id")).agg(count(lit(1)).as("sz"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("df"), col("tok"))
        val prefLen = col("sz") -
          floor((col("sz") * tauNum + tauDen - 1) / tauDen) + 1
        val prefix = toks.join(dfc, "tok").join(sz, "id")
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= prefLen)
          .select(col("id"), col("tok"), col("sz"))
        t("prefix")(prefix.count())
        val cand = prefix.as("a").join(prefix.as("b"),
            col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
            col("b.sz") * tauDen >= col("a.sz") * tauNum &&
            col("a.sz") * tauDen >= col("b.sz") * tauNum)
          .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
                  col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
          .distinct()
        t("candidates")(cand.count())
        t("full")(graft.operators.SetJoin.prefixJaccardSelfJoin(
          docs, "doc_id", "text", 9, 10).count())
        Blocks.freeAll(spark)
        t("full_2")(graft.operators.SetJoin.prefixJaccardSelfJoin(
          docs, "doc_id", "text", 9, 10).count())
        spark.stop()

      case "jacplan" =>
        val sfDir = args(1); val passes = args(2).toInt
        val spark = session(cpus)
        val clock = new CpuClock
        spark.sparkContext.addSparkListener(clock)
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        (1 to passes).foreach { p =>
          val c0 = clock.cpuNs.get()
          val t0 = System.nanoTime()
          val df = Queries.all("jaccard_join_exact")(spark, sfDir)
          val n = df.count()
          val wall = (System.nanoTime() - t0) / 1e9
          drain(spark)
          val cpu = (clock.cpuNs.get() - c0) / 1e9
          println(f"JACPLAN pass=$p rows=$n wall=$wall%8.3f cpu=$cpu%8.3f")
          // final adaptive plan: collect join/agg node names
          def walk(pl: org.apache.spark.sql.execution.SparkPlan): Unit = {
            val name = pl.getClass.getSimpleName
            if (name.contains("Join") || name.contains("Aggregate") ||
                name.contains("Exchange") || name.contains("Sort"))
              println(s"  NODE pass=$p $name")
            pl match {
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                walk(a.executedPlan)
              case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                walk(q.plan)
              case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
                walk(r.child)
              case _ => pl.children.foreach(walk)
            }
          }
          walk(df.queryExecution.executedPlan)
          Blocks.freeAll(spark)
          drain(spark)
        }
        spark.stop()

      case "substrplan" =>
        val sfDir = args(1)
        val spark = session(cpus)
        import graft.functions.TextFunctions
        val k = 20
        val docs = Tables.documents(spark, sfDir)
        val normed = docs.select(col("doc_id"),
          TextFunctions.normalize(col("text")).as("__t"))
        val textsC = normed
          .groupBy(md5(col("__t")).as("__fp"), col("__t"))
          .agg(count(lit(1)).as("__w"))
          .repartition(spark.sessionState.conf.numShufflePartitions)
          .localCheckpoint()
        for ((tag, gcol) <- Seq(
            ("md5", graft.functions.GraftFunctions.charGramMd5(col("__t"), k)),
            ("xx", graft.functions.GraftFunctions.charGramHashes(col("__t"), k)))) {
          val withG = textsC.where(length(col("__t")) >= k)
            .select(col("__fp"), col("__w"), gcol.as("__gs"))
          val dup = withG
            .select(col("__w"), explode(array_distinct(col("__gs"))).as("__g"))
            .groupBy(col("__g")).agg(sum(col("__w")).as("__c"))
            .where(col("__c") >= 2).select(col("__g"))
          val pos = withG.select(col("__fp"), posexplode(col("__gs")))
            .toDF("__fp", "__i0", "__g")
          val dupStarts = pos.join(dup, "__g")
            .groupBy(col("__fp"))
            .agg(sort_array(collect_list(col("__i0") + 1)).as("__ds"))
          dupStarts.count()
          println(s"==== dupStarts $tag final plan ====")
          println(dupStarts.queryExecution.executedPlan.toString.take(4000))
        }
        spark.stop()

      case "ab3" =>
        // r19 batch-3 interleaved expression A/Bs: the sandbox has
        // TIME-VARYING hypervisor steal (measured ~18% of ticks under
        // full load), so cross-run comparisons are invalid — variants
        // alternate WITHIN each round in one JVM and the per-variant
        // min/median across rounds is the decision signal.
        val sfDir = args(1); val rounds = args(2).toInt
        val spark = session(cpus)
        val clock = new CpuClock
        spark.sparkContext.addSparkListener(clock)
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        def run(body: => Unit): Double = {
          val c0 = clock.cpuNs.get()
          body
          drain(spark)
          (clock.cpuNs.get() - c0) / 1e9
        }
        import graft.functions.GraftFunctions
        // --- jaccard verify input: the real candidate (ta, tb) pairs ---
        val docs = Tables.documents(spark, sfDir)
        val toks = docs.select(col("doc_id").as("id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
        val arrs = toks.groupBy(col("id"))
          .agg(sort_array(collect_set(col("tok"))).as("toks"))
        val pairs = arrs.as("a").join(arrs.as("b"),
            col("a.id") < col("b.id") &&
            pmod(col("a.id") + col("b.id"), lit(600)) === 0)
          .select(col("a.toks").as("ta"), col("b.toks").as("tb"))
          .repartition(32)
          .localCheckpoint()
        println(s"AB3 pairs=${pairs.count()}")
        // --- basket pair-explode input ---
        val baskets = Tables.lineitem(spark, sfDir).groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
          .repartition(32)
          .localCheckpoint()
        println(s"AB3 baskets=${baskets.count()}")
        // --- md5 gram walk input: distinct normalized texts ---
        val textsC = docs
          .select(graft.functions.TextFunctions.normalize(col("text")).as("__t"))
          .distinct().where(length(col("__t")) >= 20)
          .repartition(32)
          .localCheckpoint()
        println(s"AB3 texts=${textsC.count()}")
        val variants: Seq[(String, () => Unit)] = Seq(
          ("inter_builtin", () =>
            pairs.agg(sum(size(array_intersect(col("ta"), col("tb")))))
              .collect()),
          ("inter_native", () =>
            pairs.agg(sum(GraftFunctions.sortedIntersectCount(
              col("ta"), col("tb")))).collect()),
          ("pairs_hof", () =>
            baskets.select(explode(flatten(transform(col("parts"), (x, i) =>
              transform(slice(col("parts"), i + 2, size(col("parts"))), y =>
                struct(x.as("pa"), y.as("pb")))))).as("p"))
              .agg(sum(col("p.pa"))).collect()),
          ("pairs_native", () =>
            baskets.select(explode(GraftFunctions.orderedPairs(
              col("parts"))).as("p"))
              .agg(sum(col("p.pa"))).collect()),
          ("md5walk_hof", () =>
            textsC.select(explode(expr("transform(sequence(1, length(__t) - 19), " +
              "i -> md5(substring(__t, i, 20)))").as("gs")).as("g"))
              .agg(count(lit(1))).collect()),
          ("md5walk_native", () =>
            textsC.select(explode(GraftFunctions.charGramMd5(col("__t"), 20)).as("g"))
              .agg(count(lit(1))).collect()),
          ("winnow_native", () =>
            docs.where(length(col("text")) >= 11)
              .select(explode(GraftFunctions.winnow(col("text"), 8, 4)))
              .agg(count(lit(1))).collect()))
        val results = scala.collection.mutable.Map[String, List[Double]]()
          .withDefaultValue(Nil)
        (1 to rounds).foreach { r =>
          val order = if (r % 2 == 1) variants else variants.reverse
          order.foreach { case (name, body) =>
            val cpu = run(body())
            results(name) = cpu :: results(name)
            println(f"AB3 round=$r $name%-16s cpu=$cpu%8.3f")
          }
        }
        variants.foreach { case (name, _) =>
          val rs = results(name)
          val sorted = rs.sorted
          println(f"AB3SUMMARY $name%-16s min=${sorted.head}%8.3f med=${sorted(sorted.size / 2)}%8.3f")
        }
        spark.stop()

      case "ab4" =>
        // dedup_substring (md5 evaluation form): do the dup-gram table
        // and position join get cheaper when the 32-char hex keys are
        // unhex'd to 16-byte binary through the explode/agg/join?
        // unhex is INJECTIVE on valid hex, so groups and matches are
        // identical — this is a key-representation A/B only.
        val sfDir = args(1); val rounds = args(2).toInt
        val spark = session(cpus)
        val clock = new CpuClock
        spark.sparkContext.addSparkListener(clock)
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        def runC(body: => Unit): Double = {
          val c0 = clock.cpuNs.get()
          body
          drain(spark)
          (clock.cpuNs.get() - c0) / 1e9
        }
        import graft.functions.TextFunctions
        val k = 20
        val docs = Tables.documents(spark, sfDir)
        val textsC = docs
          .select(col("doc_id"), TextFunctions.normalize(col("text")).as("__t"))
          .groupBy(md5(col("__t")).as("__fp"), col("__t"))
          .agg(count(lit(1)).as("__w"))
          .repartition(32)
          .localCheckpoint()
        println(s"AB4 texts=${textsC.count()}")
        def dupStarts(gramKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
          val withG = textsC.where(length(col("__t")) >= k)
            .select(col("__fp"), col("__w"),
              graft.functions.GraftFunctions.charGramMd5(col("__t"), k).as("__gs"))
          val dup = withG
            .select(col("__w"), explode(array_distinct(col("__gs"))).as("__g0"))
            .select(col("__w"), gramKey(col("__g0")).as("__g"))
            .groupBy(col("__g")).agg(sum(col("__w")).as("__c"))
            .where(col("__c") >= 2).select(col("__g"))
          val pos = withG.select(col("__fp"), posexplode(col("__gs")))
            .toDF("__fp", "__i0", "__g")
            .select(col("__fp"), col("__i0"), gramKey(col("__g")).as("__g"))
          pos.join(dup, "__g")
            .groupBy(col("__fp"))
            .agg(sort_array(collect_list(col("__i0") + 1)).as("__ds"))
            .agg(count(lit(1)), sum(size(col("__ds")))).collect()
        }
        val variants4: Seq[(String, () => Unit)] = Seq(
          ("hexkeys", () => dupStarts(identity)),
          ("binkeys", () => dupStarts(unhex)))
        val results4 = scala.collection.mutable.Map[String, List[Double]]()
          .withDefaultValue(Nil)
        (1 to rounds).foreach { r =>
          val order = if (r % 2 == 1) variants4 else variants4.reverse
          order.foreach { case (name, body) =>
            val cpu = runC(body())
            results4(name) = cpu :: results4(name)
            println(f"AB4 round=$r $name%-10s cpu=$cpu%8.3f")
          }
        }
        variants4.foreach { case (name, _) =>
          val sorted = results4(name).sorted
          println(f"AB4SUMMARY $name%-10s min=${sorted.head}%8.3f med=${sorted(sorted.size / 2)}%8.3f")
        }
        spark.stop()

      case "ab5" =>
        // dedupLines reassembly agg: full-buffer collect + sort +
        // filter (old) vs kept-only collect via when() (new), over the
        // real exploded segment table at sf0.1.
        val sfDir = args(1); val rounds = args(2).toInt
        val spark = session(cpus)
        val clock = new CpuClock
        spark.sparkContext.addSparkListener(clock)
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        def runC(body: => Unit): Double = {
          val c0 = clock.cpuNs.get()
          body
          drain(spark)
          (clock.cpuNs.get() - c0) / 1e9
        }
        import graft.functions.TextFunctions
        val segTokens = 8; val maxDocs = 2
        val docs = Tables.documents(spark, sfDir)
        val uniq = docs
          .select(TextFunctions.fingerprint(col("text")).as("__fp"), col("text"))
          .groupBy(col("__fp"))
          .agg(min(col("text")).as("text"), count(lit(1)).as("__copies"))
          .repartition(32)
        val exploded = uniq
          .select(col("__fp"), col("__copies"),
            posexplode(graft.functions.GraftFunctions.tokenSegments(
              graft.functions.TextFunctions.normalize(col("text")), segTokens)))
          .toDF("__fp", "__copies", "seg_idx", "seg")
        val counts5 = exploded
          .select(col("__fp"), col("__copies"), col("seg")).distinct()
          .groupBy(col("seg")).agg(sum(col("__copies")).as("n_docs"))
        val joined = exploded.join(counts5, "seg")
          .withColumn("kept", col("n_docs") <= maxDocs)
          .select(col("__fp"), col("seg_idx"), col("seg"), col("kept"))
          .repartition(32)
          .localCheckpoint()
        println(s"AB5 segrows=${joined.count()}")
        def sink(df: org.apache.spark.sql.DataFrame): Unit =
          df.agg(sum(length(col("clean_text"))), sum(col("n_kept")),
            sum(col("n_dropped"))).collect()
        val variants5: Seq[(String, () => Unit)] = Seq(
          ("full_buffer", () => sink(joined
            .groupBy(col("__fp"))
            .agg(
              concat_ws(" ", transform(
                filter(
                  array_sort(collect_list(struct(col("seg_idx"), col("kept"),
                                                 col("seg")))),
                  s => s("kept")),
                s => s("seg"))).as("clean_text"),
              sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
              sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped")))),
          ("kept_only", () => sink(joined
            .groupBy(col("__fp"))
            .agg(
              concat_ws(" ", transform(
                array_sort(collect_list(when(col("kept"),
                  struct(col("seg_idx"), col("seg"))))),
                s => s("seg"))).as("clean_text"),
              sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
              sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped")))),
          // r20 lower bound: the same groupBy WITHOUT any reassembly —
          // the counts-only agg. (kept_only − no_reassembly) bounds
          // what a native reassembly aggregate could save.
          ("no_reassembly", () => joined
            .groupBy(col("__fp"))
            .agg(
              sum(when(col("kept"), length(col("seg"))).otherwise(0L))
                .as("len_proxy"),
              sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
              sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
            .agg(sum(col("len_proxy")), sum(col("n_kept")),
              sum(col("n_dropped"))).collect()))
        val results5 = scala.collection.mutable.Map[String, List[Double]]()
          .withDefaultValue(Nil)
        (1 to rounds).foreach { r =>
          val order = if (r % 2 == 1) variants5 else variants5.reverse
          order.foreach { case (name, body) =>
            val cpu = runC(body())
            results5(name) = cpu :: results5(name)
            println(f"AB5 round=$r $name%-12s cpu=$cpu%8.3f")
          }
        }
        variants5.foreach { case (name, _) =>
          val sorted = results5(name).sorted
          println(f"AB5SUMMARY $name%-12s min=${sorted.head}%8.3f med=${sorted(sorted.size / 2)}%8.3f")
        }
        spark.stop()

      case "lines" =>
        // r20: decompose dedupLines (and by shared machinery
        // stripBoilerplate) to decide whether the reassembly chain —
        // collect_list(struct) → array_sort → interpreted transform →
        // concat_ws — is worth a native TypedImperativeAggregate.
        // Stages nest: each variant adds one stage on the previous, so
        // consecutive deltas attribute CPU to the added stage.
        //   grid      fingerprint+normalize+tokenSegments+posexplode
        //   counts    + per-unique distinct + seg frequency agg
        //   joined    + join back + groupBy(fp) with CHEAP agg (sums only)
        //   full      + the real reassembly chain
        val sfDir = args(1); val rounds = args(2).toInt
        val spark = session(cpus)
        val clock = new CpuClock
        spark.sparkContext.addSparkListener(clock)
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        def runC(body: => Unit): Double = {
          val c0 = clock.cpuNs.get()
          body; Blocks.freeAll(spark); drain(spark)
          (clock.cpuNs.get() - c0) / 1e9
        }
        val docs = Tables.documents(spark, sfDir)
        val segTokens = 8; val maxDocs = 2
        def uniq0 = docs
          .select(graft.functions.TextFunctions.fingerprint(col("text")).as("__fp"),
            col("text"))
          .groupBy(col("__fp"))
          .agg(min(col("text")).as("text"), count(lit(1)).as("__copies"))
          .repartition(spark.sessionState.conf.numShufflePartitions)
        def exploded0 = uniq0
          .select(col("__fp"), col("__copies"),
            posexplode(graft.functions.GraftFunctions.tokenSegments(
              graft.functions.TextFunctions.normalize(col("text")), segTokens)))
          .toDF("__fp", "__copies", "seg_idx", "seg")
        def counts0 = exploded0
          .select(col("__fp"), col("__copies"), col("seg")).distinct()
          .groupBy(col("seg")).agg(sum(col("__copies")).as("n_docs"))
        def joined0 = exploded0.join(counts0, "seg")
          .withColumn("kept", col("n_docs") <= maxDocs)
        // B variant: per-text distinct via array_distinct BEFORE the
        // explode — one exchange (map-side partial sum on seg) instead
        // of distinct-exchange + agg-exchange, and __fp never shuffles
        def counts2 = uniq0
          .select(col("__copies"),
            explode(array_distinct(graft.functions.GraftFunctions.tokenSegments(
              graft.functions.TextFunctions.normalize(col("text")), segTokens)))
              .as("seg"))
          .groupBy(col("seg")).agg(sum(col("__copies")).as("n_docs"))
        def joined2 = exploded0.join(counts2, "seg")
          .withColumn("kept", col("n_docs") <= maxDocs)
        val variantsL: Seq[(String, () => Unit)] = Seq(
          ("grid", () =>
            { exploded0.agg(count(col("seg")), sum(col("seg_idx"))).collect(); () }),
          ("counts", () =>
            { counts0.agg(sum(col("n_docs")), count(lit(1))).collect(); () }),
          ("counts2", () =>
            { counts2.agg(sum(col("n_docs")), count(lit(1))).collect(); () }),
          ("joined", () =>
            { joined0.groupBy(col("__fp"))
                .agg(sum(when(col("kept"), length(col("seg"))).otherwise(0L)),
                  sum(when(col("kept"), 1L).otherwise(0L)))
                .agg(count(lit(1))).collect(); () }),
          ("full", () =>
            { joined0.groupBy(col("__fp"))
                .agg(
                  concat_ws(" ", transform(
                    array_sort(collect_list(when(col("kept"),
                      struct(col("seg_idx"), col("seg"))))),
                    s => s("seg"))).as("clean_text"),
                  sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
                .agg(sum(length(col("clean_text"))), count(lit(1)))
                .collect(); () }),
          ("full2", () =>
            { joined2.groupBy(col("__fp"))
                .agg(
                  concat_ws(" ", transform(
                    array_sort(collect_list(when(col("kept"),
                      struct(col("seg_idx"), col("seg"))))),
                    s => s("seg"))).as("clean_text"),
                  sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
                .agg(sum(length(col("clean_text"))), count(lit(1)))
                .collect(); () }),
          ("query", () =>
            { Queries.all("dedup_lines")(spark, sfDir).count(); () }))
        val chk1 = counts0.agg(sum(col("n_docs")), count(lit(1))).head()
        val chk2 = counts2.agg(sum(col("n_docs")), count(lit(1))).head()
        println(s"LINESCHECK counts=$chk1 counts2=$chk2 equal=${chk1 == chk2}")
        val histL = scala.collection.mutable.Map[String, List[Double]]()
          .withDefaultValue(Nil)
        (1 to rounds).foreach { r =>
          val order = if (r % 2 == 1) variantsL else variantsL.reverse
          order.foreach { case (name, body) =>
            val cpu = runC(body())
            histL(name) = cpu :: histL(name)
            println(f"LINES round=$r $name%-8s cpu=$cpu%8.3f")
          }
        }
        variantsL.foreach { case (name, _) =>
          val rs = histL(name).sorted
          println(f"LINESSUMMARY $name%-8s min=${rs.head}%8.3f med=${rs(rs.size / 2)}%8.3f")
        }
        spark.stop()

      case "jobs" =>
        // r20: Spark-job census per query — the wall of the index
        // lifecycle rows is DRIVER-SERIAL SMALL JOBS, so the honest,
        // steal-proof before/after evidence for a job-elision change
        // is the job count itself (deterministic), with wall/cpu as
        // context.
        val sfDir = args(1); val passes = args(2).toInt
        val qs = args(3).split(",").toSeq
        val spark = session(cpus)
        val clock = new CpuClock
        val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
        spark.sparkContext.addSparkListener(clock)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              jobs.incrementAndGet()
          })
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        (1 to passes).foreach { p =>
          qs.foreach { q =>
            val j0 = jobs.get(); val c0 = clock.cpuNs.get()
            val t0 = System.nanoTime()
            val n = Queries.all(q)(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            Blocks.freeAll(spark)
            drain(spark)
            val cpu = (clock.cpuNs.get() - c0) / 1e9
            println(f"JOBS pass=$p $q%-28s rows=$n%9d njobs=${jobs.get() - j0}%4d wall=$wall%8.3f cpu=$cpu%8.3f")
          }
        }
        spark.stop()

      case "segjobs" =>
        // r20: is the per-probe driver job count FLAT in segment count
        // after the batched stats-prune? Builds the SAME corpus as a
        // 1-segment and a 32-segment ANN index, probes each with a job
        // counter, and asserts result parity. Before the batch, each
        // probe paid one prune job PER SEGMENT (linear); after, one
        // prune job per pruned TABLE-SET (constant).
        val sfDir = args(1)
        val spark = session(cpus)
        val jobs2 = new java.util.concurrent.atomic.AtomicLong(0L)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              jobs2.incrementAndGet()
          })
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        val emb = Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding")).localCheckpoint()
        val n = emb.count()
        val qs = emb.orderBy(col("vec_id")).limit(5).localCheckpoint()
        qs.count()
        def mkIndex(nSegs: Int): String = {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft-segjobs-$nSegs").toString + "/idx"
          val bands = 1 to nSegs
          val width = n / nSegs + 1
          graft.sources.AnnIndex.build(spark,
            emb.where(col("vec_id") < width), root, cells = 4, nFiles = 2,
            note = "b0")
          bands.drop(1).foreach { b =>
            val lo = (b - 1).toLong * width; val hi = b.toLong * width
            graft.sources.AnnIndex.append(spark, root,
              emb.where(col("vec_id") >= lo && col("vec_id") < hi),
              nFiles = 2, note = s"b$b")
          }
          root
        }
        val roots = Seq(1, 8, 32).map(s => s -> mkIndex(s))
        var parity: Option[String] = None
        roots.foreach { case (nSegs, root) =>
          // warm probe (codegen/JIT), then counted probe
          graft.sources.AnnIndex.probe(spark, root, qs, k = 10,
            nprobe = 4).collect()
          drain(spark)
          val j0 = jobs2.get()
          val t0 = System.nanoTime()
          val res = graft.sources.AnnIndex.probe(spark, root, qs, k = 10,
            nprobe = 4).collect()
          val wall = (System.nanoTime() - t0) / 1e9
          drain(spark)
          val sig = res.map(_.toString).sorted.mkString("|").hashCode
          parity.foreach(p => println(s"SEGJOBS parity_with_first=${p == sig.toString}"))
          if (parity.isEmpty) parity = Some(sig.toString)
          println(f"SEGJOBS segs=$nSegs%2d probe_jobs=${jobs2.get() - j0}%3d wall=$wall%7.3f sig=$sig")
        }
        spark.stop()

      case "storm" =>
        // r20: root-cause the allocation-storm variance class (r19's #1
        // unresolved finding — same-plan task CPU intermittently 5-400×
        // on allocation-heavy rows). Loops storm-prone reproducers in
        // ONE JVM and records, per round: task CPU, task-attributed GC,
        // JVM GC-bean deltas (per collector: count, ms), JIT total
        // compilation-time delta, code-heap occupancy, and /proc/stat
        // steal delta. Launch this main under different JVM flags
        // (collector, heap, code cache) and compare STORM FREQUENCY
        // (rounds > 3× per-variant min) — frequency is robust to the
        // sandbox's time-varying hypervisor steal where absolute
        // cross-JVM numbers are not.
        val sfDir = args(1); val rounds = args(2).toInt
        val spark = session(cpus)
        val clock = new CpuClock
        spark.sparkContext.addSparkListener(clock)
        spark.range(1000000).selectExpr("sum(id)").collect()
        drain(spark)
        import java.lang.management.ManagementFactory
        import scala.jdk.CollectionConverters._
        def gcStats(): Map[String, (Long, Long)] =
          ManagementFactory.getGarbageCollectorMXBeans.asScala
            .map(b => b.getName -> (b.getCollectionCount, b.getCollectionTime))
            .toMap
        def stealTicks(): Long =
          try {
            val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
              .trim.split("\\s+").drop(1).map(_.toLong)
            if (f.length > 7) f(7) else 0L
          } catch { case _: Throwable => 0L }
        def codeHeapMb(): Long =
          ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getName.startsWith("CodeHeap"))
            .map(_.getUsage.getUsed).sum / (1 << 20)
        def heapUsedMb(): Long =
          ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1 << 20)
        import graft.functions.GraftFunctions
        val docs = Tables.documents(spark, sfDir)
        // storm-prone reproducers, each with a counterpart class note:
        //   pairs_hof     interpreted nested HOF explode   (ab3 stormer)
        //   inter_builtin array_intersect materialization  (ab3 stormer)
        //   cdc_merge     full-outer merge join, no HOFs   (bench stormer
        //                 r19 batch-3 capture: 3.2 vs 34.2 cpu-s passes)
        //   scd2          window + union dimension build   (bench stormer)
        val baskets = Tables.lineitem(spark, sfDir).groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
          .repartition(32)
          .localCheckpoint()
        println(s"STORM baskets=${baskets.count()}")
        val toks = docs.select(col("doc_id").as("id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
        val arrs = toks.groupBy(col("id"))
          .agg(sort_array(collect_set(col("tok"))).as("toks"))
        val pairs = arrs.as("a").join(arrs.as("b"),
            col("a.id") < col("b.id") &&
            pmod(col("a.id") + col("b.id"), lit(600)) === 0)
          .select(col("a.toks").as("ta"), col("b.toks").as("tb"))
          .repartition(32)
          .localCheckpoint()
        println(s"STORM pairs=${pairs.count()}")
        // the two reproducer inputs are localCheckpoint'd (so their
        // prep CPU never pollutes a variant's round) — pin their RDD
        // ids; freeing them between rounds would make round 2 throw
        // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (lineage is truncated).
        val pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
        def freeOthers(): Unit = {
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs
            .filterNot { case (id, _) => pinned(id) }
            .values.foreach(_.unpersist(blocking = true))
        }
        val variants: Seq[(String, () => Unit)] = Seq(
          ("pairs_hof", () =>
            baskets.select(explode(flatten(transform(col("parts"), (x, i) =>
              transform(slice(col("parts"), i + 2, size(col("parts"))), y =>
                struct(x.as("pa"), y.as("pb")))))).as("p"))
              .agg(sum(col("p.pa"))).collect()),
          ("inter_builtin", () =>
            pairs.agg(sum(size(array_intersect(col("ta"), col("tb")))))
              .collect()),
          ("cdc_merge", () =>
            { Queries.all("cdc_merge_apply")(spark, sfDir).count(); () }),
          ("scd2", () =>
            { Queries.all("scd2_dimension")(spark, sfDir).count(); () }))
        val hist = scala.collection.mutable.Map[String, List[Double]]()
          .withDefaultValue(Nil)
        (1 to rounds).foreach { r =>
          val order = if (r % 2 == 1) variants else variants.reverse
          order.foreach { case (name, body) =>
            val gc0 = gcStats(); val st0 = stealTicks()
            val comp0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
            val c0 = clock.cpuNs.get(); val r0 = clock.runMs.get()
            val g0 = clock.gcMs.get()
            val t0 = System.nanoTime()
            body()
            val wall = (System.nanoTime() - t0) / 1e9
            freeOthers()
            drain(spark)
            val cpu = (clock.cpuNs.get() - c0) / 1e9
            val run = (clock.runMs.get() - r0) / 1e3
            val tgc = (clock.gcMs.get() - g0) / 1e3
            val comp = (ManagementFactory.getCompilationMXBean
              .getTotalCompilationTime - comp0) / 1e3
            val st = stealTicks() - st0
            val gcd = gcStats().map { case (k, (c, t)) =>
              val (pc, pt) = gc0.getOrElse(k, (0L, 0L))
              f"${k.replace(" ", "")}=${c - pc}/${(t - pt) / 1e3}%.1fs"
            }.mkString(",")
            hist(name) = cpu :: hist(name)
            println(f"STORM round=$r $name%-14s wall=$wall%7.2f cpu=$cpu%8.2f run=$run%8.2f taskgc=$tgc%7.2f comp=$comp%6.1f steal=$st%5d heap=${heapUsedMb()}%5dM cc=${codeHeapMb()}%4dM gc[$gcd]")
          }
        }
        variants.foreach { case (name, _) =>
          val rs = hist(name).sorted
          val mn = rs.head
          val storms = rs.count(_ > 3 * mn)
          println(f"STORMSUMMARY $name%-14s min=$mn%8.2f med=${rs(rs.size / 2)}%8.2f max=${rs.last}%8.2f storms=$storms/${rs.size}")
        }
        spark.stop()

      case other =>
        println(s"unknown mode $other; modes: plans time substr tri jac jacplan substrplan ab3 ab4 ab5 lines jobs segjobs storm")
    }
  }
}
