package graft

import org.apache.spark.sql.SparkSession
import graft.obs.Profile

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR,
  * prints ONE JSON line. A small untimed warmup first — the first
  * query in a fresh JVM otherwise pays ~5s of classloading + codegen
  * that has nothing to do with the query being measured. */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // let AQE re-coalesce the output partitioning of cached plans:
      // without it every read of an operator-internal cache schedules
      // shuffle.partitions near-empty tasks at small scale
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r19 (guide §1: measure the computation, not harness overhead):
      // the generated-class cache is a STATIC conf defaulting to 100
      // entries; a 216-query suite generates far more codegen units
      // than that per pass, so BOTH bench passes of every query paid
      // full Janino recompilation — the r19 probe measured
      // dedup_substring at 43.6 task-cpu-s cold vs 18.4 warm from
      // nothing but compile/JIT. Sized to hold the suite (~4k units)
      // so pass 2 measures data work; identical class-cache behavior
      // on any deployment running a multi-query workload (not a
      // local[32]-specific constant — compiled-code reuse, never
      // result reuse; every query still computes from parquet).
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: exercise scan, agg, sort-merge join, broadcast join,
    // window and explode machinery once — the first use of each path
    // pays ~1-3 s of codegen/shuffle infra that would otherwise be
    // charged to whichever query happens to run it first
    try {
      import org.apache.spark.sql.functions._
      spark.range(1000000).selectExpr("sum(id)").collect()
      Tables.lineitem(spark, sfDir).limit(1000)
        .groupBy("l_returnflag").count().collect()
      val w = spark.range(10000).select(col("id"), pmod(col("id"), lit(100)).as("k"))
      w.as("a").join(w.as("b").hint("merge"), "k").count()
      w.join(broadcast(w.limit(100)), "k").count()
      w.select(col("k"), row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")).as("r"))
        .where(col("r") === 1).count()
      w.select(posexplode(array(col("id"), col("k")))).count()
      // decimal hash-agg and nested-loop join over array set ops: both
      // JIT ~1-3 s of generated code on first use (measured: the
      // all-pairs jaccard join runs 3.7 s cold vs 0.5 s warm at sf0.1,
      // charged entirely to whichever query runs it first)
      w.groupBy("k").agg(sum(col("id").cast("decimal(25,6)"))).count()
      // full-outer merge join (cdc_merge_apply / upsert / scd2 shape)
      w.as("a").join(w.as("b").hint("merge"), col("a.id") === col("b.id"),
        "full_outer").count()
      val arr = w.limit(200).select(col("id"),
        transform(sequence(lit(0), pmod(col("id"), lit(20))),
          i => concat(lit("t"), i)).as("ts"))
      arr.as("a").join(arr.as("b"), col("a.id") < col("b.id"))
        .where(size(array_intersect(col("a.ts"), col("b.ts"))).cast("double") /
          size(array_union(col("a.ts"), col("b.ts"))).cast("double") >= 0.95)
        .count()
    } catch { case _: Throwable => () }

    // stable name order: Map iteration order shifts as queries are
    // added, which would shuffle warmup-adjacency between rounds and
    // make per-query comparisons noisier than they need to be.
    // SPARK_GRAFT_ONLY=a,b,c restricts to a subset for iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // best-of-N per query (default 2), measured as N runs of the WHOLE
    // suite with per-query min ACROSS suite runs — not N back-to-back
    // passes of each query. Back-to-back passes decorrelate nothing: a
    // single ambient-load window spans both (BENCH_r06 recorded the
    // flagship at 3.19 s where clean runs measure 0.74 s twice, because
    // one spike covered both consecutive passes). With suite-level
    // repetition the same query's passes are ~2 minutes apart, so a
    // spike must recur on the same query to corrupt its min.
    // SPARK_GRAFT_PASSES=1 restores single-pass for quick iteration.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Throwable => "" }
    // Hypervisor steal over the bench window (r19): this sandbox
    // measured ~18% of ticks stolen under full 32-core load in one
    // window and near zero in another — the failure mode behind the
    // r18 driver anomaly. (steal_ticks, total_ticks) from /proc/stat;
    // the emitted steal_pct makes a contended capture self-evident
    // instead of needing forensic reconstruction.
    def cpuTicks(): (Long, Long) =
      try {
        val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
          .trim.split("\\s+").drop(1).map(_.toLong)
        // r19 advice: the kernel folds guest/guest_nice (fields 9-10)
        // into user/nice already — summing all fields would inflate the
        // steal_pct denominator on guest-reporting hosts
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } catch { case _: Throwable => (0L, 0L) }
    val (steal0, ticks0) = cpuTicks()
    val loadBefore = loadavg()
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // per pass per query: (wall sec, profile). Task CPU time is the
    // PRIMARY cross-round comparator (r18 verdict item 1): task run time
    // is task WALL duration and inflates under contention (the r18
    // driver capture summed 527 task-s where the same commit quiet summed
    // 200.4); CPU ns are stable across ambient load. Jobs and Exchanges
    // are counts and repeat exactly across passes.
    val suiteRuns: Seq[Seq[(Double, Profile)]] = (1 to passes).map { _ =>
      named.map { case (name, fn) =>
        val (dt, prof) = Profile.capture(spark) {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case t: Throwable =>
            System.err.println(s"BENCH FAIL $name: $t"); -1.0 } // -1 marks a failed query
        }
        Blocks.freeAll(spark) // caches AND checkpoint blocks — clearCache
        // alone left every dedup query's member-table checkpoint resident
        // for the JVM lifetime, making later queries' times depend on
        // suite position (r4 regression)
        (dt, prof)
      }
    }
    // any failed run fails the query (-1); otherwise best (min) across
    // runs. task_cpu_ms takes the min across passes independently of
    // wall (CPU is the stable signal — pairing it to the wall-winning
    // pass would re-import wall noise); task_ms (runTime) pairs with the
    // winning wall pass, kept for cross-round continuity/context; jobs
    // and exchanges are the last pass's (per_pass holds every pass's).
    val runsOf = named.map(_._1).zip(suiteRuns.transpose)
    def perQuery[V](failed: V)(f: Seq[(Double, Profile)] => V): Seq[(String, V)] =
      runsOf.map { case (name, runs) => name -> (if (runs.exists(_._1 < 0)) failed else f(runs)) }
    val results = perQuery(-1.0)(_.map(_._1).min)
    val taskMsOf = perQuery(-1L)(_.minBy(_._1)._2.taskRunMs)
    val cpuMsOf = perQuery(-1L)(_.map(_._2.taskCpuNs).min / 1000000L)
    val jobsOf = perQuery(-1L)(_.last._2.jobs.toLong)
    val exchangesOf = perQuery(-1L)(_.last._2.exchanges.toLong)
    val loadAfter = loadavg()
    val (steal1, ticks1) = cpuTicks()
    val stealPct =
      if (ticks1 > ticks0) 100.0 * (steal1 - steal0) / (ticks1 - ticks0)
      else -1.0
    // Machine self-calibration (r16 verdict item 5: the r16 bench
    // story needed a hand-derived 1.35× control band; this makes it
    // structural). The five control rows are queries whose code has
    // been untouched for many rounds; their reference times are the
    // committed r15 QUIET bench (bench_results.json at e96ca7a,
    // total 143.58 s, loadavg ~1.4). machine_factor = median of
    // current/reference over the five — every BENCH artifact now
    // self-normalizes: like-for-like total ≈ value / machine_factor,
    // and a quiet-vs-contended capture is visible in the factor
    // itself rather than needing forensic reconstruction.
    val calibrationRefs = Seq(
      "running_total" -> 0.0852, "q1_pricing_summary" -> 0.2754,
      "events_hourly" -> 0.2117, "tfidf_top_term" -> 0.6774,
      "late_shippers" -> 1.2978)
    val calCurrent = calibrationRefs.flatMap { case (n, ref) =>
      results.find(r => r._1 == n && r._2 > 0).map(r => (n, ref, r._2)) }
    val calRatios = calCurrent.map { case (_, ref, cur) => cur / ref }.sorted
    val machineFactor =
      if (calRatios.isEmpty) -1.0 else calRatios(calRatios.size / 2)
    // 4 decimals (0.1 ms) — full double repr bloated the line past the
    // driver's stdout tail buffer, truncating the recorded artifact
    // mid-JSON (r7 advice); sub-0.1ms digits are noise anyway
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def qsJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // FULL per-query map goes to bench_results.json (git-tracked): the
    // driver's stdout tail keeps only the last ~2000 bytes, and a
    // 126-query line is ~4.5 KB — its head gets clipped and the artifact
    // records parsed:null (r6/r7/r8 advice). The stdout line is a
    // COMPACT digest sized to survive the tail window whole: total,
    // the slowest 20 queries, any failures, and a pointer to the file.
    val calJson = {
      val rows = calCurrent.map { case (n, ref, cur) =>
        s"""\"$n\":{"ref":${fmt(ref)},"cur":${fmt(cur)},"ratio":${fmt(cur / ref)}}"""
      }.mkString("{", ",", "}")
      s""""calibration":{"reference":"r15 quiet bench_results.json @ e96ca7a","controls":$rows,"machine_factor":${fmt(machineFactor)}}"""
    }
    def longsJson(rs: Seq[(String, Long)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val taskTotalSec = taskMsOf.map(_._2).filter(_ >= 0).sum / 1e3
    val cpuTotalSec = cpuMsOf.map(_._2).filter(_ >= 0).sum / 1e3
    // per-pass per-query detail (r18 verdict item 1: BOTH r18 driver
    // passes were >=26 s on grep_regex_probe and nothing recorded could
    // localize it to a pass) — [wall sec, task run ms, task cpu ms,
    // jobs, exchanges] per pass, bench_results.json only
    val passJson = runsOf.map { case (name, runs) =>
      val rows = runs.map { case (w, p) =>
        s"[${fmt(w)},${p.taskRunMs},${p.taskCpuNs / 1000000L},${p.jobs},${p.exchanges}]"
      }.mkString("[", ",", "]")
      s"\"" + name + "\":" + rows
    }.mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","task_cpu_total_sec":${fmt(cpuTotalSec)},"task_total_sec":${fmt(taskTotalSec)},"queries":${qsJson(results)},"task_cpu_ms":${longsJson(cpuMsOf)},"task_ms":${longsJson(taskMsOf)},"jobs":${longsJson(jobsOf)},"exchanges":${longsJson(exchangesOf)},"per_pass":$passJson,"sf":"$sfDir","passes":$passes,"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","steal_pct":${fmt(stealPct)},$calJson}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_results.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    val failed = results.filter(_._2 < 0)
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(20).sortBy(_._1)
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","task_cpu_total_sec":${fmt(cpuTotalSec)},"task_total_sec":${fmt(taskTotalSec)},"n_queries":${results.size},"n_failed":${failed.size},"machine_factor":${fmt(machineFactor)},"queries":${qsJson(failed ++ slowest)},"full":"bench_results.json","sf":"$sfDir","passes":$passes,"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","steal_pct":${fmt(stealPct)}}"""
    println(line)
    spark.stop()
  }
}
