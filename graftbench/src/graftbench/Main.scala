package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Blocks, SparkEntry, Tables}
import graft.functions.{GraftFunctions, TextFunctions}
import graft.operators.Curate
import graft.sources.GrepIndex

/** Cumulative engine counters. The SparkListener half counts jobs,
  * stages and tasks and sums task metrics; the QueryExecutionListener
  * half reads each finished query's planning phases, final adaptive
  * plan (exchanges) and file-scan metrics. Read them only after
  * [[Tracer.drain]], so every event of the work before has landed. */
final class Counters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val sums = scala.collection.mutable.Map.empty[String, Double]
  private val intervals = ArrayBuffer.empty[(Long, Long)]
  private var peakExecMem = 0L

  private def add(kvs: (String, Double)*): Unit = synchronized {
    kvs.foreach { case (k, v) => sums(k) = sums.getOrElse(k, 0.0) + v }
  }

  def snapshot(): Map[String, Double] = synchronized {
    sums.toMap + ("codegen_compile_ms" -> CodeGenerator.compileTime / 1e6)
  }

  /** Largest task execution-memory peak since the last call. */
  def takePeakExecMem(): Long = synchronized {
    val p = peakExecMem; peakExecMem = 0L; p
  }

  /** Task (launch, finish) epoch-ms intervals that overlap [a, b]. */
  def taskIntervals(a: Long, b: Long): Seq[(Long, Long)] = synchronized {
    intervals.filter { case (s, e) => e >= a && s <= b }.toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs" -> 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages" -> 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    synchronized { intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
    add("tasks" -> 1)
    if (m != null) {
      add("task_cpu_ns" -> m.executorCpuTime, "task_run_ms" -> m.executorRunTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "gc_ms" -> m.jvmGCTime)
      synchronized { peakExecMem = math.max(peakExecMem, m.peakExecutionMemory) }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val scans = collectWithSubqueries(plan) {
      case p: SparkPlan if p.getClass.getSimpleName.startsWith("FileSourceScan") => p
    }
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    add("planning_ms" -> qe.tracker.phases.values.map(_.durationMs).sum.toDouble,
      "exchanges" -> collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.size,
      "scan_files_read" -> scans.map(metric(_, "numFiles")).sum,
      "scan_bytes_read" -> scans.map(metric(_, "filesSize")).sum,
      "scan_rows" -> scans.map(metric(_, "numOutputRows")).sum,
      "scan_metadata_ms" -> scans.map(metric(_, "metadataTime")).sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** The largest heap occupancy right after a collection, from the JVM's
  * GC notifications: the live data plus what no collection has yet
  * reclaimed, whatever size the collector let the heap grow to. */
final class HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.toArray.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.entrySet.toArray
          .map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.management.MemoryUsage]])
          .collect { case x if heapPools(x.getKey) => x.getValue.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }, null, null)
    case _ =>
  }

  def peakMb: Double = peak / 1048576.0
}

/** One timed call: `overheadNs` is the listener-drain time spent at
  * the boundaries of this span's direct children, which is neither the
  * children's time nor this span's own work. */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startNs: Long, endNs: Long, overheadNs: Long, ok: Boolean,
                      counters: Map[String, Double], attrs: Map[String, Double])

/** In-memory span recorder. Untraced, a span is two clock reads; traced,
  * it also drains the listener bus and snapshots [[Counters]] on both
  * sides, so the counter delta belongs to the span's work alone. */
final class Tracer(spark: SparkSession, counters: Counters) {
  var traced = false
  val spans = ArrayBuffer.empty[Span]
  /** Time spent draining and snapshotting at span boundaries. */
  var drainNs = 0L
  private var stack = List.empty[(Int, Array[Long])] // (id, overheadNs cell)
  private var nextId = 0

  private lazy val waitUntilEmpty: () => Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val wait = bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
    () => wait.invoke(bus, java.lang.Long.valueOf(60000L))
  }

  /** Block until every posted listener event has been handled. A failed
    * drain throws: counters read after it would be misattributed. */
  def drain(): Unit = waitUntilEmpty()

  private def drainedSnapshot(): (Map[String, Double], Long) = {
    val t0 = System.nanoTime(); drain()
    val snapshot = counters.snapshot()
    val d = System.nanoTime() - t0
    drainNs += d
    (snapshot, d)
  }

  def span[T](name: String, op: String, attrs: => Map[String, Double] = Map.empty)
             (body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val (c0, d0) = if (traced) drainedSnapshot() else (Map.empty[String, Double], 0L)
    val overhead = Array(0L)
    stack = (id, overhead) :: stack
    var ok = false
    val t0 = System.nanoTime()
    try { val r = body; ok = true; r }
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      val (c1, d1) = if (traced) drainedSnapshot() else (Map.empty[String, Double], 0L)
      stack.headOption.foreach(_._2(0) += d0 + d1)
      val delta = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) }
      spans += Span(id, parent, name, op, t0, t1, overhead(0), ok, delta,
        if (traced) attrs else Map.empty)
    }
  }
}

object Main {
  final case class Op(name: String, kind: String, run: () => Unit,
                      attrs: () => Map[String, Double] = () => Map.empty)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def session(cores: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `--prime <dir>`: start a session and round-trip a small parquet
    * table, so a class-data archive dumped at exit holds the classes
    * every run loads. Otherwise: one benchmark run (see run.py). */
  def main(args: Array[String]): Unit = args match {
    case Array("--prime", dir) =>
      val spark = session("4")
      spark.range(1000).selectExpr("id", "id % 7 AS k", "CAST(id AS STRING) AS s")
        .write.parquet(s"$dir/t")
      val t = spark.read.parquet(s"$dir/t")
      t.join(t.groupBy("k").count(), "k").orderBy("s").write.format("noop").mode("overwrite").save()
      spark.stop()
    case Array(workload, dataDir, outDir, trace, seed, cores) =>
      val spark = session(cores)
      val setupS = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      spark.sparkContext.setLogLevel("ERROR")
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
      val tracer = new Tracer(spark, counters)
      val bench = new Bench(spark, tracer, counters, workload, dataDir,
        new File(System.getProperty("java.io.tmpdir")), seed.toLong, cores.toInt)
      val record = bench.run(trace == "1", outDir)
      Files.write(Paths.get(outDir, "record.json"),
        Json.obj(record + ("setup_s" -> setupS)).getBytes(UTF_8))
      spark.stop()
  }
}

/** One benchmark run of one workload in one JVM. */
final class Bench(spark: SparkSession, tracer: Tracer, counters: Counters,
                  workload: String, dir: String, tmp: File, seed: Long, cores: Int) {
  import Main.{noop, Op}
  private val rng = new Random(seed)

  // A subset of the text and dedup family, sized so that a run stays
  // near 50 s on 4 cores. It runs every native kernel of the
  // `functions` layer but `simhash` (`dedup_simhash` costs as much as
  // the four cheapest ops together); `text_quality` runs `lang_id`.
  private val textQueries = Seq("dedup_minhash_pairs", "wordpiece_tokenize", "bpe_encode",
    "text_quality", "nfc_normalize_sound", "winnow_fingerprint", "blocklist_filter")
  /** Ops without an oracle are checked through their `*_sound` twins. */
  private val twins = Map("dedup_minhash_pairs" -> "dedup_minhash_sound",
    "bpe_encode" -> "bpe_encode_sound")

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def queryOp(name: String): Op = Op(name, "query", () => {
    val df = query(name)
    if (tracer.traced) tracer.span("plan", name)(df.queryExecution.executedPlan)
    tracer.span("exec", name)(noop(df))
  })

  // -------------------------------------------------- index_incremental
  // The grep index and the curation roots live for the whole run: the
  // cold pass builds the index over a seeded half of the documents, and
  // pass i appends seeded batch i+1 of the rest, probes the index, and
  // curates batch i+1 of the planted-duplicate corpus. Three passes in
  // all, so the final state is the registered queries' and their
  // oracles apply verbatim.
  private val batches = 3
  private val state = new File(tmp.getParentFile, "state")
  private val grepRoot = s"$state/grep"
  private val curateRoots = Curate.Roots(s"$state/cur", s"$state/ann", s"$state/inv")
  // The planted-duplicate corpus is the benchmark's input, so it lives
  // outside `state`, whose bytes count as the program's storage.
  private val curateInput = new File(tmp.getParentFile, "curate_input").toString
  private val grepPatterns = Seq((0L, "merge part window"), (1L, "batch batch batch"),
    (2L, "customer line"), (3L, "zzzz never present"))
  private val regexPatterns = Seq((0L, "merge (part|batch) window"),
    (1L, "custom[a-z]+ line"), (2L, "w[io]n?d[oe]w"), (3L, "zz(qq|xx) never present"))
  private val literalPool = Seq("merge", "window", "spark", "batch", "customer",
    "partition", "shuffle", "the data", "line item", "join", "stream", "zzzz never")
  private val regexPool = Seq("spar[k]+ ", "win(dow|d)s?", "ba[tc]+h", "part(ition)?s",
    "mer[g]e [a-z]+", "zz(qq|xx)")
  private val splitSalt = rng.nextInt(1 << 30)
  private def docPart(n: Int, salt: Int) = pmod(xxhash64(col("doc_id"), lit(salt)), lit(n))
  private def docs = Tables.documents(spark, dir)
  private val probeSets = (1 to batches).map { _ =>
    (rng.shuffle(literalPool).take(4).zipWithIndex.map { case (p, i) => (i.toLong, p) },
     rng.shuffle(regexPool).take(3).zipWithIndex.map { case (p, i) => (i.toLong, p) })
  }
  // The batches of the registered `curate_incremental` query. The cuts
  // are fixed: batch sizes set each pass's work, and seeded sizes would
  // make passes differ between seeds by more than the bounds allow.
  private val curateCuts = Seq(0, 200, 400, 600)

  private def filesUnder(root: String): Double =
    Files.walk(Paths.get(root)).filter(_.toString.endsWith(".parquet")).count().toDouble

  private def indexOps(pass: Int): Seq[Op] = {
    val (literals, regexes) = probeSets(pass)
    val setup = if (pass > 0) Nil else Seq(
      Op("build.grep", "build", () => GrepIndex.build(spark,
        docs.where(docPart(2, splitSalt) === 0), "doc_id", "text", grepRoot, nFiles = cores)),
      Op("curate.prepare", "curate_prepare", () => {
        val d = docs.where(col("doc_id") < curateCuts.last)
        val baseId = expr("CASE WHEN doc_id >= 300 THEN doc_id % 300 " +
          "WHEN doc_id % 11 = 7 THEN doc_id - 1 ELSE doc_id END")
        d.select(col("doc_id"), col("source"), baseId.as("base_id"))
          .join(d.select(col("doc_id").as("base_id"), col("text")), "base_id")
          .select(col("doc_id"), col("source"), col("text")).write.parquet(curateInput)
      }))
    def probe(name: String)(df: => DataFrame) = Op(name, "probe", () => noop(df),
      () => Map("files_in_index" -> filesUnder(grepRoot)))
    setup ++ Seq(
      Op("append.grep", "append", () => GrepIndex.append(spark, grepRoot,
        docs.where(docPart(2, splitSalt) === 1 && docPart(batches, splitSalt + 1) === pass),
        "doc_id", "text", nFiles = cores)),
      probe("probe.grep")(GrepIndex.probe(spark, grepRoot, literals)),
      probe("probe.regex")(GrepIndex.probeRegex(spark, grepRoot, regexes)),
      Op("curate_batch", "curate_batch", () => Curate.runBatch(spark, curateRoots,
        spark.read.parquet(curateInput)
          .where(col("doc_id") >= curateCuts(pass) && col("doc_id") < curateCuts(pass + 1)),
        Tables.embeddings(spark, dir), qualityFloor = 0.615, budgetPerSource = 550L)))
  }

  /** Final-state outputs of the index workload, named for their oracles. */
  private def indexFinal: Seq[(String, () => DataFrame)] = Seq(
    "grep_index_probe" -> (() => GrepIndex.probe(spark, grepRoot, grepPatterns)),
    "grep_regex_probe" -> (() => GrepIndex.probeRegex(spark, grepRoot, regexPatterns)),
    "curate_corpus" -> (() => Curate.readCorpus(spark, curateRoots)
      .select(col("doc_id"), col("source"), col("quality"))))

  private def opsFor(pass: Int): Seq[Op] = workload match {
    case "text_dedup" => textQueries.map(queryOp)
    case "index_incremental" => indexOps(pass)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  // ------------------------------------------------------------- passes
  private def bytesUnder(f: File): (Double, Double) =
    if (!f.exists) (0.0, 0.0)
    else {
      val files = Files.walk(f.toPath).filter(Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (files.map(Files.size(_).toDouble).sum, files.length.toDouble)
    }

  /** Between passes, outside the timing: empty the temp dir and collect
    * garbage, so no pass pays for the previous one's files or heap. */
  private def settle(): Unit = {
    Option(tmp.listFiles).toSeq.flatten.foreach { f =>
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
    System.gc()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Wall seconds covered by no running task inside [a, b] (epoch ms). */
  private def idleSeconds(a: Long, b: Long): Double = {
    var covered = 0L; var end = a
    counters.taskIntervals(a, b).map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
    (b - a - covered) / 1e3
  }

  private val heapAfterGc = new HeapAfterGc
  private var attempted = 0
  private val failures = ArrayBuffer.empty[String]

  /** Run one pass; returns its pass-level record. */
  private def pass(index: Int, traced: Boolean): Map[String, Any] = {
    tracer.traced = traced
    val first = tracer.spans.size; val drain0 = tracer.drainNs
    tracer.drain()
    val c0 = counters.snapshot(); counters.takePeakExecMem()
    var storagePeak = 0.0; var freeNs = 0L
    val (state0, stateFiles0) = bytesUnder(state)
    val wall0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    opsFor(index).foreach { op =>
      attempted += 1
      try tracer.span(op.kind, op.name, op.attrs())(op.run())
      catch { case e: Throwable =>
        failures += s"${op.name}: ${e.toString.take(300)}"
        System.err.println(s"op ${op.name} failed: $e")
      }
      storagePeak = math.max(storagePeak, spark.sparkContext.getRDDStorageInfo
        .map(i => (i.memSize + i.diskSize).toDouble).sum / (1 << 20))
      val f0 = System.nanoTime(); Blocks.freeAll(spark); freeNs += System.nanoTime() - f0
    }
    val wallS = (System.nanoTime() - t0) / 1e9; val wall1 = System.currentTimeMillis()
    tracer.traced = false
    tracer.drain()
    val d = counters.snapshot().map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) }
    val (tmpBytes, tmpFiles) = bytesUnder(tmp)
    val (state1, stateFiles1) = bytesUnder(state)
    val idle = idleSeconds(wall0, wall1)
    Map("index" -> index, "traced" -> traced, "wall_s" -> wallS,
      "cpu_s" -> d("task_cpu_ns") / 1e9, "counters" -> d,
      "driver_only_s" -> idle,
      "core_busy_frac" -> d("task_run_ms") / 1e3 / (wallS * cores),
      "peak_exec_mem_mb" -> counters.takePeakExecMem() / 1048576.0,
      "blocks_free_ms" -> freeNs / 1e6, "blocks_peak_storage_mb" -> storagePeak,
      "trace_drain_s" -> (tracer.drainNs - drain0) / 1e9,
      "bytes_written" -> (tmpBytes + state1 - state0),
      "files_written" -> (tmpFiles + stateFiles1 - stateFiles0), "state_bytes" -> state1,
      "spans" -> tracer.spans.drop(first).map(spanJson).toSeq)
  }

  private def spanJson(s: Span): Map[String, Any] = Map("id" -> s.id, "parent" -> s.parent,
    "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "overhead_ns" -> s.overheadNs, "ok" -> s.ok, "counters" -> s.counters, "attrs" -> s.attrs)

  /** Kernel ns/row over documents.text: kernel-only projection to the
    * noop sink minus its base projection, median of `reps` runs. */
  private def kernels(reps: Int): Map[String, Double] = {
    val d = docs.select(col("text")).localCheckpoint()
    val rows = d.count().toDouble
    val t = col("text")
    val norm = TextFunctions.normalize(t)
    val hashes = GraftFunctions.charGramHashes(t, 5)
    val vocab = Seq("the", "and", "spark", "win", "##dow", "merge", "part", "##s", "data")
    val merges = Seq("t ##h", "th ##e", "i ##n", "##e ##r")
    val cases = Seq(
      ("char_gram_hashes", hashes, t),
      ("minhash_signature", GraftFunctions.minhashSignature(hashes, reverse(hashes), 32),
        hashes),
      ("simhash", GraftFunctions.simhash(hashes), hashes),
      ("multi_match", GraftFunctions.multiMatch(t, Seq("merge", "window", "spark", "the")), t),
      ("wordpiece", GraftFunctions.wordpiece(norm, vocab), norm),
      ("bpe_encode", GraftFunctions.bpeEncode(norm, merges), norm),
      ("unicode_normalize", GraftFunctions.unicodeNormalize(t, "NFC"), t),
      ("quality_stats", GraftFunctions.qualityStats(t), t),
      ("lang_id", TextFunctions.langId(t), t),
      ("winnow", GraftFunctions.winnow(t, 8, 4), t))
    def time(c: org.apache.spark.sql.Column): Long = {
      val t0 = System.nanoTime(); noop(d.select(c.as("k"))); System.nanoTime() - t0
    }
    cases.map { case (name, kernel, base) =>
      tracer.span("kernel", name) {
        (1 to 2).foreach { _ => time(kernel); time(base) } // compile and JIT first
        val diffs = (1 to reps).map(_ => time(kernel) - time(base)).sorted
        name -> diffs(reps / 2) / rows
      }
    }.toMap
  }

  /** Evaluate each op's checked output once more, untimed, to parquet,
    * and write the oracle SQL beside it. */
  private def oracleOutputs(outDir: String): Seq[String] = {
    val oracles = SparkEntry.oracleSql
    val outputs: Seq[(String, String, () => DataFrame)] = workload match {
      case "index_incremental" =>
        val cur = oracles("curate_incremental")
        indexFinal.map { case (n, f) =>
          (n, if (n == "curate_corpus") s"SELECT doc_id, source, quality FROM ($cur)"
              else oracles(n), f)
        }
      case _ =>
        textQueries.map(twins.withDefault(identity)).map(n => (n, oracles(n), () => query(n)))
    }
    val failed = ArrayBuffer.empty[String]
    val sql = outputs.flatMap { case (name, oracle, f) =>
      try {
        f().write.mode("overwrite").parquet(s"$outDir/$name")
        Some(name -> oracle)
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"oracle output $name failed: $e"); None
      } finally Blocks.freeAll(spark)
    }
    Files.write(Paths.get(outDir, "oracle_sql.json"), Json.obj(sql.toMap).getBytes(UTF_8))
    failed.toSeq
  }

  def run(traced: Boolean, outDir: String): Map[String, Any] = {
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    // Process CPU (task threads, JIT compilers, GC) of the cold pass: what a
    // fresh JVM pays before it is warm, and steadier than its wall time
    // when other load shares the cores.
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val compile0 = CodeGenerator.compileTime; val cpu0 = os.getProcessCpuTime
    passes += pass(0, traced = false)
    val coldCompileMs = (CodeGenerator.compileTime - compile0) / 1e6
    val coldCpuS = (os.getProcessCpuTime - cpu0) / 1e9
    settle()
    // Warm passes: a fixed number, so that every run's median is taken at
    // the same point of JIT warm-up whatever the load. Traced runs
    // alternate untraced and traced passes: call latencies come from the
    // untraced ones, counters from the traced ones. The index workload's
    // passes are its append batches.
    val warm = if (workload == "index_incremental") batches - 1 else if (traced) 4 else 3
    (1 to warm).foreach { i =>
      passes += pass(i, traced && i % 2 == 0)
      settle()
    }
    val window = (System.nanoTime() - t0) / 1e9
    val peakRss = peakRssMb(); val heapPeak = heapAfterGc.peakMb
    val kernelNs = if (traced) kernels(5) else Map.empty[String, Double]
    val oracleFailed = oracleOutputs(outDir)
    Map("workload" -> workload, "seed" -> seed, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm" -> System.getProperty("java.version"), "spark" -> spark.version,
      "window_s" -> window, "passes" -> passes.toSeq,
      "cold_codegen_compile_ms" -> coldCompileMs, "cold_process_cpu_s" -> coldCpuS,
      "peak_rss_mb" -> peakRss, "heap_after_gc_peak_mb" -> heapPeak,
      "kernel_ns_per_row" -> kernelNs,
      "attempted" -> attempted, "failures" -> failures.toSeq,
      "oracle_eval_failed" -> oracleFailed)
  }
}

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")
  def value(v: Any): String = v match {
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case other => str(String.valueOf(other))
  }
  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
