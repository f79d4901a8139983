package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft._
import graft.operators.{Curate, Similarity}
import graft.queries.IndexQueries

/** r17 (verdict item 8): decompose `curate_incremental`'s constant
  * term. The bench's most expensive row (13.8 s quiet) has had its
  * wobble attributed to "per-batch commit/AQE/checkpoint constants"
  * for three rounds without a measurement; this probe replays the
  * registered query's exact composition at the bench SF with a
  * wall timer around each top-level step. Output: TOTAL per step →
  * the BENCHNOTES_r17 attribution table (its per-stage walls came
  * from a runBatch stage profiler since removed; the r18/r19 tier
  * artifacts keep the measured values).
  *
  * r18 adds the TIER mode (r17 verdict item 1): the flagship
  * composition was the one family with no 1000× row. Three batches of
  * ~1.67M docs each run through the REAL [[Curate.runBatch]] against
  * /tmp/sf1000x. Texts are salted with a doc_id-derived token first:
  * ScaleN replicas share text verbatim, so unsalted batches 2-3 would
  * ledger-dedup to nothing and the probe would measure an empty
  * pipeline instead of the production first-seen-heavy flow. The
  * budget (6M tokens/source) is sized to cut mid-stream in batch 3 so
  * the carried state is load-bearing, like the sf-gate. Per-batch
  * rows carry wall + task_ms + shuffle/spill ([[graft.obs.Profile]]).
  *
  * r19 adds the LONGRUN mode (r18 verdict item 3): ≥32 batches
  * through the REAL [[Curate.runBatch]] twice — leg A without index
  * maintenance, leg B with `annMaxSegments`/`invMaxSegments` = 8 —
  * probing BM25 + ANN every few batches. The artifact shows probe
  * latency growing unbounded on leg A and bounded on leg B, with the
  * corpora and the final probe results identical across legs
  * (compaction is an access-path rewrite, never semantics).
  *
  * Usage: Test/runMain graft.tools.CurateProbe /root/testdata/sf0.1
  *        Test/runMain graft.tools.CurateProbe tier /tmp/sf1000x [outJson]
  *        Test/runMain graft.tools.CurateProbe longrun /root/testdata/sf0.1 [outJson]
  */
object CurateProbe {

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("tier")) {
      tierMain(args.lift(1).getOrElse("/tmp/sf1000x"), args.lift(2))
      return
    }
    if (args.headOption.contains("longrun")) {
      longrunMain(args.lift(1).getOrElse("/root/testdata/sf0.1"), args.lift(2))
      return
    }
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // bench-identical warmup surface: one small query
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, dir).limit(1000)
      .groupBy("l_returnflag").count().collect()

    def t[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"CURATE_STEP $label ${(System.nanoTime() - t0) / 1e9}%.3f")
      r
    }

    val whole0 = System.nanoTime()
    val docs = Tables.documents(spark, dir).where(col("doc_id") < 600)
    val emb = Tables.embeddings(spark, dir)
    val baseId = expr("CASE WHEN doc_id >= 300 THEN doc_id % 300 " +
      "WHEN doc_id % 11 = 7 THEN doc_id - 1 ELSE doc_id END")
    val derived = t("derive-ckpt") {
      docs.select(col("doc_id"), col("source"), baseId.as("base_id"))
        .join(docs.select(col("doc_id").as("base_id"), col("text")), "base_id")
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint()
    }
    val roots = Curate.tempRoots("graft-curate-probe")
    Seq((0L, 200L), (200L, 400L), (400L, 600L)).foreach { case (lo, hi) =>
      t(s"runBatch-$lo-$hi") {
        Curate.runBatch(spark, roots,
          derived.where(col("doc_id") >= lo && col("doc_id") < hi),
          emb, qualityFloor = 0.615, budgetPerSource = 550L)
      }
    }
    val corpus = t("readCorpus-ckpt") {
      Curate.readCorpus(spark, roots).localCheckpoint()
    }
    val finalVecs = t("finalVecs-ckpt") {
      emb.join(corpus.select(col("doc_id").as("vec_id")), "vec_id")
        .select(col("vec_id"), col("embedding")).localCheckpoint()
    }
    val queries = t("queries-ckpt") {
      finalVecs.orderBy(col("vec_id")).limit(5).localCheckpoint()
    }
    val annOk = t("ann-verify") {
      val probed = graft.sources.AnnIndex
        .probe(spark, roots.ann, queries, k = 5, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rk"))
      val bf = Similarity.bruteForceTopK(queries, finalVecs, 5)
        .select(col("query_id"), col("neighbor_id"), col("rk"))
      probed.except(bf).isEmpty && bf.except(probed).isEmpty
    }
    // r18 A/B (verdict item 4): the registered query now verifies the
    // appended index against the DIRECT index-free recompute; the old
    // from-scratch second-index build is kept here as the refuted
    // form so the delta is measured, not asserted
    val finalDocs = derived
      .join(corpus.select(col("doc_id")), "doc_id")
      .select(col("doc_id"), col("text"))
    val terms = Seq("spark", "window", "merge")
    val bm25Ok = t("bm25-direct-verify") {
      val pA = graft.sources.InvertedIndex.probe(spark, roots.inv, terms, 10)
      val pD = IndexQueries.bm25DirectTopK(finalDocs, terms, 10)
      pA.except(pD).isEmpty && pD.except(pA).isEmpty
    }
    val bm25OkOld = t("bm25-rebuild-verify-OLD") {
      val rebuildRoot = Curate.tempRoots("graft-curate-probe-rb").inv
      graft.sources.InvertedIndex.build(spark, finalDocs, rebuildRoot,
        nBuckets = 4, nFiles = 4)
      val pA = graft.sources.InvertedIndex.probe(spark, roots.inv, terms, 10)
      val pR = graft.sources.InvertedIndex.probe(spark, rebuildRoot, terms, 10)
      pA.except(pR).isEmpty && pR.except(pA).isEmpty
    }
    assert(bm25Ok == bm25OkOld,
      s"direct-vs-rebuild verdicts diverge: $bm25Ok vs $bm25OkOld")
    val n = t("final-count") {
      corpus.select(col("doc_id"), col("source"), col("quality"))
        .withColumn("ann_probe_ok", lit(annOk))
        .withColumn("bm25_probe_ok", lit(bm25Ok))
        .count()
    }
    println(f"CURATE_STEP TOTAL ${(System.nanoTime() - whole0) / 1e9}%.3f rows=$n")
    Blocks.freeAll(spark)
    spark.stop()
  }

  private def tierMain(dir: String, outPath: Option[String]): Unit = {
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
    spark.range(1000000).selectExpr("sum(id)").collect()

    val out = new StringBuilder
    val only = sys.env.get("CURATEPROBE_ONLY").map(_.split(",").toSet)
    def run(label: String, extra: => String = "")(body: => Long): Unit = {
      if (!only.forall(_.contains(label))) return
      val (row, _) = ProbeRow(spark, label, "CURATEPROBE FAIL")(body)
      val ex = extra
      val line = row + (if (ex.isEmpty) "}" else s",$ex}")
      println("CURATEPROBE " + line)
      out.append(line).append('\n')
    }

    // salt texts unique (see scaladoc), materialized once so every
    // batch read is real IO, not a recompute of the salt expression
    val saltedPath = s"$dir/__docs_curate_salted"
    run("curate_tier_materialize") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit(" "),
            conv(pmod(xxhash64(col("doc_id")), lit(9999999999L)), 10, 36))
            .as("text"))
        .write.mode("overwrite").parquet(saltedPath)
      spark.read.parquet(saltedPath).count()
    }
    def salted = spark.read.parquet(saltedPath)
    // embeddings aligned to doc ids where they exist (the gate shape)
    def emb = Tables.embeddings(spark, dir)

    // ~equal-count batch boundaries over the sparse tier doc_ids
    val bounds = salted.agg(
      expr("percentile_approx(doc_id, array(0.3333, 0.6667), 100000)"))
      .head.getSeq[Long](0)
    val cuts = Seq(Long.MinValue, bounds(0), bounds(1), Long.MaxValue)
    println(s"CURATEPROBE_NOTE batch bounds: $bounds")

    val roots = Curate.tempRoots("graft-curate-tier")
    (0 until 3).foreach { i =>
      run(s"curate_tier_batch$i") {
        Curate.runBatch(spark, roots,
          salted.where(col("doc_id") > cuts(i) &&
                       col("doc_id") <= cuts(i + 1)),
          emb, qualityFloor = 0.615, budgetPerSource = 6000000L)
      }
    }
    // corpus content digest rides the row as `extra` so A/B legs can
    // assert BYTE-identity (the r18 budgeted-re-filter discipline):
    // order-independent sum of per-row xxhash64 over all columns
    var corpusHash = 0L
    run("curate_tier_read_corpus", s""""corpus_hash":$corpusHash""") {
      val c = Curate.readCorpus(spark, roots)
      // decimal sum: a LONG sum of 5M xxhash64 values overflows and
      // Spark 4's ANSI mode makes that an error, not a wrap
      val r = c.agg(sum(xxhash64(col("doc_id"), col("source"),
          col("quality")).cast("decimal(38,0)")).as("h"),
        count(lit(1)).as("n")).head
      corpusHash = if (r.isNullAt(0)) 0L
        else r.getDecimal(0).remainder(new java.math.BigDecimal(1L << 62))
          .longValue()
      println(s"CURATEPROBE_NOTE corpus_hash=$corpusHash")
      r.getLong(1)
    }
    // the curated indexes answer (cost of a post-ingest probe at tier)
    run("curate_tier_bm25_probe") {
      graft.sources.InvertedIndex.probe(spark, roots.inv,
        Seq("spark", "window", "merge"), 10).count()
    }
    run("curate_tier_ann_probe") {
      val corpus = Curate.readCorpus(spark, roots)
      val queries = emb
        .join(corpus.select(col("doc_id").as("vec_id")), "vec_id")
        .orderBy(col("vec_id")).limit(5)
      graft.sources.AnnIndex.probe(spark, roots.ann, queries,
        k = 5, nprobe = 4).count()
    }

    outPath.foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        out.toString)
    }
    println("CURATEPROBE done")
    spark.stop()
  }

  /** 36-batch flagship loop, A/B on index maintenance (see object
    * doc). sf0.1-sized: the segment-count GROWTH mechanics are
    * scale-free (probe cost per segment is per-file/per-stats
    * overhead), and the tier economics of one compaction are already
    * measured (SCALE1000_r18_segments.json). */
  private def longrunMain(dir: String, outPath: Option[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
              sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val out = new StringBuilder
    def emit(line: String): Unit = {
      println("CURATEPROBE " + line); out.append(line).append('\n')
    }

    // NOT localCheckpoint'd: the per-batch Blocks.freeAll below frees
    // every persisted block, and a freed local checkpoint is
    // unrecomputable (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on batch 2) —
    // a plain parquet re-read per batch is the production shape anyway
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val (lo, hi) = {
      val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
      (r.getLong(0), r.getLong(1))
    }
    val nBatches = 36
    val width = (hi - lo) / nBatches + 1
    val terms = Seq("spark", "window", "merge")

    // the two legs run INTERLEAVED batch-by-batch (A's batch i, then
    // B's batch i) so JIT warm-up, page-cache state, and ambient
    // drift hit both equally — a sequential A-then-B run hands leg B
    // a warm JVM and the comparison inherits the order confound the
    // r19 fetch-locality A/B hit
    case class Leg(name: String, annMax: Int, invMax: Int) {
      val roots = Curate.tempRoots(s"graft-curate-longrun-$name")
    }
    val legs = Seq(Leg("nocompact", 0, 0), Leg("maintained", 8, 8))
    (0 until nBatches).foreach { i =>
      legs.foreach { leg =>
        val t0 = System.nanoTime()
        Curate.runBatch(spark, leg.roots,
          docs.where(col("doc_id") >= lo + i * width &&
                     col("doc_id") < lo + (i + 1) * width),
          emb, qualityFloor = 0.3, budgetPerSource = 100000000L,
          annMaxSegments = leg.annMax, invMaxSegments = leg.invMax)
        val batchSec = (System.nanoTime() - t0) / 1e9
        // probe latency every 6 batches — the bounded-vs-unbounded
        // curve the maintenance policy exists for
        if (i % 6 == 5) {
          val annSegs = graft.sources.AnnIndex.catalogOf(spark, leg.roots.ann).size
          val invSegs = graft.sources.InvertedIndex.catalogOf(spark, leg.roots.inv).size
          val tb = System.nanoTime()
          graft.sources.InvertedIndex.probe(spark, leg.roots.inv, terms, 10).count()
          val bmSec = (System.nanoTime() - tb) / 1e9
          val ta = System.nanoTime()
          val q = emb.orderBy(col("vec_id")).limit(3)
          graft.sources.AnnIndex.probe(spark, leg.roots.ann, q, k = 5,
            nprobe = 4).count()
          val annSec = (System.nanoTime() - ta) / 1e9
          emit(f"""{"query":"longrun_${leg.name}_probe","batch":${i + 1},""" +
            f""""ann_segments":$annSegs,"inv_segments":$invSegs,""" +
            f""""bm25_probe_sec":$bmSec%.2f,"ann_probe_sec":$annSec%.2f,""" +
            f""""batch_sec":$batchSec%.2f}""")
        }
        Blocks.freeAll(spark)
      }
    }
    def summarize(leg: Leg)
        : (String, Set[(Long, Double, Int)], Set[(Long, Long, Int)]) = {
      import spark.implicits._
      val ch = Curate.readCorpus(spark, leg.roots)
        .agg(sum(xxhash64(col("doc_id"), col("source"), col("quality"))
          .cast("decimal(38,0)")))
        .head.getDecimal(0).toString
      val bm = graft.sources.InvertedIndex.probe(spark, leg.roots.inv, terms, 10)
        .select("doc_id", "score", "rk").as[(Long, Double, Int)]
        .collect().toSet
      val q = emb.orderBy(col("vec_id")).limit(3)
      val ann = graft.sources.AnnIndex.probe(spark, leg.roots.ann, q, k = 5,
          nprobe = 4)
        .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)]
        .collect().toSet
      (ch, bm, ann)
    }
    val (hA, bmA, annA) = summarize(legs(0))
    val (hB, bmB, annB) = summarize(legs(1))
    emit(s"""{"query":"longrun_equality","corpus_hash_equal":${hA == hB},""" +
      s""""bm25_identical":${bmA == bmB},"ann_identical":${annA == annB}}""")
    assert(hA == hB, "maintained leg changed the corpus")
    assert(bmA == bmB, "maintained leg changed BM25 probe results")
    assert(annA == annB, "maintained leg changed ANN probe results")

    outPath.foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        out.toString)
    }
    println("CURATEPROBE done")
    spark.stop()
  }
}
