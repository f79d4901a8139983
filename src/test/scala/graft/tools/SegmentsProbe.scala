package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Decision, Tables}

/** r18 (r17 verdict item 3): segment-count economics at the 1000×
  * tier for the three persisted indexes. After N streaming
  * micro-batches a probe unions N posting/vector segments; per-file
  * clustering holds per segment but fleet-level ranges overlap more
  * with every append, so StatsIndex pruning degrades toward reading
  * more files. The r15 100× Curate row (119→8 files, −37% probe) was
  * the only measurement; this probes each index DIRECTLY:
  *
  *  - the SAME corpus is indexed three ways — 1 segment (one build),
  *    8 segments (build + 7 appends), 32 segments (build + 31
  *    appends) — so probe walls compare at identical data;
  *  - every probe's result is collected and asserted IDENTICAL across
  *    segmentations (append == rebuild, the spec-level parity gate,
  *    re-checked here at tier);
  *  - the 32-segment index is then compacted (compactSegments) and
  *    re-probed: the row records the compaction cost and how much of
  *    the 1-segment probe wall it buys back, with parity re-asserted.
  *
  * ANN probes run at nprobe == cells (lossless union) because cell
  * centroids train on each variant's FIRST batch — k-means on
  * different slices yields different cells, so a capped nprobe could
  * legitimately return different rows; at nprobe=cells every variant
  * is exact and parity is the right assertion. Grep probes a
  * doc-local salt token (the GrepProbe recipe): the tier corpus is
  * tiny-vocabulary, so without salt every trigram is near-universal
  * and the router would correctly scan — the segment question needs
  * an index-routed probe to answer.
  *
  * Usage: Test/runMain graft.tools.SegmentsProbe /tmp/sf1000x [outJson]
  */
object SegmentsProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1000x")
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
    val metrics = new Scale100.StageMetrics
    spark.sparkContext.addSparkListener(metrics)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val out = new StringBuilder
    val only = sys.env.get("SEGPROBE_ONLY").map(_.split(",").toSet)
    def run(label: String, extra: Seq[Decision] => String = _ => "")(
        body: => Long): Unit = {
      if (!only.forall(_.contains(label))) return
      Thread.sleep(1000); metrics.reset()
      val t0 = System.nanoTime()
      val (n, ds) = Decision.capture(try body
              catch { case t: Throwable =>
                System.err.println(s"SEGPROBE FAIL $label: $t"); -1L })
      val sec = (System.nanoTime() - t0) / 1e9
      graft.Blocks.freeAll(spark)
      Thread.sleep(1000)
      val m = metrics.snapshot
      val ex = extra(ds)
      val line = f"""{"query":"$label","rows":$n,"sec":$sec%.2f,""" +
        m.map { case (k, v) => s""""$k":$v""" }.mkString("", ",", "") +
        (if (ex.isEmpty) "}" else s",$ex}")
      println("SEGPROBE " + line)
      out.append(line).append('\n')
    }
    val work = java.nio.file.Files
      .createTempDirectory("graft-segprobe").toString

    // ---------------- grep index (salted 2M-doc slice)
    val saltedPath = s"$dir/__docs_seg_salted"
    run("seg_grep_materialize") {
      val salts = concat_ws(" ", (0 until 8).map(i =>
        conv(pmod(xxhash64(col("doc_id"), lit(i)), lit(9999999999L)),
             10, 36)): _*)
      Tables.documents(spark, dir)
        .where(pmod(col("doc_id"), lit(5)) < 2) // deterministic 40% slice
        .select(col("doc_id"), concat(col("text"), lit(" "), salts).as("text"))
        .write.mode("overwrite").parquet(saltedPath)
      spark.read.parquet(saltedPath).count()
    }
    def salted = spark.read.parquet(saltedPath)
    // two doc-local salt tokens as rare probe literals
    val tokens = Seq(123456789L, 987654321L).map { floor =>
      val id = salted.where(col("doc_id") >= floor)
        .agg(min(col("doc_id"))).head.getLong(0)
      salted.where(col("doc_id") === id)
        .select(col("text")).head.getString(0).split(" ").last
    }
    val grepPats = tokens.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    println(s"SEGPROBE_NOTE grep patterns: $grepPats")

    var grepRef: Set[(Long, Long)] = null
    def grepProbe(root: String, label: String): Unit = run(label,
        ds => s""""pruned":"${Decisions.ratio(ds, "grep.postings")}"""") {
      import spark.implicits._
      val g = graft.sources.GrepIndex.probe(spark, root, grepPats,
          scanFraction = Double.MaxValue)
        .as[(Long, Long)].collect().toSet
      if (grepRef == null) grepRef = g
      else assert(g == grepRef, s"$label diverges from the 1-segment probe")
      g.size.toLong
    }
    val grepRoots = Seq(1, 8, 32).map(k => k -> s"$work/grep-$k").toMap
    Seq(1, 8, 32).foreach { k =>
      run(s"seg_grep_build_${k}seg") {
        val root = grepRoots(k)
        (0 until k).foreach { i =>
          val part = salted.where(pmod(col("doc_id"), lit(k)) === i)
          if (i == 0)
            graft.sources.GrepIndex.build(spark, part, "doc_id", "text",
              root, nFiles = math.max(32 / k, 2))
          else
            graft.sources.GrepIndex.append(spark, root, part, "doc_id",
              "text", nFiles = math.max(32 / k, 2))
        }
        graft.sources.GrepIndex.catalogOf(spark, root).size.toLong
      }
      grepProbe(grepRoots(k), s"seg_grep_probe_${k}seg")
    }
    run("seg_grep_compact") {
      graft.sources.GrepIndex.compactSegments(spark, grepRoots(32),
        nFiles = 32)
    }
    grepProbe(grepRoots(32), "seg_grep_probe_compacted")

    // ---------------- inverted index (full tier documents)
    val invTerms = Seq("spark", "window", "merge")
    var invRef: Set[String] = null
    def invProbe(root: String, label: String): Unit = run(label) {
      val rows = graft.sources.InvertedIndex
        .probe(spark, root, invTerms, 10)
        .collect().map(_.toString).toSet
      if (invRef == null) invRef = rows
      else assert(rows == invRef, s"$label diverges from the 1-segment probe")
      rows.size.toLong
    }
    val invRoots = Seq(1, 8, 32).map(k => k -> s"$work/inv-$k").toMap
    Seq(1, 8, 32).foreach { k =>
      run(s"seg_inv_build_${k}seg") {
        val root = invRoots(k)
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"))
        (0 until k).foreach { i =>
          val part = docs.where(pmod(col("doc_id"), lit(k)) === i)
          if (i == 0)
            graft.sources.InvertedIndex.build(spark, part, root,
              nBuckets = 16, nFiles = math.max(32 / k, 2))
          else
            graft.sources.InvertedIndex.append(spark, root, part,
              nFiles = math.max(32 / k, 2))
        }
        graft.sources.InvertedIndex.catalogOf(spark, root).size.toLong
      }
      invProbe(invRoots(k), s"seg_inv_probe_${k}seg")
    }
    run("seg_inv_compact") {
      graft.sources.InvertedIndex.compactSegments(spark, invRoots(32),
        nFiles = 32)
    }
    invProbe(invRoots(32), "seg_inv_probe_compacted")

    // ---------------- ANN index (full tier embeddings)
    val cells = 16
    def queries = Tables.embeddings(spark, dir)
      .orderBy(col("vec_id")).limit(5)
    var annRef: Set[String] = null
    def annProbe(root: String, label: String): Unit = run(label,
        ds => s""""pruned":"${Decisions.ratio(ds, "ann.cells")}"""") {
      val rows = graft.sources.AnnIndex
        .probe(spark, root, queries, k = 5, nprobe = cells)
        .collect().map(_.toString).toSet
      if (annRef == null) annRef = rows
      else assert(rows == annRef, s"$label diverges from the 1-segment probe")
      rows.size.toLong
    }
    val annRoots = Seq(1, 8, 32).map(k => k -> s"$work/ann-$k").toMap
    Seq(1, 8, 32).foreach { k =>
      run(s"seg_ann_build_${k}seg") {
        val root = annRoots(k)
        val emb = Tables.embeddings(spark, dir)
        (0 until k).foreach { i =>
          val part = emb.where(pmod(col("vec_id"), lit(k)) === i)
          if (i == 0)
            graft.sources.AnnIndex.build(spark, part, root, cells = cells,
              nFiles = math.max(32 / k, 2))
          else
            graft.sources.AnnIndex.append(spark, root, part,
              nFiles = math.max(32 / k, 2))
        }
        graft.sources.AnnIndex.catalogOf(spark, root).size.toLong
      }
      annProbe(annRoots(k), s"seg_ann_probe_${k}seg")
    }
    run("seg_ann_compact") {
      graft.sources.AnnIndex.compactSegments(spark, annRoots(32),
        nFiles = 32)
    }
    annProbe(annRoots(32), "seg_ann_probe_compacted")

    args.lift(1).foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        out.toString)
    }
    println("SEGPROBE done")
    spark.stop()
  }
}
