package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Decision, Tables}
import Decisions.{ratio, route}

/** r17 grep-index 1000× probe (verdict item 3): measure the index
  * route WINNING. Every r16 grep number showed the scan route,
  * because ScaleN's ~60-word vocabulary makes every trigram
  * near-universal — the selectivity premise is structurally violated
  * there, and the router correctly names that regime. This probe
  * derives a corpus with BOTH properties a real sweep target has and
  * the derived tables lack:
  *  - TRIGRAM DIVERSITY: each doc salted with 8 deterministic
  *    base-36 tokens of its own doc_id (~7 chars over [0-9A-Z]), so
  *    the corpus carries the tens of thousands of distinct trigrams
  *    a mixed corpus has (the salt also makes per-doc rare literals
  *    exist to probe for — the "leaked key" shape);
  *  - a corpus whose TEXT MASS dwarfs a probe's working set: text
  *    repeated ×4 (~6 GB of text; repetition adds no distinct grams,
  *    so the posting index does NOT grow with it — exactly the
  *    asymmetry a 100 TB corpus has).
  * The needle (`zq9xv7_kwq3jp`) is planted BATCH-LOCAL — all 5,000
  * docs of one ScaleN replica (one contiguous doc_id range), the
  * production contamination shape: a leaked benchmark/doc set lands
  * in one crawl segment, not uniformly over the corpus. A uniform
  * 1-in-50k plant was measured first and is the honest negative: no
  * index can fetch 1,001 uniformly-scattered docs without touching
  * every clustered range, and the r17 fetch-prune probe rightly only
  * wins when matches have locality or are few. Probing the needle +
  * one harvested salt token + one absent literal must route `index`;
  * the same sweep forced through the scan is the denominator; result
  * sets must be identical (lossless contract at tier).
  *
  * Usage: Test/runMain graft.tools.GrepProbe /tmp/sf1000x [outJson]
  */
object GrepProbe {

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
    val only = sys.env.get("GREPPROBE_ONLY").map(_.split(",").toSet)
    def run(label: String)(body: => Long): Unit = {
      if (!only.forall(_.contains(label))) return
      Thread.sleep(1000); metrics.reset()
      val t0 = System.nanoTime()
      val n = try body
              catch { case t: Throwable =>
                System.err.println(s"GREPPROBE FAIL $label: $t"); -1L }
      val sec = (System.nanoTime() - t0) / 1e9
      graft.Blocks.freeAll(spark)
      Thread.sleep(1000)
      val m = metrics.snapshot
      val line = f"""{"query":"$label","rows":$n,"sec":$sec%.2f,""" +
        m.map { case (k, v) => s""""$k":$v""" }.mkString("", ",", "}")
      println("GREPPROBE " + line)
      out.append(line).append('\n')
    }

    val saltedPath = s"$dir/__docs_salted"
    val root = s"$dir/__grep_salted_index"
    run("grep_salted_materialize") {
      val salts = concat_ws(" ", (0 until 8).map(i =>
        conv(pmod(xxhash64(col("doc_id"), lit(i)), lit(9999999999L)),
             10, 36)): _*)
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          concat(repeat(concat(col("text"), lit(" ")), 16), salts,
            when(col("doc_id") >= 777000000L && col("doc_id") < 777005000L,
              lit(" zq9xv7_kwq3jp")).otherwise(lit("")),
            // r19 (verdict item 7): a SECOND needle planted UNIFORMLY
            // over the id space (~1 in 5k) — the r17 honest-negative
            // shape: its candidates touch ~every clustered docs file
            when(pmod(xxhash64(col("doc_id"), lit(99)), lit(5000L)) === 0L,
              lit(" qv8wzxq7k")).otherwise(lit(""))).as("text"))
        .write.mode("overwrite").parquet(saltedPath)
      spark.read.parquet(saltedPath).count()
    }
    def salted = spark.read.parquet(saltedPath)

    run("grep_salted_index_build_5m") {
      graft.sources.GrepIndex.build(spark, salted, "doc_id", "text",
        root, nFiles = 32)
      graft.sources.GrepIndex.catalogOf(spark, root).map(_.nDocs).sum
    }

    // harvest one real salt token (rare by construction: each token
    // is derived from its doc's id) — the "leaked literal" pattern.
    // doc_ids are SPARSE at 1000× (per-replica offsets), so pick the
    // smallest id above a fixed point — deterministic on any tier.
    val tokDoc = salted.where(col("doc_id") >= 123456789L)
      .agg(min(col("doc_id"))).head.getLong(0)
    val tok = salted.where(col("doc_id") === tokDoc)
      .select(col("text")).head.getString(0).split(" ").last
    val pats = Seq((0L, "zq9xv7_kwq3jp"), (1L, tok),
                   (2L, "zzqqxx never anywhere"))
    println(s"GREPPROBE_NOTE patterns: $pats")

    var gotIdx: Set[(Long, Long)] = null
    var gotScan: Set[(Long, Long)] = null
    run("grep_salted_probe_auto") {
      import spark.implicits._
      val (g, ds) = Decision.capture(graft.sources.GrepIndex.probe(spark,
        root, pats).as[(Long, Long)].collect().toSet)
      gotIdx = g
      // the captured decisions describe THE ROUTE TAKEN
      assert(route(ds, "grep.route") == "index",
        "rare-needle sweep must route index")
      assert(ratio(ds, "grep.postings") != "n/a",
        "index route must record postings prune")
      assert(ratio(ds, "grep.fetch") != "n/a",
        "index route fetch must record docs prune")
      // r19 (verdict item 7): the batch-local needle's candidates are
      // CLUSTERED - the locality router must keep the point fetch
      assert(route(ds, "grep.fetch") == "point",
        "clustered-needle fetch must stay on the point path")
      println("GREPPROBE_NOTE auto route " + route(ds, "grep.route") +
        " prune " + ratio(ds, "grep.postings") +
        " docsPrune " + ratio(ds, "grep.fetch") +
        " fetchRoute " + route(ds, "grep.fetch"))
      g.size.toLong
    }

    // r19 (verdict item 7): the uniformly-scattered needle — the r17
    // honest negative (point fetch won CPU 2.4x but LOST wall then).
    // The r19 A/B (SCALE1000_r19_grep.json) re-measured it on the
    // current fetch path and the POINT fetch now wins even fully
    // scattered (8 MB row-group skipping: ~candidates x one group read
    // vs the full sequential scan).
    run("grep_scatter_probe_auto") {
      import spark.implicits._
      val (g, ds) = Decision.capture(graft.sources.GrepIndex.probe(spark,
        root, Seq((0L, "qv8wzxq7k"))).as[(Long, Long)].collect().toSet)
      assert(route(ds, "grep.route") == "index",
        "scattered needle is still posting-rare - index route")
      assert(route(ds, "grep.fetch") == "point",
        "scattered candidates keep the point fetch (the measured winner)")
      println("GREPPROBE_NOTE scatter docsPrune " + ratio(ds, "grep.fetch") +
        " fetchRoute " + route(ds, "grep.fetch"))
      g.size.toLong
    }
    run("grep_salted_probe_scan_forced") {
      import spark.implicits._
      val (g, ds) = Decision.capture(graft.sources.GrepIndex.probe(spark,
        root, pats, scanFraction = -1.0).as[(Long, Long)].collect().toSet)
      gotScan = g
      assert(route(ds, "grep.route") == "scan")
      assert(ratio(ds, "grep.postings") == "n/a",
        "scan route runs no postings prune - nothing may be recorded")
      assert(ratio(ds, "grep.fetch") == "n/a",
        "scan route runs no candidate fetch - nothing may be recorded")
      g.size.toLong
    }
    if (gotIdx != null && gotScan != null) {
      val line = s"""{"query":"grep_salted_route_equality","index_rows":${gotIdx.size},""" +
        s""""scan_rows":${gotScan.size},"identical":${gotIdx == gotScan}}"""
      println("GREPPROBE " + line)
      out.append(line).append('\n')
    }

    // r18 (r17 verdict #2): the MIXED sweep — one corpus-common
    // boilerplate literal + the rare needles, the real decontam
    // shape. Per-pattern routing must send ONLY the common literal
    // through the shared scan leg; r17's sweep-global mass sum sent
    // everything. A/B against both forced extremes.
    val common = salted.limit(2000)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 4)
      .groupBy("w").count().orderBy(desc("count"), asc("w"))
      .head.getString(0)
    val mixed = pats :+ (3L, common)
    println(s"GREPPROBE_NOTE mixed common literal: '$common'")
    var gotMixed: Set[(Long, Long)] = null
    // DEFAULT since the r19 Aho-Corasick leg: the common literal pays
    // the corpus scan, so the router FOLDS the rare needles onto the
    // automaton (free states) instead of running the index legs
    // alongside — the routing verdict is still per-pattern, the
    // execution is one pass
    run("grep_mixed_probe_folded") {
      import spark.implicits._
      val (g, ds) = Decision.capture(graft.sources.GrepIndex.probe(spark,
        root, mixed).as[(Long, Long)].collect().toSet)
      gotMixed = g
      // on the scan route, the index-routed (kept) patterns are folded
      val Decision(_, r, kept, total) =
        ds.find(_.op == "grep.route").getOrElse(Decision("", "n/a", 0, 0))
      val split = s"index=$kept scan=${total - kept}"
      val folded = if (r == "scan") kept else 0L
      println(s"GREPPROBE_NOTE mixed route $r split $split folded $folded")
      assert(r == "scan", s"folded sweep executes as scan, got $r")
      assert(split == "index=3 scan=1",
        s"routing verdict stays per-pattern, got $split")
      assert(folded == 3, s"three needles folded, got $folded")
      g.size.toLong
    }
    run("grep_mixed_scan_forced") {
      import spark.implicits._
      val g = graft.sources.GrepIndex.probe(spark, root, mixed,
          scanFraction = -1.0)
        .as[(Long, Long)].collect().toSet
      val same = gotMixed != null && g == gotMixed
      println(s"GREPPROBE_NOTE mixed scan equality: $same")
      assert(same, "mixed split result must equal the forced scan")
      g.size.toLong
    }
    run("grep_mixed_index_forced") {
      import spark.implicits._
      val g = graft.sources.GrepIndex.probe(spark, root, mixed,
          scanFraction = Double.MaxValue)
        .as[(Long, Long)].collect().toSet
      val same = gotMixed != null && g == gotMixed
      println(s"GREPPROBE_NOTE mixed index equality: $same")
      assert(same, "mixed split result must equal the forced index")
      g.size.toLong
    }

    // r19: the many-needle scan leg — ONE Aho-Corasick pass where the
    // P-way crossJoin+contains used to run. The lexicon is the
    // corpus's own common vocabulary (every pattern posting-heavy, so
    // the router would scan them all anyway; scanFraction = -1 makes
    // it deterministic) — the decontamination shape where HUNDREDS of
    // needles ride the shared scan. The result is a digest (count +
    // order-independent xxhash64 sum): the match set here is
    // ~P_common × corpus and must never be collect()ed.
    val lex64 = salted.limit(2000)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 4)
      .groupBy("w").count().orderBy(desc("count"), asc("w"))
      .limit(64).collect().map(_.getString(0)).toSeq
    val spats = lex64.zipWithIndex.map { case (w, i) => (i.toLong, w) }
    println(s"GREPPROBE_NOTE scan-leg lexicon: ${lex64.size} patterns")
    def scanDigest(df: org.apache.spark.sql.DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("pattern_id"), col("doc_id"))
          .cast("decimal(38,0)"))).head
      (r.getLong(0),
        Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
    }
    run("grep_scan64_aho_corasick") {
      val d = scanDigest(graft.sources.GrepIndex.probe(spark, root,
        spats, scanFraction = -1.0))
      println(s"GREPPROBE_NOTE scan64 digest: $d")
      d._1
    }
    // regex sweep over the same index (#39e): the needle templated as
    // a pattern — branch literal runs "zq9xv7_k" / "3jp" constrain
    // candidates, regexp_like verifies; vs the forced regex scan
    val rpats = Seq((0L, "zq9xv7_k[a-z]+3jp"), (1L, "zz(qq|xx) never"))
    var gotRx: Set[(Long, Long)] = null
    run("grep_salted_regex_auto") {
      import spark.implicits._
      val (g, ds) = Decision.capture(graft.sources.GrepIndex.probeRegex(
        spark, root, rpats).as[(Long, Long)].collect().toSet)
      gotRx = g
      val split = ds.find(_.op == "grep.regex.analysis")
        .fold("n/a")(d => s"index=${d.kept} scan=${d.total - d.kept}")
      println("GREPPROBE_NOTE regex route " + route(ds, "grep.route") +
        " split " + split + " prune " + ratio(ds, "grep.postings") +
        " docsPrune " + ratio(ds, "grep.fetch"))
      g.size.toLong
    }
    run("grep_salted_regex_scan_forced") {
      import spark.implicits._
      val g = graft.sources.GrepIndex.probeRegex(spark, root, rpats,
          scanFraction = -1.0)
        .as[(Long, Long)].collect().toSet
      val same = gotRx != null && g == gotRx
      println(s"GREPPROBE_NOTE regex route equality: $same")
      g.size.toLong
    }

    args.lift(1).foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        out.toString)
    }
    println("GREPPROBE done")
    spark.stop()
  }
}
