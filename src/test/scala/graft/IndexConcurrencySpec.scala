package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.operators.Curate
import graft.sources.{AnnIndex, GrepIndex, InvertedIndex, Manifest,
  SegmentCatalog}

/** Catalog-commit concurrency (r18 verdict item 6): the publish
  * re-reads the catalog on EVERY CAS attempt, so a retry after a lost
  * version race merges the concurrent winner's segments instead of
  * re-staging the stale pre-read catalog and silently dropping them.
  * The interleaving is driven deterministically through the catalog
  * thunk of [[SegmentCatalog.publish]]: its first evaluation performs
  * the "concurrent" commit, so the outer committer's CAS is
  * guaranteed to lose exactly once. Every root kind — grep, inverted,
  * ANN and curation — goes through the same lifecycle. */
class IndexConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(tag).toString + "/idx"

  private def exists(p: String): Boolean = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(new Path(p))

  /** A root kind under test: its catalog, and a one-row segment named
    * `tag` under the segment root `d`. */
  private case class Kind[S](name: String, cat: SegmentCatalog[S],
                             seg: (String, String) => S)

  private val kinds: Seq[Kind[_]] = Seq(
    Kind[GrepIndex.Segment]("grep", GrepIndex.segments, (d, t) =>
      GrepIndex.Segment(s"$d/post-$t", s"$d/stats-$t", s"$d/docs-$t", 1L)),
    Kind[InvertedIndex.Segment]("inverted", InvertedIndex.segments, (d, t) =>
      InvertedIndex.Segment(s"$d/post-$t", s"$d/dict-$t", 1L, 1L, 4)),
    Kind[AnnIndex.Segment]("ann", AnnIndex.segments, (d, t) =>
      AnnIndex.Segment(s"$d/seg-$t", 1L, 0.5, "")),
    Kind[Curate.Segment]("curation", Curate.segments, (d, t) =>
      Curate.Segment("corpus", s"$d/c-$t", 1L)))

  /** A staged segment: tiny parquet dirs standing in for its payload
    * (catalog integrity is what's under test, not probe results). */
  private def staged[S](k: Kind[S], root: String, tag: String): S = {
    val g = k.seg(k.cat.segmentRoot(root), tag)
    k.cat.dirsOf(g).foreach(p =>
      Seq((1L, 2L)).toDF("a", "b").coalesce(1).write.parquet(p))
    k.cat.stage(spark, g)
  }

  /** A root at v0 holding one segment, and two staged segments: B for
    * the concurrent winner, C for the committer that loses the CAS. */
  private def raced[S](k: Kind[S], tag: String,
                       maxRetries: Int): (String, Seq[S], () => Long) = {
    val root = freshRoot(s"conc-${k.name}$tag")
    val Seq(a, b, c) = Seq("a", "b", "c").map(t => staged(k, root, t + tag))
    k.cat.replace(spark, root, Seq(a), 4, "", _ => ())
    var first = true
    val publishC = () => k.cat.publish(spark, root, Seq(c), () => {
      if (first) { // the concurrent appender wins the version race
        first = false
        k.cat.append(spark, root, b, 4, "", 0, _ => ())
      }
      k.cat.catalogOf(spark, root, None) :+ c
    }, 4, "", maxRetries, _ => ())
    (root, Seq(a, b, c), publishC)
  }

  private def keys[S](k: Kind[S], root: String): Set[String] =
    k.cat.catalogOf(spark, root, None).map(k.cat.key).toSet

  private def lostCas[S](k: Kind[S]): Unit = {
    val (root, Seq(a, b, c), publishC) = raced(k, "0", maxRetries = 0)
    val e = intercept[java.util.ConcurrentModificationException](publishC())
    assert(e.getMessage.contains("committed concurrently"), k.name)
    // the winner's catalog is exactly A + B — the loser changed nothing
    assert(keys(k, root) === Set(a, b).map(k.cat.key), k.name)
    // the loser's staged dirs are gone; the winner's are published
    k.cat.dirsOf(c).foreach(p => assert(!exists(p), s"${k.name}: $p"))
    k.cat.dirsOf(b).foreach(p => assert(exists(p) &&
      !exists(s"$p/${Manifest.StagingSentinel}"), s"${k.name}: $p"))
  }

  private def retried[S](k: Kind[S]): Unit = {
    val (root, Seq(a, b, c), publishC) = raced(k, "1", maxRetries = 1)
    assert(publishC() === 2L, k.name) // v0, v1 concurrent winner, v2 retry
    // the retry's catalog holds A + B (the concurrent winner's segment —
    // the lost-update this spec guards) + C
    assert(keys(k, root) === Set(a, b, c).map(k.cat.key), k.name)
    k.cat.dirsOf(c).foreach(p =>
      assert(!exists(s"$p/${Manifest.StagingSentinel}"), s"${k.name}: $p"))
  }

  test("lost CAS with maxRetries=0 throws; winner's catalog intact") {
    kinds.foreach(k => lostCas(k))
  }

  test("CAS retry re-reads the catalog - concurrent segment survives") {
    kinds.foreach(k => retried(k))
  }

  test("mergedCatalog keeps segments appended since the fold began") {
    // pure catalog arithmetic - no segment payload needed
    def seg(t: String) =
      GrepIndex.Segment(s"post-$t", s"stats-$t", s"docs-$t", 1L)
    val a = seg("ma"); val b = seg("mb")
    val c = seg("mc"); val comp = seg("mz")
    // folded {a,b}; a concurrent append added c before our CAS landed
    val merged = GrepIndex.segments.mergedCatalog(Seq(a, b, c),
      Set(a.postings, b.postings), comp)
    assert(merged.map(_.postings) === Seq(c.postings, comp.postings))
    // a concurrent COMPACTION re-homed a folded segment: merging would
    // duplicate its rows - must throw, not publish
    intercept[java.util.ConcurrentModificationException] {
      GrepIndex.segments.mergedCatalog(Seq(c),
        Set(a.postings, b.postings), comp)
    }
  }

  test("only SegmentCatalog calls Manifest's commit and staging primitives") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val call = ("""Manifest\.(markStaging|clearStaging|discardStaged|""" +
      """vacuumUnreferenced|commitWith)\s*\(""").r
    val owners = Set("SegmentCatalog.scala", "Manifest.scala")
    val hits = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !owners.contains(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    if (hits.nonEmpty) fail(hits.mkString("\n"))
  }

  test("real append with maxRetries still publishes once, no retry taken") {
    // uncontended path sanity: maxRetries > 0 must not change behavior
    val root = freshRoot("conc-grep2")
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 60)
    GrepIndex.build(spark, docs.where(col("doc_id") < 30),
      "doc_id", "text", root, nFiles = 2)
    val v = GrepIndex.append(spark, root,
      docs.where(col("doc_id") >= 30), "doc_id", "text",
      nFiles = 2, maxRetries = 2)
    assert(v === 1L)
    assert(GrepIndex.catalogOf(spark, root).size === 2)
    val hits = GrepIndex.probe(spark, root,
      Seq((0L, "the"))).count()
    assert(hits >= 0L) // probes the merged catalog without error
  }

  test("concurrent grep probes each capture only their own route decision") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = freshRoot("conc-route")
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 200)
    GrepIndex.build(spark, docs, "doc_id", "text", root, nFiles = 2)
    val pats = Seq((0L, "merge part window"), (1L, "customer data"),
                   (2L, "zebra-absent"))
    val want = pats.flatMap { case (pid, p) =>
      docs.where(col("text").contains(p)).select(col("doc_id"))
        .as[Long].collect().map(d => (pid, d))
    }.toSet
    assert(want.exists(_._1 == 0L) && want.exists(_._1 == 1L))
    // scanFraction -1 forces the scan route, MaxValue the index route
    val routes = Seq(-1.0 -> "scan", Double.MaxValue -> "index")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try for (round <- 1 to 20) {
      val start = new java.util.concurrent.CountDownLatch(1)
      val runs = routes.map { case (sf, _) => Future {
        start.await()
        Decision.capture(GrepIndex.probe(spark, root, pats, scanFraction = sf)
          .as[(Long, Long)].collect().toSet)
      } }
      start.countDown()
      for (((got, ds), (_, route)) <- runs.map(Await.result(_, 5.minutes)).zip(routes)) {
        assert(decision(ds, "grep.route").route === route, s"round $round: $ds")
        assert(got === want, s"round $round, route $route")
      }
    } finally pool.shutdown()
  }
}
