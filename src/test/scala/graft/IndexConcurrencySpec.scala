package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{AnnIndex, GrepIndex, InvertedIndex, Manifest}

/** Catalog-commit concurrency (r18 verdict item 6): the commit
  * closures re-read the catalog on EVERY CAS attempt, so a retry
  * after a lost version race merges the concurrent winner's segments
  * instead of re-staging the stale pre-read catalog and silently
  * dropping them. The interleaving is driven deterministically
  * through the package-private commitMeta thunk: its first evaluation
  * performs the "concurrent" commit, so the outer committer's CAS is
  * guaranteed to lose exactly once. */
class IndexConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(tag).toString + "/idx"

  /** A tiny parquet dir standing in for a segment payload (catalog
    * integrity is what's under test, not probe results). */
  private def fakeDir(root: String, name: String): String = {
    val p = s"$root/segments/$name"
    Seq((1L, 2L)).toDF("a", "b").coalesce(1).write.parquet(p)
    p
  }

  private def grepSeg(root: String, tag: String): GrepIndex.Segment =
    GrepIndex.Segment(fakeDir(root, s"post-$tag"),
      fakeDir(root, s"stats-$tag"), fakeDir(root, s"docs-$tag"), 1L)

  test("lost CAS with maxRetries=0 throws; winner's catalog intact") {
    val root = freshRoot("conc-grep0")
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 50)
    GrepIndex.build(spark, docs, "doc_id", "text", root, nFiles = 2)
    val base = GrepIndex.catalogOf(spark, root)
    val segB = grepSeg(root, "b0")
    val segC = grepSeg(root, "c0")
    var first = true
    val e = intercept[java.util.ConcurrentModificationException] {
      GrepIndex.commitMeta(spark, root, () => {
        if (first) { // the concurrent appender wins the version race
          first = false
          GrepIndex.commitMeta(spark, root,
            () => GrepIndex.catalogOf(spark, root) :+ segB, 4, "", 0)
        }
        GrepIndex.catalogOf(spark, root) :+ segC
      }, 4, "", maxRetries = 0)
    }
    assert(e.getMessage.contains("committed concurrently"))
    // the winner's catalog is exactly base + B — the loser changed nothing
    assert(GrepIndex.catalogOf(spark, root).map(_.postings).toSet ===
      (base.map(_.postings) :+ segB.postings).toSet)
  }

  test("CAS retry re-reads the catalog - concurrent segment survives") {
    val root = freshRoot("conc-grep1")
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 50)
    GrepIndex.build(spark, docs, "doc_id", "text", root, nFiles = 2)
    val base = GrepIndex.catalogOf(spark, root)
    val segB = grepSeg(root, "b1")
    val segC = grepSeg(root, "c1")
    var first = true
    val v = GrepIndex.commitMeta(spark, root, () => {
      if (first) {
        first = false
        GrepIndex.commitMeta(spark, root,
          () => GrepIndex.catalogOf(spark, root) :+ segB, 4, "", 0)
      }
      GrepIndex.catalogOf(spark, root) :+ segC
    }, 4, "", maxRetries = 1)
    assert(v === 2L) // v0 build, v1 concurrent winner, v2 retry
    // the retry's catalog holds base + B (the concurrent winner's
    // segment — the lost-update this spec guards) + C
    assert(GrepIndex.catalogOf(spark, root).map(_.postings).toSet ===
      (base.map(_.postings) ++ Seq(segB.postings, segC.postings)).toSet)
  }

  test("mergedCatalog keeps segments appended since the fold began") {
    // pure catalog arithmetic - no segment payload needed
    def seg(t: String) =
      GrepIndex.Segment(s"post-$t", s"stats-$t", s"docs-$t", 1L)
    val a = seg("ma"); val b = seg("mb")
    val c = seg("mc"); val comp = seg("mz")
    // folded {a,b}; a concurrent append added c before our CAS landed
    val merged = GrepIndex.mergedCatalog(Seq(a, b, c),
      Set(a.postings, b.postings), comp)
    assert(merged.map(_.postings) === Seq(c.postings, comp.postings))
    // a concurrent COMPACTION re-homed a folded segment: merging would
    // duplicate its rows - must throw, not publish
    intercept[java.util.ConcurrentModificationException] {
      GrepIndex.mergedCatalog(Seq(c), Set(a.postings, b.postings), comp)
    }
  }

  test("mergedCatalog: inverted and ANN mirrors behave identically") {
    def invSeg(t: String) = InvertedIndex.Segment(s"p-$t", s"d-$t", 1, 1, 4)
    val Seq(ia, ib, ic, iz) = Seq("a", "b", "c", "z").map(invSeg)
    assert(InvertedIndex.mergedCatalog(Seq(ia, ib, ic),
      Set(ia.postings, ib.postings), iz).map(_.postings) ===
      Seq(ic.postings, iz.postings))
    intercept[java.util.ConcurrentModificationException] {
      InvertedIndex.mergedCatalog(Seq(ic),
        Set(ia.postings, ib.postings), iz)
    }
    def annSeg(t: String) = AnnIndex.Segment(s"s-$t", 1, 0.5, "")
    val Seq(aa, ab, ac, az) = Seq("a", "b", "c", "z").map(annSeg)
    assert(AnnIndex.mergedCatalog(Seq(aa, ab, ac),
      Set(aa.path, ab.path), az).map(_.path) === Seq(ac.path, az.path))
    intercept[java.util.ConcurrentModificationException] {
      AnnIndex.mergedCatalog(Seq(ac), Set(aa.path, ab.path), az)
    }
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
