package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{InvertedIndex, Manifest}
import graft.queries.IndexQueries

class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("spark", "window", "merge")

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(tag).toString + "/idx"

  private def asRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "score", "rk")
      .as[(Long, Double, Int)].collect().toSet

  test("probe over the persisted index is BIT-exact vs in-query BM25") {
    val root = freshRoot("invidx-full")
    val v = InvertedIndex.build(spark, Tables.documents(spark, sfDir), root,
      nBuckets = 8, nFiles = 8)
    assert(v === 0L)
    val got = asRows(InvertedIndex.probe(spark, root, terms, k = 10))
    val want = asRows(IndexQueries.bm25Search(spark, sfDir))
    assert(got === want) // doubles compared exactly: same arithmetic
    // duplicated query terms dedup up front instead of failing on
    // duplicate pivot columns; BM25 over a term SET is unchanged
    val dup = asRows(InvertedIndex.probe(spark, root,
      terms ++ terms.take(2), k = 10))
    assert(dup === want)
    // a term colliding with the grouping column is rejected loudly
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.probe(spark, root, Seq("doc_id"), k = 5)
    }
    assert(e.getMessage.contains("doc_id"))
  }

  test("probe reads ONLY the query terms' bucket files") {
    val root = freshRoot("invidx-prune")
    // nFiles = nBuckets: the bucket-clustered layout puts ~1 bucket/file
    InvertedIndex.build(spark, Tables.documents(spark, sfDir), root,
      nBuckets = 8, nFiles = 8)
    val (res, ds) = Decision.capture(
      InvertedIndex.probe(spark, root, Seq("spark"), k = 5))
    assert(res.count() === 5)
    // 1 bucket of 8 probed, postings + dict tables both pruned;
    // range-partition boundaries are sampled, so a bucket can straddle
    // a file boundary — but one term must scan well under half
    val reads = ds.filter(_.op == "inv.buckets")
    assert(reads.size === 2, s"expected postings + dict reads in $ds")
    for (Decision(_, _, kept, total) <- reads) {
      assert(total >= 8, s"expected >= 8 segment files, got $total")
      assert(kept <= total / 2,
        s"probe read $kept/$total files - pruning is not happening")
    }
  }

  test("append equals a from-scratch build over the full corpus") {
    val docs = Tables.documents(spark, sfDir)
    val root = freshRoot("invidx-append")
    InvertedIndex.build(spark, docs.where(col("doc_id") % 2 === 0), root,
      nBuckets = 8, nFiles = 8)
    val v = InvertedIndex.append(spark, root,
      docs.where(col("doc_id") % 2 === 1))
    assert(v === 1L)
    // an empty batch publishes nothing and leaves no segment dirs
    assert(InvertedIndex.append(spark, root, docs.limit(0)) === v)
    assert(new java.io.File(s"$root/segments").list().length === 4)
    // two segment pairs in the catalog, exact stats recompose
    val cat = InvertedIndex.catalogOf(spark, root)
    assert(cat.size === 2)
    assert(cat.map(_.nDocs).sum === docs.count())
    val got = asRows(InvertedIndex.probe(spark, root, terms, k = 10))
    val want = asRows(IndexQueries.bm25Search(spark, sfDir))
    assert(got === want)
    // prior version (before the append) still probes — only even docs
    val v0 = asRows(InvertedIndex.probe(spark, root, terms, k = 10,
      version = Some(0L)))
    assert(v0.forall(_._1 % 2 == 0))
  }

  test("compactIfNeeded fires only past maxSegments and preserves probes") {
    // the r18 segment-count economics encoded as policy (SCALE1000.md)
    val rootC = freshRoot("invidx-autocompact")
    val all = Tables.documents(spark, sfDir)
    InvertedIndex.build(spark, all.where(col("doc_id") % 3 === 0), rootC,
      nBuckets = 4, nFiles = 4)
    InvertedIndex.append(spark, rootC, all.where(col("doc_id") % 3 === 1))
    assert(InvertedIndex.compactIfNeeded(spark, rootC, maxSegments = 2)
      === None)
    InvertedIndex.append(spark, rootC, all.where(col("doc_id") % 3 === 2))
    val pre = asRows(InvertedIndex.probe(spark, rootC, terms, k = 10))
    assert(InvertedIndex.compactIfNeeded(spark, rootC, maxSegments = 2)
      .isDefined)
    assert(InvertedIndex.catalogOf(spark, rootC).size === 1)
    assert(asRows(InvertedIndex.probe(spark, rootC, terms, k = 10)) === pre)
  }

  test("vacuum GCs segments no retained version references") {
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 100)
    val root = freshRoot("invidx-vacuum")
    InvertedIndex.build(spark, docs, root, nBuckets = 4, nFiles = 4,
      retain = 1)
    val before = InvertedIndex.catalogOf(spark, root)
    // a second full build (not append) supersedes the first segment
    // pair; retain=1 drops version 0 at the commit
    InvertedIndex.build(spark, docs, root, nBuckets = 4, nFiles = 4,
      retain = 1)
    // default min-age first: young unreferenced dirs survive (an
    // in-flight writer's staged segments look exactly like these)
    assert(InvertedIndex.vacuumSegments(spark, root) === Seq.empty)
    val dead = InvertedIndex.vacuumSegments(spark, root, minAgeMs = 0L)
    assert(dead.map(p => p.split("/").last).toSet ===
      Set(before.head.postings, before.head.dictionary)
        .map(p => p.split("/").last))
    // the surviving version still probes
    assert(InvertedIndex.probe(spark, root, terms, k = 5).count() <= 5)
  }
}
