package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{InvertedIndex, Manifest}
import graft.streaming.InvertedIndexStream
import graft.queries.IndexQueries

class InvertedIndexStreamSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("spark", "window", "merge")

  private def asRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "score", "rk")
      .as[(Long, Double, Int)].collect().toSet

  test("streamed appends equal the batch build BIT-exactly, then compaction preserves them") {
    val tmp = Files.createTempDirectory("invidx-stream").toString
    val root = s"$tmp/idx"
    val docs = Tables.documents(spark, sfDir)
    // build on the first third; stream the rest in two files
    // (micro-batches bounded by maxFilesPerTrigger)
    InvertedIndex.build(spark, docs.where(col("doc_id") < 20), root,
      nBuckets = 8, nFiles = 8)
    docs.where(col("doc_id") >= 20 && col("doc_id") % 2 === 0)
      .coalesce(1).write.parquet(s"$tmp/in")
    docs.where(col("doc_id") >= 20 && col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")

    var versions = List.empty[(Long, Long)]
    val q = InvertedIndexStream.appendTo(root,
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$tmp/in"),
        onBatch = (id, v) => versions ::= (id, v))
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    assert(versions.size >= 1)
    val want = asRows(IndexQueries.bm25Search(spark, sfDir))
    assert(asRows(InvertedIndex.probe(spark, root, terms, k = 10)) === want)
    // compaction folds the streamed segment pairs into one and probes
    // unchanged — the OPTIMIZE step after many micro-batches
    val folded = InvertedIndex.catalogOf(spark, root)
    assert(folded.size >= 2)
    InvertedIndex.compactSegments(spark, root, nFiles = 8)
    assert(InvertedIndex.catalogOf(spark, root).size === 1)
    // corpus stats fold by integer sums, and the compacted tables keep
    // the appended layout (d0 included)
    val compacted = InvertedIndex.catalogOf(spark, root).head
    assert(compacted.nDocs === folded.map(_.nDocs).sum)
    assert(compacted.sumDl === folded.map(_.sumDl).sum)
    def schemaOf(p: String) = spark.read.parquet(p).schema
    for (f <- folded) {
      assert(schemaOf(compacted.postings) === schemaOf(f.postings))
      assert(schemaOf(compacted.dictionary) === schemaOf(f.dictionary))
    }
    assert(asRows(InvertedIndex.probe(spark, root, terms, k = 10)) === want)
  }

  test("a replayed micro-batch is skipped: batch-id notes dedupe appends") {
    val tmp = Files.createTempDirectory("invidx-replay").toString
    val root = s"$tmp/idx"
    val docs = Tables.documents(spark, sfDir)
    InvertedIndex.build(spark, docs.where(col("doc_id") < 20), root,
      nBuckets = 4, nFiles = 4)
    val batch = docs.where(col("doc_id") >= 20 && col("doc_id") < 30)
    val first = InvertedIndexStream.appendBatch(root, batch, batchId = 7L)
    assert(first.nonEmpty)
    val vAfter = Manifest.currentVersion(spark, root).get
    assert(InvertedIndex.segments.noteOf(spark, root, Some(vAfter)) ===
      "stream-batch-7")
    val replay = InvertedIndexStream.appendBatch(root, batch, batchId = 7L)
    assert(replay.isEmpty)
    assert(Manifest.currentVersion(spark, root).get === vAfter)
    // doc counts did not double-count the replayed batch
    assert(InvertedIndex.catalogOf(spark, root).map(_.nDocs).sum === 30L)
    // a DIFFERENT batch id appends normally
    assert(InvertedIndexStream.appendBatch(root,
      docs.where(col("doc_id") >= 30 && col("doc_id") < 35),
      batchId = 8L).nonEmpty)
    assert(Manifest.currentVersion(spark, root).get === vAfter + 1)
  }

  test("a replay beyond the retention horizon is still skipped (durable marker)") {
    val tmp = Files.createTempDirectory("invidx-replay-gap").toString
    val root = s"$tmp/idx"
    val docs = Tables.documents(spark, sfDir)
    InvertedIndex.build(spark, docs.where(col("doc_id") < 10), root,
      nBuckets = 4, nFiles = 4)
    val batch7 = docs.where(col("doc_id") >= 10 && col("doc_id") < 15)
    assert(InvertedIndexStream.appendBatch(root, batch7, batchId = 7L,
      retain = 2).nonEmpty)
    // push SIX more commits at retain=2: the version holding note
    // "stream-batch-7" is long GC'd, so the note check alone would
    // let a late replay through and double-append
    (8L to 13L).foreach { id =>
      assert(InvertedIndexStream.appendBatch(root,
        docs.where(col("doc_id") >= 15 + id && col("doc_id") < 16 + id),
        batchId = id, retain = 2).nonEmpty)
    }
    val vs = Manifest.versions(spark, root)
    assert(!vs.exists(v =>
      InvertedIndex.segments.noteOf(spark, root, Some(v)) == "stream-batch-7"),
      s"retention should have GC'd the batch-7 note; versions: $vs")
    val nDocsBefore = InvertedIndex.catalogOf(spark, root).map(_.nDocs).sum
    val vBefore = Manifest.currentVersion(spark, root).get
    // the long-gap replay: caught by the durable high-water marker
    assert(InvertedIndexStream.appendBatch(root, batch7, batchId = 7L,
      retain = 2).isEmpty)
    assert(Manifest.currentVersion(spark, root).get === vBefore)
    assert(InvertedIndex.catalogOf(spark, root).map(_.nDocs).sum === nDocsBefore)
  }
}
