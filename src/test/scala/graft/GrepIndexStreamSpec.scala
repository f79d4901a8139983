package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{GrepIndex, Manifest}
import graft.streaming.GrepIndexStream

/** The trigram index's streaming lifecycle leg (r16 verdict item 7):
  * stream == batch build on BOTH probe routes, replay is a no-op —
  * the [[InvertedIndexStream]] discipline applied to grep. */
class GrepIndexStreamSpec extends SparkSpec {
  import spark.implicits._

  private val pats = Seq((0L, "merge part window"),
    (1L, "batch batch batch"), (2L, "customer line"),
    (3L, "zzzz never present"))

  private def probed(root: String, sf: Double) =
    GrepIndex.probe(spark, root, pats, scanFraction = sf)
      .as[(Long, Long)].collect().toSet

  test("streamed appends equal the batch build on both routes, then compaction preserves them") {
    val tmp = Files.createTempDirectory("grepidx-stream").toString
    val root = s"$tmp/idx"
    val full = s"$tmp/full"
    val docs = Tables.documents(spark, sfDir)
    GrepIndex.build(spark, docs, "doc_id", "text", full, nFiles = 8)
    val wantIdx = probed(full, Double.MaxValue)
    val wantScan = probed(full, -1.0)
    assert(wantIdx === wantScan)

    // build on the first third; stream the rest in two files
    // (micro-batches bounded by maxFilesPerTrigger)
    GrepIndex.build(spark, docs.where(col("doc_id") < 20),
      "doc_id", "text", root, nFiles = 8)
    docs.where(col("doc_id") >= 20 && col("doc_id") % 2 === 0)
      .coalesce(1).write.parquet(s"$tmp/in")
    docs.where(col("doc_id") >= 20 && col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    var versions = List.empty[(Long, Long)]
    val q = GrepIndexStream.appendTo(root,
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$tmp/in"),
        onBatch = (id, v) => versions ::= (id, v))
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(versions.size >= 1)

    // forced index route, forced scan route, and the auto route all
    // answer the sweep exactly as the one-shot batch build does —
    // posting membership, df stats, and n_docs recomposed across the
    // streamed segments
    assert(probed(root, Double.MaxValue) === wantIdx)
    assert(probed(root, -1.0) === wantIdx)
    assert(GrepIndex.probe(spark, root, pats)
      .as[(Long, Long)].collect().toSet === wantIdx)

    // compaction folds the streamed segments into one; probes and the
    // doc count are unchanged, and its tables keep the appended layout
    val folded = GrepIndex.catalogOf(spark, root)
    assert(folded.size >= 2)
    val nDocs = folded.map(_.nDocs).sum
    GrepIndex.compactSegments(spark, root, nFiles = 8)
    assert(GrepIndex.catalogOf(spark, root).size === 1)
    assert(GrepIndex.catalogOf(spark, root).map(_.nDocs).sum === nDocs)
    val compacted = GrepIndex.catalogOf(spark, root).head
    def schemaOf(p: String) = spark.read.parquet(p).schema
    for (f <- folded) {
      assert(schemaOf(compacted.postings) === schemaOf(f.postings))
      assert(schemaOf(compacted.stats) === schemaOf(f.stats))
      assert(schemaOf(compacted.docs) === schemaOf(f.docs))
    }
    assert(probed(root, Double.MaxValue) === wantIdx)
    // vacuum reclaims the now-unreferenced pre-compaction segments
    // once retention passes them; with the default retain they are
    // still referenced by retained versions, so nothing dangerous
    // is deleted
    val removed = GrepIndex.vacuumSegments(spark, root, minAgeMs = 0L)
    assert(probed(root, Double.MaxValue) === wantIdx,
      s"vacuum broke the live index (removed: $removed)")
  }

  test("appendBatch auto-compacts past maxSegments; probes unchanged") {
    val tmp = Files.createTempDirectory("grepidx-autocompact").toString
    val root = s"$tmp/idx"
    val full = s"$tmp/full"
    val docs = Tables.documents(spark, sfDir)
    GrepIndex.build(spark, docs, "doc_id", "text", full, nFiles = 4)
    val want = probed(full, Double.MaxValue)
    GrepIndex.build(spark, docs.where(col("doc_id") % 3 === 0),
      "doc_id", "text", root, nFiles = 4)
    // maxSegments=1: every append pushes the catalog to 2, so the
    // inline policy folds it right back — the stream never accretes
    // the probe-latency tax the r18 segment economics measured
    GrepIndexStream.appendBatch(root,
      docs.where(col("doc_id") % 3 === 1), batchId = 0L, maxSegments = 1)
    assert(GrepIndex.catalogOf(spark, root).size === 1)
    GrepIndexStream.appendBatch(root,
      docs.where(col("doc_id") % 3 === 2), batchId = 1L, maxSegments = 1)
    assert(GrepIndex.catalogOf(spark, root).size === 1)
    assert(probed(root, Double.MaxValue) === want)
    assert(probed(root, -1.0) === want)
  }

  test("a replayed micro-batch is skipped: batch-id notes dedupe appends") {
    val tmp = Files.createTempDirectory("grepidx-replay").toString
    val root = s"$tmp/idx"
    val docs = Tables.documents(spark, sfDir)
    GrepIndex.build(spark, docs.where(col("doc_id") < 20),
      "doc_id", "text", root, nFiles = 4)
    val batch = docs.where(col("doc_id") >= 20 && col("doc_id") < 30)
    val first = GrepIndexStream.appendBatch(root, batch, batchId = 7L)
    assert(first.nonEmpty)
    val vAfter = Manifest.currentVersion(spark, root).get
    assert(GrepIndex.segments.noteOf(spark, root, Some(vAfter)) === "stream-batch-7")
    val replay = GrepIndexStream.appendBatch(root, batch, batchId = 7L)
    assert(replay.isEmpty)
    assert(Manifest.currentVersion(spark, root).get === vAfter)
    // doc counts did not double-count the replayed batch
    assert(GrepIndex.catalogOf(spark, root).map(_.nDocs).sum === 30L)
    // a DIFFERENT batch id appends normally
    assert(GrepIndexStream.appendBatch(root,
      docs.where(col("doc_id") >= 30 && col("doc_id") < 35),
      batchId = 8L).nonEmpty)
    assert(Manifest.currentVersion(spark, root).get === vAfter + 1)
  }

  test("a replay beyond the retention horizon is still skipped (durable marker)") {
    val tmp = Files.createTempDirectory("grepidx-replay-gap").toString
    val root = s"$tmp/idx"
    val docs = Tables.documents(spark, sfDir)
    GrepIndex.build(spark, docs.where(col("doc_id") < 10),
      "doc_id", "text", root, nFiles = 4)
    val batch7 = docs.where(col("doc_id") >= 10 && col("doc_id") < 15)
    assert(GrepIndexStream.appendBatch(root, batch7, batchId = 7L,
      retain = 2).nonEmpty)
    // push six more commits at retain=2: the version holding note
    // "stream-batch-7" is long GC'd, so the note check alone would
    // let a late replay through and double-append
    (8L to 13L).foreach { id =>
      assert(GrepIndexStream.appendBatch(root,
        docs.where(col("doc_id") >= 15 + id && col("doc_id") < 16 + id),
        batchId = id, retain = 2).nonEmpty)
    }
    val vs = Manifest.versions(spark, root)
    assert(!vs.exists(v =>
      GrepIndex.segments.noteOf(spark, root, Some(v)) == "stream-batch-7"),
      s"retention should have GC'd the batch-7 note; versions: $vs")
    val nDocsBefore = GrepIndex.catalogOf(spark, root).map(_.nDocs).sum
    val vBefore = Manifest.currentVersion(spark, root).get
    // the long-gap replay: caught by the durable high-water marker
    assert(GrepIndexStream.appendBatch(root, batch7, batchId = 7L,
      retain = 2).isEmpty)
    assert(Manifest.currentVersion(spark, root).get === vBefore)
    assert(GrepIndex.catalogOf(spark, root).map(_.nDocs).sum === nDocsBefore)
  }
}
