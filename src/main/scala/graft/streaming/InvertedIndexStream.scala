package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.sources.InvertedIndex

/** Streaming document ingestion into the persisted inverted index —
  * the lexical twin of [[AnnIndexStream]], completing the same
  * lifecycle (batch [[graft.sources.InvertedIndex.build]] → streaming
  * appendTo → probe): crawled documents become BM25-searchable
  * continuously, without a nightly re-tokenize of the corpus. Each
  * micro-batch tokenizes ONLY itself into one posting+dictionary
  * segment pair; corpus statistics recompose at probe time by exact
  * integer sums, so a stream-built index equals the batch build
  * BIT-exactly (spec-gated).
  *
  * Sink discipline: `foreachBatch` + the index's Manifest CAS commit,
  * micro-batch id as the version's commit note — written inside the
  * staged dir, hence published atomically with the version. A
  * replayed batch finds its note on a retained version and skips:
  * exactly-once ingestion with dedup memory bounded by retention.
  * After many small appends, [[graft.sources.InvertedIndex
  * .compactSegments]] is the OPTIMIZE step restoring ~1 bucket/file.
  */
object InvertedIndexStream {

  /** Append one micro-batch idempotently. Returns the committed
    * version, or None when `batchId` already committed (replay) or
    * the batch is empty. */
  def appendBatch(root: String, batch: DataFrame, batchId: Long,
                  idCol: String = "doc_id", textCol: String = "text",
                  nFiles: Int = 16, retain: Int = 4,
                  maxSegments: Int = 0): Option[Long] = {
    val spark = batch.sparkSession
    val note = s"stream-batch-$batchId"
    // Two-layer replay dedup: the retained-version notes catch the
    // immediate replay (incl. a crash between commit and marker); the
    // durable [[StreamMarkers]] high-water record catches replays
    // arriving after retention has GC'd the noted version (long
    // recovery gap) — without it such a batch double-appends and
    // corrupts the recomposed df/BM25 stats.
    val replayed = StreamMarkers.seen(spark, root, batchId) ||
      InvertedIndex.segments.notedVersion(spark, root, note).isDefined
    if (replayed || batch.isEmpty) None
    else {
      val v = InvertedIndex.append(spark, root, batch, idCol, textCol,
        nFiles, retain, note)
      StreamMarkers.record(spark, root, batchId)
      // opt-in inline auto-compaction (cheap for this index: bucket
      // fold, no global re-sort — 14.5 s at the 5M-doc tier, paying
      // for itself within ~2 probes; SCALE1000.md r18)
      if (maxSegments > 0)
        InvertedIndex.compactIfNeeded(spark, root, maxSegments,
          nFiles = nFiles, retain = retain)
      Some(v)
    }
  }

  /** The writer: wire to `.option("checkpointLocation", …).start()`.
    * `retain` must cover the replay horizon (replays are immediate;
    * 4 retained versions' notes span them — raise for long
    * time-travel windows, it never affects current reads). */
  def appendTo(root: String, docs: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               nFiles: Int = 16, retain: Int = 4,
               maxSegments: Int = 0,
               onBatch: (Long, Long) => Unit = (_, _) => ())
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendBatch(root, batch, batchId, idCol, textCol, nFiles, retain,
          maxSegments)
          .foreach(v => onBatch(batchId, v))
    }
}
