package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.sources.GrepIndex

/** Streaming document ingestion into the persisted trigram grep index
  * — the substring twin of [[InvertedIndexStream]], completing the
  * lifecycle symmetry every persisted index here carries (batch
  * [[graft.sources.GrepIndex.build]] → streaming appendTo → probe):
  * crawled documents become literal-sweep-searchable continuously,
  * without a nightly re-gram of the corpus. Each micro-batch trigrams
  * ONLY itself into one immutable segment triple; trigram document
  * frequencies and the corpus doc count recompose at probe time by
  * exact integer sums, so a stream-built index answers every probe —
  * including the index-vs-scan route decision — identically to the
  * batch build (spec-gated). Sink discipline: [[StreamMarkers.once]]. */
object GrepIndexStream {

  /** Append one micro-batch idempotently. Returns the committed
    * version, or None when `batchId` already committed (replay) or
    * the batch is empty. `maxSegments > 0` opts into inline
    * auto-compaction after the append
    * ([[graft.sources.GrepIndex.compactIfNeeded]]) — mind that grep
    * compaction is a global posting re-sort (167 s at the 5M-doc
    * tier, SCALE1000.md r18), so an inline compact stalls the stream
    * for that long; probe-latency-sensitive deployments with heavy
    * corpora should prefer an out-of-band maintenance job. Replay
    * dedup is unaffected: compaction runs after the batch's marker is
    * recorded, and compaction versions carry no batch note. */
  def appendBatch(root: String, batch: DataFrame, batchId: Long,
                  idCol: String = "doc_id", textCol: String = "text",
                  nFiles: Int = 4, retain: Int = 4,
                  maxSegments: Int = 0): Option[Long] = {
    val spark = batch.sparkSession
    StreamMarkers.once(spark, root, batchId, GrepIndex.segments, batch)(
        GrepIndex.append(spark, root, batch, idCol, textCol, nFiles, retain, _))
      .map { v =>
        if (maxSegments > 0)
          GrepIndex.compactIfNeeded(spark, root, maxSegments,
            nFiles = nFiles, retain = retain)
        v
      }
  }

  /** The writer: wire to `.option("checkpointLocation", …).start()`.
    * `retain` must cover the replay horizon (replays are immediate;
    * 4 retained versions' notes span them — raise for long
    * time-travel windows, it never affects current reads). */
  def appendTo(root: String, docs: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               nFiles: Int = 4, retain: Int = 4,
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
