package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.sources.AnnIndex

/** Streaming vector ingestion into the persisted ANN index — the
  * third leg of the index lifecycle (batch [[graft.sources.AnnIndex
  * .build]] → streaming appendTo → probe): embeddings arriving from
  * the ingest pipeline land in the searchable artifact continuously,
  * without a nightly rebuild, assigned against the index's FROZEN
  * centroids exactly like a batch [[graft.sources.AnnIndex.append]].
  * Sink discipline: [[StreamMarkers.once]].
  *
  * Drift surfaces per batch through `onBatch` — the streaming twin of
  * the batch drift report: a feed whose distribution departs from the
  * trained centroids flags refitRecommended continuously rather than
  * at the next rebuild. */
object AnnIndexStream {

  /** Append one micro-batch idempotently. Returns None when `batchId`
    * already committed (replay) or the batch is empty. `maxSegments >
    * 0` opts into inline auto-compaction after the append
    * ([[graft.sources.AnnIndex.compactIfNeeded]]). */
  def appendBatch(root: String, batch: DataFrame, batchId: Long,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  nFiles: Int = 16, driftTolerance: Double = 0.05,
                  retain: Int = 4,
                  maxSegments: Int = 0): Option[AnnIndex.AppendResult] = {
    val spark = batch.sparkSession
    StreamMarkers.once(spark, root, batchId, AnnIndex.segments, batch)(
        AnnIndex.append(spark, root, batch, idCol, vecCol, nFiles,
          driftTolerance, retain, _))
      .map { r =>
        if (maxSegments > 0)
          AnnIndex.compactIfNeeded(spark, root, maxSegments,
            nFiles = nFiles, retain = retain)
        r
      }
  }

  /** The writer: wire to `.option("checkpointLocation", …).start()`.
    * `retain` must cover the replay horizon (default 4 keeps the last
    * 4 versions' notes visible for dedup — raise it for long
    * time-travel windows; it never affects correctness of current
    * reads). */
  def appendTo(root: String, vectors: DataFrame,
               idCol: String = "vec_id", vecCol: String = "embedding",
               nFiles: Int = 16, driftTolerance: Double = 0.05,
               retain: Int = 4,
               maxSegments: Int = 0,
               onBatch: (Long, AnnIndex.AppendResult) => Unit = (_, _) => ())
      : DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendBatch(root, batch, batchId, idCol, vecCol, nFiles,
          driftTolerance, retain, maxSegments)
          .foreach(r => onBatch(batchId, r))
    }
}
