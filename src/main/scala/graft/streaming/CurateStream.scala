package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.Curate

/** Streaming incremental curation: the crawl arrives as a stream and
  * each micro-batch runs the FULL [[graft.operators.Curate]] pipeline
  * — ledger dedup → quality gate → per-source token budget → corpus +
  * ledger + ANN-index + inverted-index appends — under one Manifest
  * commit per micro-batch. The continuous form of `curate_incremental`
  * (#65a): the published corpus and both indexes advance with the
  * stream, and append == rebuild holds batch-for-batch because
  * foreachBatch runs micro-batches sequentially in arrival order (the
  * doc_id-order precondition runBatch documents).
  *
  * Exactly-once: [[StreamMarkers.once]] over the curation root, with
  * the micro-batch note also riding the curation meta's batch_note.
  * The inner index appends carry the SAME note, so a crash between an
  * index append and the outer commit does not double-append on
  * replay — runBatch reuses the noted index version.
  */
object CurateStream {

  /** Run one micro-batch idempotently. Returns the committed curation
    * version, or None when `batchId` already committed (replay) or the
    * batch is empty. `annMaxSegments` / `invMaxSegments` > 0 opt into
    * inline index auto-compaction after the batch's publish (the
    * [[Curate.runBatch]] stage-7 policy — bounds probe latency under a
    * long-running stream; a replayed batch skips before compaction,
    * which only defers it to the next live batch). */
  def batchOnce(roots: Curate.Roots, batch: DataFrame,
                embeddings: DataFrame, batchId: Long,
                qualityFloor: Double, budgetPerSource: Long,
                annCells: Int = 4, nFiles: Int = 4,
                annMaxSegments: Int = 0,
                invMaxSegments: Int = 0): Option[Long] = {
    val spark = batch.sparkSession
    StreamMarkers.once(spark, roots.curation, batchId, Curate.segments, batch)(
      Curate.runBatch(spark, roots, batch, embeddings, qualityFloor,
        budgetPerSource, annCells, nFiles, _,
        annMaxSegments = annMaxSegments, invMaxSegments = invMaxSegments))
  }

  /** The writer: wire to `.option("checkpointLocation", …).start()`.
    * `embeddings` is the static (vec_id, embedding) side table batch
    * vectors are pulled from. */
  def curateTo(roots: Curate.Roots, docs: DataFrame,
               embeddings: DataFrame, qualityFloor: Double,
               budgetPerSource: Long, annCells: Int = 4, nFiles: Int = 4,
               annMaxSegments: Int = 0, invMaxSegments: Int = 0,
               onBatch: (Long, Long) => Unit = (_, _) => ())
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      batchOnce(roots, batch, embeddings, batchId, qualityFloor,
        budgetPerSource, annCells, nFiles, annMaxSegments, invMaxSegments)
        .foreach(v => onBatch(batchId, v))
    }
}
