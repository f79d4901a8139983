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
  * BIT-exactly (spec-gated). Sink discipline: [[StreamMarkers.once]].
  * After many small appends, [[graft.sources.InvertedIndex
  * .compactSegments]] is the OPTIMIZE step restoring ~1 bucket/file.
  */
object InvertedIndexStream {

  /** Append one micro-batch idempotently. Returns the committed
    * version, or None when `batchId` already committed (replay) or
    * the batch is empty. `maxSegments > 0` opts into inline
    * auto-compaction after the append
    * ([[graft.sources.InvertedIndex.compactIfNeeded]]). */
  def appendBatch(root: String, batch: DataFrame, batchId: Long,
                  idCol: String = "doc_id", textCol: String = "text",
                  nFiles: Int = 16, retain: Int = 4,
                  maxSegments: Int = 0): Option[Long] = {
    val spark = batch.sparkSession
    StreamMarkers.once(spark, root, batchId, InvertedIndex.segments, batch)(
        InvertedIndex.append(spark, root, batch, idCol, textCol, nFiles,
          retain, _))
      .map { v =>
        if (maxSegments > 0)
          InvertedIndex.compactIfNeeded(spark, root, maxSegments,
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
