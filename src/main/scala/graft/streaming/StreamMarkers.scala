package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.SegmentCatalog

/** Durable exactly-once replay guard for index-append sinks.
  *
  * The commit-note check of [[once]] scans only the notes of
  * currently RETAINED versions, so a replayed micro-batch arriving
  * after more than `retain` subsequent commits (a long recovery gap)
  * would not be detected and would silently double-append —
  * double-counting postings/vectors and corrupting BM25/df stats.
  * This record lives OUTSIDE the GC'd version dirs:
  * one empty marker file per committed batch id under
  * `<root>/_stream/`, plus one `query-<id>` identity file naming the
  * streaming query the root belongs to.
  *
  * Replay detection (r13 — the r12 form treated ANY
  * `batchId <= max(recorded)` as a replay, which silently no-op'd a
  * NEW query started with a fresh checkpoint against an existing
  * root until its ids outran the old high-water mark — dropped data,
  * worse than the double-append the marker prevents):
  *   - an id whose exact marker file exists is a replay;
  *   - an id below the oldest KEPT marker falls back to the
  *     high-water rule (only committed ids are ever pruned, so
  *     anything under the kept tail was committed);
  *   - an id inside or above the kept window WITHOUT a marker was
  *     never committed — process it;
  *   - and the failure mode that motivated the change fails LOUDLY:
  *     the first `record` persists the streaming query's id (stable
  *     across restarts — it lives in the checkpoint metadata), and a
  *     later query with a DIFFERENT id throws instead of guessing.
  *     Callers outside a streaming query (batch tests, manual replay
  *     drills) carry no query id and skip the identity check.
  *
  * Write discipline: the marker is created AFTER the index's CAS
  * commit — a crash in between leaves the note check to catch the
  * immediate replay (the just-committed version is by definition
  * retained). Marker files are create-only (atomic on every FS,
  * including S3-family stores — no rename, no overwrite); old markers
  * are pruned on each record, keeping a tail both for debuggability
  * and for the exact-existence check above. foreachBatch runs
  * micro-batches sequentially per query, so ids are recorded
  * monotonically and the max is the high-water mark.
  */
object StreamMarkers {

  private val Dir = "_stream"
  private val KeepMarkers = 16

  /** Spark sets this local property on the stream-execution thread
    * (the thread foreachBatch bodies run on); absent for batch
    * callers. */
  private val QueryIdKey = "sql.streaming.queryId"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def currentQueryId(spark: SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty(QueryIdKey)).filter(_.nonEmpty)

  private def recordedQueryId(spark: SparkSession, root: String)
      : Option[String] = {
    val dir = new Path(s"$root/$Dir")
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collectFirst { case n if n.startsWith("query-") =>
        n.stripPrefix("query-") }
  }

  /** Fail loudly when a DIFFERENT streaming query (fresh checkpoint,
    * restarting batch ids at 0) writes to a root another query owns —
    * the alternative is silently dropping its batches as "replays". */
  private def guardQueryIdentity(spark: SparkSession, root: String): Unit =
    for (cur <- currentQueryId(spark); rec <- recordedQueryId(spark, root))
      if (cur != rec)
        throw new IllegalStateException(
          s"index root $root was written by streaming query $rec, but " +
            s"query $cur (a different checkpoint) is writing to it now. " +
            "Batch ids from a fresh checkpoint restart at 0 and CANNOT be " +
            "replay-deduped against the old query's high-water mark. " +
            s"Either resume the original checkpoint, or remove $root/$Dir " +
            "to adopt the root into the new query (after verifying no " +
            "batch overlap).")

  private def recordedIds(spark: SparkSession, root: String): Seq[Long] = {
    val dir = new Path(s"$root/$Dir")
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch-") =>
        n.stripPrefix("batch-").toLong }
  }

  /** The sink discipline of every segment-log stream sink
    * ([[GrepIndexStream]], [[InvertedIndexStream]], [[AnnIndexStream]],
    * [[CurateStream]]), written once. `foreachBatch` + the root's own
    * Manifest CAS commit: Structured Streaming replays a micro-batch
    * after a crash (at-least-once at the sink boundary), so `write`
    * gets the note `stream-batch-<batchId>` to commit as its version's
    * note — written inside the staged data dir, hence published
    * atomically WITH the version. Two-layer replay dedup: a batch
    * whose note is on a retained version of `catalog` at `root`
    * (the immediate replay, including a crash between commit and
    * marker), or whose durable marker is recorded (a replay arriving
    * after retention GC'd the noted version), is skipped — without
    * the marker such a batch double-appends and corrupts recomposed
    * stats. An empty batch is skipped too. Otherwise `write` runs and
    * the marker is recorded. Returns None when skipped. A crash
    * BEFORE the CAS leaves only unreferenced staged dirs (reclaimed by
    * the index's `vacuumSegments`), never a half-visible version. */
  def once[T](spark: SparkSession, root: String, batchId: Long,
              catalog: SegmentCatalog[_], batch: DataFrame)
             (write: String => T): Option[T] = {
    val note = s"stream-batch-$batchId"
    if (seen(spark, root, batchId) ||
        catalog.notedVersion(spark, root, note).isDefined || batch.isEmpty)
      None
    else {
      val r = write(note)
      record(spark, root, batchId)
      Some(r)
    }
  }

  /** Highest batch id ever recorded for this index root, if any. */
  def lastBatch(spark: SparkSession, root: String): Option[Long] =
    recordedIds(spark, root).maxOption

  /** True iff `batchId` was already committed — replayed micro-batches
    * are skipped by [[once]]. Throws when the calling streaming
    * query is not the one that owns this root (see object doc). */
  def seen(spark: SparkSession, root: String, batchId: Long): Boolean = {
    guardQueryIdentity(spark, root)
    val ids = recordedIds(spark, root)
    if (ids.isEmpty) false
    else if (ids.contains(batchId)) true
    // below the kept tail only committed ids were pruned → replay;
    // a gap INSIDE or above the kept window was never committed
    else batchId < ids.min
  }

  /** Record a committed batch id (and, under a streaming query, the
    * query's identity) and prune markers older than the kept tail. */
  def record(spark: SparkSession, root: String, batchId: Long): Unit = {
    guardQueryIdentity(spark, root)
    val dir = new Path(s"$root/$Dir")
    val fs = fsOf(spark, dir)
    fs.mkdirs(dir)
    if (recordedQueryId(spark, root).isEmpty)
      currentQueryId(spark).foreach { q =>
        fs.create(new Path(dir, s"query-$q"), false).close()
      }
    fs.create(new Path(dir, s"batch-$batchId"), false).close()
    fs.listStatus(dir).toSeq
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith("batch-") &&
          p.getName.stripPrefix("batch-").toLong < batchId - KeepMarkers
      }
      .foreach(fs.delete(_, false))
  }
}
