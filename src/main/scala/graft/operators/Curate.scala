package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.sources.{Manifest, MetaTable, AnnIndex, InvertedIndex,
  SegmentCatalog}
import graft.Decision
import graft.functions.TextFunctions
import graft.obs.Profile

/** Incremental curation: the production form of the one-shot
  * `curate_pipeline` flagship (#65). Each arriving batch runs
  * ledger-dedup → quality gate → per-source token budget, then appends
  * the survivors to the published corpus, the fingerprint ledger, BOTH
  * persisted indexes (ANN + inverted), and the budget state — all
  * pinned by ONE Manifest `commitWith` per batch, so a reader sees
  * batch boundaries atomically.
  *
  * Scale economics (the Delta/Iceberg shape, and the same layout the
  * [[graft.sources.AnnIndex]]/[[graft.sources.InvertedIndex]] artifacts
  * use):
  *   - corpus and ledger batches live as immutable SEGMENTS under
  *     `<root>/_segments/` — OUTSIDE the Manifest version dirs, so
  *     retention GC of old versions never deletes data (r12 stored
  *     them as per-version delta dirs INSIDE the GC'd versions: from
  *     the 17th batch on, the oldest batches silently vanished from
  *     the corpus and the ledger forgot their fingerprints — old
  *     duplicates were re-admitted and append == rebuild broke);
  *   - each version's `catalog/` names the segments composing that
  *     version's corpus and ledger: a batch commit publishes the prior
  *     catalog plus at most two new segment entries — zero data copy,
  *     and a reader at ANY retained version sees exactly that
  *     version's table (time travel included). Reads are ONE
  *     multi-path parquet scan, not an N-way union of per-version
  *     plans;
  *   - `state/` (per-source cumulative token counters) is a
  *     per-version SNAPSHOT — bounded by |sources|, trivially small;
  *   - `meta/` pins the ANN and inverted-index versions published for
  *     this batch (−1 until the first non-empty batch creates them):
  *     the indexes keep their own Manifest roots, and the outer commit
  *     records which version belongs to this batch — if the outer
  *     commit never lands, the pre-committed index versions are
  *     orphaned-but-harmless (the replayed batch's note finds and
  *     reuses them);
  *   - [[compact]] is the OPTIMIZE step after many small batches: it
  *     folds all corpus segments into one re-clustered segment (and
  *     likewise the ledger) under a new version — same rows by
  *     construction; [[vacuumSegments]] then GCs segments no retained
  *     version names.
  *
  * Append == rebuild, by construction (the discipline each piece
  * already proves alone — `dedup_incremental`, `ann_index_append`,
  * `bm25_index_incremental` — here proven for the COMPOSITION):
  *   - dedup: the ledger holds every FIRST-SEEN fingerprint (including
  *     docs later rejected by quality or budget), so a later duplicate
  *     of a rejected doc is rejected too — exactly what from-scratch
  *     keep-one-then-filter produces;
  *   - budget: the state carries the per-source running token sum over
  *     the whole QUALITY-PASSED stream (not just accepted docs —
  *     from-scratch's window cumsum includes every row it scans), and
  *     batches arrive in doc_id order, so resuming the cumsum equals
  *     the global one;
  *   - indexes: batch appends are doc-disjoint (the ledger guarantees
  *     it), and both index appends recompose exact integer stats.
  *
  * Idempotence: every batch carries a NOTE — the caller's (streaming
  * ingestion passes its micro-batch id) or, for batch callers that
  * pass none, one derived from the batch's doc_id range (arrival order
  * IS doc_id order, so a replayed batch derives the same note). A
  * batch whose note is already on a retained curation version returns
  * that version without recomputing anything, and the index appends
  * check the same note so a crash BETWEEN an index append and the
  * outer commit cannot double-append postings/vectors on replay.
  */
object Curate {

  /** The three Manifest roots one curation pipeline owns. */
  final case class Roots(curation: String, ann: String, inv: String)

  /** Make a fresh Roots triple under a temp dir (gate/test plumbing). */
  def tempRoots(prefix: String): Roots = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toString
    Roots(s"$base/cur", s"$base/ann", s"$base/inv")
  }

  private val SegmentsDir = "_segments"
  private val CorpusKind = "corpus"
  private val LedgerKind = "ledger"

  private val corpusSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("quality", DoubleType)))
  private val ledgerSchema = StructType(Seq(StructField("fp", StringType)))
  private val stateSchema = StructType(Seq(
    StructField("source", StringType), StructField("used_tokens", LongType)))
  private val metaSchema = StructType(Seq(
    StructField("ann_version", LongType), StructField("inv_version", LongType),
    StructField("batch_note", StringType)))

  /** One immutable corpus or ledger segment and its row count. */
  private[graft] final case class Segment(kind: String, path: String,
                                          nRows: Long)

  /** The catalog lifecycle: `catalog/` rows (kind, segment, n_rows)
    * sorted by segment path, segments under `_segments/`. */
  private[graft] val segments = new SegmentCatalog[Segment](
    "curation commits", SegmentsDir,
    StructType(Seq(
      StructField("kind", StringType), StructField("segment", StringType),
      StructField("n_rows", LongType))),
    g => Row(g.kind, g.path, g.nRows),
    r => Segment(r.getString(0), r.getString(1), r.getLong(2)),
    _.path, g => Seq(g.path), _.nRows)

  private def subDir(spark: SparkSession, root: String, v: Long,
                     sub: String): String =
    s"${Manifest.resolvedDataDir(spark, root, v)}/$sub"

  /** One immutable segment under `<root>/_segments/` (uniquely named,
    * so concurrent/crashed writers can never collide), staged until
    * the commit that names it. */
  private def writeSegment(spark: SparkSession, root: String, kind: String,
                           df: DataFrame): Segment = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val path = s"$root/$SegmentsDir/${kind.take(1)}-$token"
    // count via observe on the WRITE's own execution — the r14 form
    // re-read the just-written segment for the catalog row count, one
    // extra metadata+data pass per batch segment (verdict r14 item 9)
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode("errorifexists").parquet(path)
    // the index appends run between this write and the batch's
    // commit, so the staging window is open-ended
    segments.stage(spark, Segment(kind, path, obs.get("n").asInstanceOf[Long]))
  }

  /** One multi-path scan of a kind's segments at version `v` (default
    * current); schema-correct empty frame when the kind has no
    * segments yet. The segments were written with `schema`, so the
    * scan takes it instead of inferring it. */
  private def readKind(spark: SparkSession, root: String, kind: String,
                       schema: StructType, v: Option[Long] = None)
      : DataFrame = {
    val paths = segments.catalogOf(spark, root, v)
      .filter(_.kind == kind).map(_.path)
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  /** The published curated corpus: (doc_id, source, quality). Pass a
    * version for time travel within the retention window. */
  def readCorpus(spark: SparkSession, roots: Roots,
                 version: Option[Long] = None): DataFrame =
    readKind(spark, roots.curation, CorpusKind, corpusSchema, version)

  /** The fingerprint ledger: every first-seen fp, accepted or not. */
  def readLedger(spark: SparkSession, roots: Roots,
                 version: Option[Long] = None): DataFrame =
    readKind(spark, roots.curation, LedgerKind, ledgerSchema, version)

  /** Ingest one batch. `batch` must carry (doc_id, source, text) with
    * doc_ids strictly above every previously ingested batch (arrival
    * order IS doc_id order — the append==rebuild precondition);
    * `embeddings` is the (vec_id, embedding) side table batch vectors
    * are pulled from. Returns the committed curation version (or the
    * already-committed one when the batch's note is found on a
    * retained version — the replay path). An EMPTY input batch is a
    * no-op returning the current version (−1 before any commit).
    * Each index append records a `curate.ann` / `curate.inv`
    * [[graft.Decision]]: replayed, skipped (nothing to add), built or
    * appended.
    *
    * `annMaxSegments` / `invMaxSegments` > 0 opt into inline index
    * auto-compaction AFTER the batch's atomic publish (the
    * [[graft.streaming.AnnIndexStream]] maxSegments pattern, wired
    * into the flagship per r18 verdict item 3: the batch loop appends
    * to both indexes every batch and probe latency degrades with
    * segment count — 3.4→8.8 s ANN / 7.4→13.7 s BM25 at 1→32
    * segments, SCALE1000.md r18). Running after the commit keeps
    * replay semantics untouched: a replayed batch returns at the
    * curation-note check and never re-compacts; a crash between
    * commit and compaction just defers compaction to the next batch.
    * The batch's meta pins the APPEND version (compaction is one
    * version later on the index's own root) — pinned reads stay valid
    * under the index retention. Size them to amortize compaction cost
    * over the probe rate (inverted folds by bucket, ~2-probe payback;
    * ANN re-clusters against frozen centroids, ~1-2 probes). */
  def runBatch(spark: SparkSession, roots: Roots, batch: DataFrame,
               embeddings: DataFrame, qualityFloor: Double,
               budgetPerSource: Long, annCells: Int = 4,
               nFiles: Int = 4, note: String = "", retain: Int = 16,
               annMaxSegments: Int = 0, invMaxSegments: Int = 0): Long = {
    val priorVs = Manifest.versions(spark, roots.curation)

    // ---- idempotence note: caller's, or derived from the batch's
    // doc_id range (a replayed batch derives the same note — this is
    // what makes CRASH-REPLAYED batch ingestion safe: without it, a
    // re-run after a crash between an index append and the outer
    // commit would double-append postings/vectors)
    val note0 =
      if (note.nonEmpty) note
      else {
        val r = batch.agg(min(col("doc_id")), max(col("doc_id"))).head()
        if (r.isNullAt(0)) "" // empty batch — no-op below
        else s"batch-${r.getLong(0)}-${r.getLong(1)}"
      }
    if (note0.isEmpty) // empty input batch: nothing to ingest or pin
      return priorVs.lastOption.getOrElse(-1L)
    val replayedAs = segments.notedVersion(spark, roots.curation, note0)
    if (replayedAs.isDefined) return replayedAs.get

    // ---- stage 1: ledger dedup (keep-one within batch, drop any fp
    // ever seen before — Dedup.incrementalExact semantics inline, the
    // projection kept narrow)
    val wFp = Window.partitionBy(col("fp"))
    val keepOne = batch
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("keeper", min(col("doc_id")).over(wFp))
      .where(col("doc_id") === col("keeper"))
    // quality is computed INTO the checkpoint projection: the
    // materialization is a hard barrier, so the stats pass runs
    // exactly once per first-seen row — the r16 fuse done with
    // structure the path already pays for (one extra double per
    // checkpointed row), instead of the Generate barrier the first
    // attempt used (same-machine sampling could not separate the
    // Generate form from the plain one under this box's ±35% noise —
    // BENCHNOTES_r16.md — so the zero-new-structure form wins by
    // construction, not by a contested measurement). Its row count
    // is observed on the checkpoint's own job, not probed again.
    val freshObs = Observation()
    val fresh = (
      if (priorVs.isEmpty) keepOne
      else keepOne.join(readLedger(spark, roots).hint("shuffle_hash"),
        Seq("fp"), "left_anti")
    ).withColumn("quality", TextFunctions.qualityScore(col("text")))
      .observe(freshObs, count(lit(1)).as("n"))
      .localCheckpoint()
    val nFresh = freshObs.get("n").asInstanceOf[Long]
    // every first-seen fp enters the ledger NOW — before quality and
    // budget — so later duplicates of rejected docs stay rejected
    val ledgerDelta = fresh.select(col("fp"))

    // ---- stage 2: quality gate (reads the materialized column)
    val scored = fresh.where(col("quality") >= qualityFloor)

    // ---- stage 3: per-source token budget, doc_id order, resuming the
    // prior cumsum. NOTE the order is doc_id, not the md5 order of
    // `mixture_token_budget`: arrival order is the only order an
    // incremental cut can share with its from-scratch twin.
    import spark.implicits._
    val priorCounts: Seq[(String, Long)] = priorVs.lastOption.toSeq
      .flatMap(v => MetaTable.read(spark,
        subDir(spark, roots.curation, v, "state"), stateSchema))
      .map(r => (r.getString(0), r.getLong(1)))
    val priorState = priorCounts.toDF("source", "used_tokens")
    val scoredTok = scored
      .withColumn("n_tokens", TextFunctions.bpeTokenCount(col("text")).cast("long"))
    // one window per source: the stage is tokenize-bound (r18 measured
    // the window alone at 0.86 s of ~10 s), so the single-task-per-
    // source window is not worth splitting into doc_id bands
    val wCum = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val inBudget = col("cum") <= budgetPerSource
    val budgetedObs = Observation()
    val budgeted = scoredTok
      .join(broadcast(priorState), Seq("source"), "left")
      .withColumn("cum",
        sum(col("n_tokens")).over(wCum) +
          coalesce(col("used_tokens"), lit(0L)))
      .observe(budgetedObs, count_if(inBudget).as("n"))
      .localCheckpoint()
    val nAccepted = budgetedObs.get("n").asInstanceOf[Long]
    // a filter over the materialized `budgeted`: no checkpoint of its own
    val accepted = budgeted.where(inBudget)

    // new state: prior counters carried forward, batch's FULL
    // quality-passed token mass added (see object doc — rejected rows
    // still advance the from-scratch cumsum), folded on the driver
    // from one collect of the per-source batch sums
    val batchTokens = budgeted.groupBy(col("source"))
      .agg(sum(col("n_tokens")))
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
    val newState = (priorCounts ++ batchTokens).groupMapReduce(_._1)(_._2)(_ + _)
      .toSeq.map { case (src, n) => Row(src, n) }

    // ---- stage 4: corpus/ledger segments (immutable, outside the
    // version dirs — orphaned by a crash before the commit below,
    // collected by vacuumSegments, never half-visible)
    val priorCatalog = priorVs.lastOption.toSeq
      .flatMap(v => segments.catalogOf(spark, roots.curation, Some(v)))
    val newEntries = Seq(
      (CorpusKind, accepted.select(col("doc_id"), col("source"),
        col("quality")), nAccepted == 0),
      (LedgerKind, ledgerDelta, nFresh == 0)
    ).collect { case (kind, df, empty) if !empty =>
      writeSegment(spark, roots.curation, kind, df)
    }

    // ---- stage 5: index appends (zero-copy catalog re-publishes on
    // their own roots; versions pinned in meta/ below). All four paths
    // are replay-safe: the batch's note finds a prior build/append on
    // a retained index version and reuses it; an index that does not
    // exist yet (every prior batch rejected everything) is created by
    // the first batch that accepts anything, and meta records −1 until
    // then.
    // embeddings are corpus-aligned, not batch-carried, so this join
    // is unavoidable
    val annBatch = embeddings.join(accepted.select(col("doc_id").as("vec_id")), "vec_id")
      .select(col("vec_id"), col("embedding"))
    // the two index appends are INDEPENDENT (separate Manifest roots,
    // separate replay notes, inputs derived from the already-
    // checkpointed `budgeted`) and each is a sequence of small
    // driver-serial jobs — the r17 CurateProbe decomposition measured
    // them at ~5.6 s/batch together, ~40% of the whole gate query,
    // dwarfing the curation commit itself (0.76 s/batch). Submitting
    // them from two driver threads overlaps those job latencies;
    // Spark job submission is thread-safe and the scheduler
    // interleaves the small stages.
    def indexVersion(op: String)(replayed: Option[Long], current: => Option[Long],
                                 skip: => Boolean)(build: => Long, append: => Long): Long = {
      val (route, v) = replayed.map(("replayed", _)).getOrElse {
        if (skip) ("skipped", current.getOrElse(-1L))
        else if (current.isEmpty) ("built", build)
        else ("appended", append)
      }
      Decision.record(Decision(op, route, 0, 0))
      v
    }
    // accepted texts come off a CHECKPOINT, never a re-join of the raw
    // batch: the old batch⋈accepted form shuffled the batch's full
    // text column every time (r18 tier probe: ~1 GB shuffle per
    // 1.67M-doc batch inside the dominant inv-append stage), so
    // `accepted` re-filters the budgeted checkpoint (join-free)
    val invBatch = accepted.select(col("doc_id"), col("text"))
    val (annV, invV) = Profile.both(spark)(
      indexVersion("curate.ann")(
        AnnIndex.segments.notedVersion(spark, roots.ann, note0),
        Manifest.currentVersion(spark, roots.ann),
        // accepted docs may lack embeddings: only the join can tell
        nAccepted == 0 || annBatch.isEmpty)(
        AnnIndex.build(spark, annBatch, roots.ann, cells = annCells,
          nFiles = nFiles, note = note0),
        AnnIndex.append(spark, roots.ann, annBatch, nFiles = nFiles, note = note0).version),
      indexVersion("curate.inv")(
        InvertedIndex.segments.notedVersion(spark, roots.inv, note0),
        Manifest.currentVersion(spark, roots.inv),
        nAccepted == 0)(
        InvertedIndex.build(spark, invBatch, roots.inv, nBuckets = nFiles,
          nFiles = nFiles, note = note0),
        InvertedIndex.append(spark, roots.inv, invBatch, nFiles = nFiles,
          note = note0)))

    // ---- stage 6: ONE atomic publish for the batch (catalog + state +
    // meta are all metadata-sized; the data went to _segments/ above)
    val committed = segments.publish(spark, roots.curation, newEntries,
      () => priorCatalog ++ newEntries, retain, note0, 0,
      writeMeta(spark, newState, Row(annV, invV, note0)))

    // ---- stage 7 (opt-in): index maintenance — compact when the
    // batch loop's appends have grown the catalogs past the caller's
    // bound (see the scaladoc; after the commit, so replays and
    // crash-recovery semantics are untouched)
    if (annMaxSegments > 0 &&
        Manifest.currentVersion(spark, roots.ann).isDefined)
      AnnIndex.compactIfNeeded(spark, roots.ann, annMaxSegments,
        nFiles = nFiles)
    if (invMaxSegments > 0 &&
        Manifest.currentVersion(spark, roots.inv).isDefined)
      InvertedIndex.compactIfNeeded(spark, roots.inv, invMaxSegments,
        nFiles = nFiles)
    committed
  }

  /** A version's tables beside the catalog, written from the driver
    * into the staged dir: the per-source state and the one-row
    * index-pin meta. */
  private def writeMeta(spark: SparkSession, state: Seq[Row], meta: Row)
                       (dir: String): Unit = {
    MetaTable.write(spark, s"$dir/state", stateSchema, state)
    MetaTable.write(spark, s"$dir/meta", metaSchema, Seq(meta))
  }

  /** OPTIMIZE for the curation log: fold all corpus segments into ONE
    * re-clustered (doc_id-range) segment and all ledger segments into
    * one fp-range segment, published as the next version — same rows
    * by construction (a union rewrite; no filter, no dedup), zero
    * effect on replay guards (the compaction version carries its own
    * note; batch notes on OLDER versions stay visible until retention
    * drops them, exactly as without compaction). Old segments become
    * unreferenced once retention passes the pre-compaction versions —
    * [[vacuumSegments]] collects them. */
  def compact(spark: SparkSession, roots: Roots, nFiles: Int = 4,
              retain: Int = 16): Long = {
    val cur = segments.resolve(spark, roots.curation, None)
    val nSegs = segments.catalogOf(spark, roots.curation, None).size
    val corpusSeg = {
      val c = readCorpus(spark, roots)
      if (c.isEmpty) None
      else Some(writeSegment(spark, roots.curation, CorpusKind,
        c.repartitionByRange(nFiles, col("doc_id"))))
    }
    val ledgerSeg = {
      val l = readLedger(spark, roots)
      if (l.isEmpty) None
      else Some(writeSegment(spark, roots.curation, LedgerKind,
        l.repartitionByRange(nFiles, col("fp"))))
    }
    // state and index pins carry forward unchanged; the note marks the
    // version as a compaction (it can never collide with a batch note)
    val state = MetaTable.read(spark,
      subDir(spark, roots.curation, cur, "state"), stateSchema)
    val pins = MetaTable.read(spark,
      subDir(spark, roots.curation, cur, "meta"), metaSchema).head
    val note = s"compaction-of-$nSegs"
    segments.replace(spark, roots.curation, corpusSeg.toSeq ++ ledgerSeg.toSeq,
      retain, note, writeMeta(spark, state, Row(pins.get(0), pins.get(1), note)))
  }

  /** Delete segments referenced by NO retained version — the payload
    * half of [[Manifest.vacuum]] for curation roots (the same contract
    * as [[graft.sources.AnnIndex.vacuumSegments]]). Returns the
    * removed segment paths. Run it AFTER vacuum/retention has dropped
    * the versions naming the segments; `minAgeMs` keeps an in-flight
    * runBatch/compact's freshly staged (not-yet-referenced) segments
    * safe from a racing vacuum ([[Manifest.vacuumUnreferenced]]). */
  def vacuumSegments(spark: SparkSession, roots: Roots,
                     minAgeMs: Long = Manifest.DefaultVacuumAgeMs,
                     staleStagingMs: Long = Manifest.DefaultStaleStagingMs)
      : Seq[String] =
    segments.vacuum(spark, roots.curation, minAgeMs, staleStagingMs)
}
