package graft.streaming

import java.time.Instant
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.{GraftFunctions, TextFunctions}
import graft.operators.Dedup

/** Streaming near-duplicate detection: the continuous twin of
  * `Dedup.minhashPairs` for a document feed — every incoming doc is
  * checked against the docs already seen in its LSH buckets, so a
  * training-data pipeline can drop near-dups at ingest instead of in
  * a nightly batch.
  *
  * Shape: signature + band hashes are computed with the SAME native
  * expressions as the batch operator (WordShingleHashes,
  * MinHashSignature), then the stream is keyed by (band_idx,
  * band_hash) and a `flatMapGroupsWithState` holds, per bucket, the
  * signatures seen within the watermark horizon. State is
  * O(docs-per-bucket × k longs) and self-expires via event-time
  * timeout — bounded memory on an unbounded stream, sharded across
  * executors by bucket like any keyed state.
  *
  * Differences from batch, by nature of streaming:
  *  - pairs are ordered by ARRIVAL (earlier doc first), not min id;
  *  - similarity is the signature estimate (matching minhash
  *    positions / k), not exact shingle jaccard — state keeps k longs
  *    per doc, not the shingle sets;
  *  - a pair sharing several bands can emit more than once
  *    (at-least-once per pair; consumers dedupe on (doc_a, doc_b)).
  *
  * Exact-duplicate collapse (mirrors EmbedStream and the batch
  * operator's step 0): identical texts produce identical signatures
  * and share EVERY band, so a flood of F copies inside the watermark
  * horizon would otherwise emit bands × F²/2 pairs and hold F
  * signature copies in every band's state. An arrival whose signature
  * equals a stored entry's emits ONE pair to that first-seen keeper
  * (from band 0 only — one output row per copy, est_jaccard 1.0,
  * exactly what pairwise evaluation would have scored it), is never
  * added to state, and refreshes the keeper's expiry so the group
  * stays resident while the flood continues. The copy's pairs to the
  * keeper's other near-dup partners are not emitted — cluster
  * resolution recovers them transitively, see EmbedStream's scaladoc.
  *
  * LONG-HORIZON SIZING / batch-ledger crossover (measured, r15
  * STREAMBENCH at 100×): state holds one row per UNIQUE resident doc
  * per band — dup arrivals refresh keepers and never join state — at
  * ~750 B/row, i.e. ~2.9 KB per unique doc at the default 4 bands
  * (19,108 rows / 14.3 MB over 5k uniques; a 6-hour horizon that
  * expired NOTHING peaked at exactly the same state as a 25-minute
  * one on the same uniques, and sustained 11.0k docs/s vs 10.5k).
  * Rule: resident state ≈ horizon × unique-arrival-rate × 2.9 KB.
  * At 10k unique docs/s that is ~105 GB per 6-hour horizon — far past
  * a healthy per-executor state store even sharded 1000 ways at RocksDB
  * grain. Size the horizon so
  * `horizon_s × unique_rate × 2.9 KB ≲ executors × 1 GB`; past that
  * (multi-hour horizons at full-crawl rates), route to the
  * incremental batch ledger (graft.operators.Dedup #23d), which keeps
  * the dedup set on disk and the per-batch working set delta-sized.
  */
object DocsStream extends Serializable {

  case class BandedDoc(doc_id: Long, ts: Instant, sig: Array[Long],
                       band_idx: Int, band_hash: Long)
  case class NearDup(doc_a: Long, doc_b: Long, est_jaccard: Double,
                     ts: Instant)
  /** State entry: one seen doc in this bucket. */
  case class Seen(id: Long, tsUs: Long, sig: List[Long])

  private def micros(i: Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L

  /** Fraction of matching minhash positions — the standard unbiased
    * jaccard estimator for k-permutation signatures. */
  private def estJaccard(a: Seq[Long], b: Seq[Long]): Double = {
    var m = 0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { if (a(i) == b(i)) m += 1; i += 1 }
    if (n == 0) 0.0 else m.toDouble / n
  }

  /** Near-dup pairs over a stream of (doc_id, ts, text).
    * `horizonMinutes` is both the lateness tolerance and how long a
    * doc stays eligible as a dup source. */
  def nearDupPairs(spark: SparkSession, docs: DataFrame,
                   horizonMinutes: Int, n: Int = 3, numHashes: Int = 16,
                   bands: Int = 4, tau: Double = 0.6): Dataset[NearDup] = {
    import spark.implicits._
    val rows = numHashes / bands
    val horizonUs = horizonMinutes * 60000000L
    val norm = TextFunctions.normalize(col("text"))
    val sig = Dedup.minhashSignatureFromHashes(
      GraftFunctions.wordShingleHashes(norm, n, 0),
      GraftFunctions.wordShingleHashes(norm, n, 1), numHashes)
    // the signature is its own projection: CollapseProject keeps a
    // non-cheap alias referenced 1 + bands times (the sig column + each
    // band slice) un-inlined, so it is computed once per document, and
    // codegen'd — a GraftFunctions.once let-binding would force it
    // interpreted (2× the task CPU over 20k documents)
    val banded = docs
      .withWatermark("ts", s"$horizonMinutes minutes")
      .select(col("doc_id"), col("ts"), sig.as("sig"))
      .select(col("doc_id"), col("ts"), col("sig"),
        posexplode(Dedup.bandHashes(col("sig"), bands, rows))
          .as(Seq("band_idx", "band_hash")))
      .as[BandedDoc]

    def fn(key: (Int, Long), it: Iterator[BandedDoc],
           state: GroupState[List[Seen]]): Iterator[NearDup] = {
      val incoming = it.toList.sortBy(d => (micros(d.ts), d.doc_id))
      // expire BEFORE processing, not after: bucket functions fire only
      // when their bucket receives data, so a post-loop filter leaves
      // stale keepers resident in quiet buckets while busy buckets of
      // the same band set already evicted theirs — and the collapse
      // branch would then match a past-horizon keeper in some bands but
      // not others (suppressing the pair everywhere but band 0 while
      // band 0 elects a fresh keeper: a silently split dup group).
      // Filtering first makes keeper presence a pure function of the
      // watermark, identical across every bucket this batch touches.
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      var seen = state.getOption.getOrElse(Nil)
        .filter(_.tsUs + horizonUs >= wmUs)
      val out = List.newBuilder[NearDup]
      for (d <- incoming) {
        val s = d.sig.toList
        seen.find(e => e.id != d.doc_id && e.sig == s) match {
          case Some(keeper) => // exact-signature collapse: one pair
            // per copy (band 0 emits; other bands stay silent), keeper
            // expiry refreshed, copy NOT added to state
            if (key._1 == 0)
              out += NearDup(keeper.id, d.doc_id, 1.0, d.ts)
            val tsU = micros(d.ts)
            seen = seen.map(e =>
              if (e.id == keeper.id && e.tsUs < tsU) e.copy(tsUs = tsU)
              else e)
          case None =>
            for (e <- seen if e.id != d.doc_id) {
              val est = estJaccard(e.sig, s)
              if (est >= tau) out += NearDup(e.id, d.doc_id, est, d.ts)
            }
            // replace rather than prepend on same-id replay, so a
            // redelivered doc can't duplicate its state entry — keeping
            // the LATEST sighting (a late redelivery must not rewind
            // the doc's expiry, same guard as the keeper refresh)
            val tsU = math.max(micros(d.ts),
              seen.find(_.id == d.doc_id).map(_.tsUs).getOrElse(0L))
            seen = Seen(d.doc_id, tsU, s) ::
              seen.filterNot(_.id == d.doc_id)
        }
      }
      if (seen.nonEmpty) {
        state.update(seen)
        state.setTimeoutTimestamp(
          (seen.map(_.tsUs).min + horizonUs) / 1000L + 1)
      } else state.remove()
      out.result().iterator
    }

    banded.groupByKey(d => (d.band_idx, d.band_hash))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }
}
