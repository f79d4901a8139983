package graft

import org.apache.spark.sql.functions._
import graft.operators.Curate
import graft.sources.Manifest

/** Incremental-curation composition (#65a). The composed
  * append==rebuild equality is driver-gated by `curate_incremental`
  * (from-scratch DuckDB recomputation); this spec pins the two
  * semantics that make the equality hold and the batch-commit
  * plumbing. */
class CurateSpec extends SparkSpec {
  import spark.implicits._

  // quality arithmetic under TextFunctions.qualityScore:
  //   "aaaa"      -> letters 1.0*0.5 + stop 0 + clean 0.2 = 0.7, 1 token
  //   "...."      -> 0.0 (all punctuation), 4 tokens
  //   "aa bb"     -> letters 4/5*0.5 + 0 + 0.2 = 0.6,       2 tokens
  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "source", "text")
  private def embs(ids: Long*) =
    ids.map(i => (i, Array(i.toFloat, 1f, 0f, 0f))).toDF("vec_id", "embedding")

  test("a later duplicate of a quality-REJECTED doc stays rejected (ledger-first)") {
    val roots = Curate.tempRoots("curate-spec-led")
    // batch 1: doc 1 fails the 0.5 floor; its fp still enters the ledger
    Curate.runBatch(spark, roots,
      docs((1L, "s", "...."), (2L, "s", "aaaa")), embs(1L, 2L),
      qualityFloor = 0.5, budgetPerSource = 100L)
    // batch 2: doc 11 repeats the REJECTED text — from-scratch keep-one
    // would collapse it into doc 1 and then quality-reject it, so the
    // incremental path must reject it too
    Curate.runBatch(spark, roots,
      docs((11L, "s", "...."), (12L, "s", "bbbb")), embs(11L, 12L),
      qualityFloor = 0.5, budgetPerSource = 100L)
    val got = Curate.readCorpus(spark, roots).select("doc_id")
      .as[Long].collect().sorted
    assert(got.toSeq === Seq(2L, 12L))
  }

  test("budget state carries the FULL quality-passed mass, not just accepted") {
    val roots = Curate.tempRoots("curate-spec-bud")
    // budget 2: doc 1 (1 token) accepted; doc 3 (2 tokens, cum 3)
    // budget-rejected but its mass must still advance the counter
    Curate.runBatch(spark, roots,
      docs((1L, "s", "aaaa"), (3L, "s", "bb cc")), embs(1L, 3L),
      qualityFloor = 0.5, budgetPerSource = 2L)
    // batch 2: doc 5 (1 token). From-scratch cumsum = 1+2+1 = 4 > 2 →
    // reject. A state that only counted ACCEPTED tokens (1) would
    // wrongly accept it at cum 2.
    Curate.runBatch(spark, roots,
      docs((5L, "s", "dddd")), embs(5L),
      qualityFloor = 0.5, budgetPerSource = 2L)
    val got = Curate.readCorpus(spark, roots).select("doc_id")
      .as[Long].collect().sorted
    assert(got.toSeq === Seq(1L))
  }

  test("retention GC never loses batch data: segments live outside version dirs") {
    val roots = Curate.tempRoots("curate-spec-gc")
    // retain=2 — aggressive retention; r12's per-version delta layout
    // would lose batch 0's corpus AND ledger by batch 2's GC
    for (b <- 0L until 4L)
      Curate.runBatch(spark, roots,
        docs((b * 10 + 1, "s", s"batch$b words here")), embs(b * 10 + 1),
        qualityFloor = 0.3, budgetPerSource = 1000L, retain = 2)
    assert(Manifest.versions(spark, roots.curation) === Seq(2L, 3L))
    // all four batches readable despite versions 0-1 being vacuumed
    val got = Curate.readCorpus(spark, roots).select("doc_id")
      .as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 11L, 21L, 31L))
    // the ledger still remembers batch 0: its duplicate dies
    Curate.runBatch(spark, roots,
      docs((41L, "s", "batch0 words here")), embs(41L),
      qualityFloor = 0.3, budgetPerSource = 1000L, retain = 2)
    assert(Curate.readCorpus(spark, roots).count() === 4L)
  }

  test("an empty-note batch replay reuses its version (crash-recovery idempotence)") {
    val roots = Curate.tempRoots("curate-spec-idem")
    Curate.runBatch(spark, roots,
      docs((1L, "s", "first batch text")), embs(1L),
      qualityFloor = 0.3, budgetPerSource = 1000L)
    val v1 = Curate.runBatch(spark, roots,
      docs((11L, "s", "second batch text")), embs(11L),
      qualityFloor = 0.3, budgetPerSource = 1000L)
    val annV = Manifest.currentVersion(spark, roots.ann)
    val invV = Manifest.currentVersion(spark, roots.inv)
    // the crash-replay: same batch, still no explicit note — the
    // derived doc_id-range note must find v1 and touch NOTHING
    // (r12 double-appended the indexes here, skewing df/ANN contents)
    val v1r = Curate.runBatch(spark, roots,
      docs((11L, "s", "second batch text")), embs(11L),
      qualityFloor = 0.3, budgetPerSource = 1000L)
    assert(v1r === v1)
    assert(Manifest.currentVersion(spark, roots.ann) === annV)
    assert(Manifest.currentVersion(spark, roots.inv) === invV)
    assert(Curate.readCorpus(spark, roots).count() === 2L)
  }

  test("a first batch that accepts nothing defers index creation") {
    val roots = Curate.tempRoots("curate-spec-defer")
    // floor 1.0 rejects everything — r12 called AnnIndex.build on an
    // empty frame here and trainCentroids threw
    Curate.runBatch(spark, roots,
      docs((1L, "s", "all rejected")), embs(1L),
      qualityFloor = 1.0, budgetPerSource = 1000L)
    val meta0 = spark.read.parquet(
      s"${Manifest.resolvedDataDir(spark, roots.curation, 0L)}/meta")
      .select("ann_version", "inv_version").head()
    assert(meta0.getLong(0) === -1L && meta0.getLong(1) === -1L)
    assert(Manifest.currentVersion(spark, roots.ann).isEmpty)
    // the first ACCEPTING batch builds both indexes
    Curate.runBatch(spark, roots,
      docs((11L, "s", "aaaa")), embs(11L),
      qualityFloor = 0.5, budgetPerSource = 1000L)
    assert(Manifest.currentVersion(spark, roots.ann) === Some(0L))
    assert(Manifest.currentVersion(spark, roots.inv) === Some(0L))
    assert(Curate.readCorpus(spark, roots).count() === 1L)
  }

  test("compaction folds segments bit-equal and keeps replay guards + vacuum safe") {
    val roots = Curate.tempRoots("curate-spec-compact")
    Curate.runBatch(spark, roots,
      docs((1L, "s", "aaaa"), (2L, "t", "bbbb")), embs(1L, 2L),
      qualityFloor = 0.5, budgetPerSource = 100L)
    val v1 = Curate.runBatch(spark, roots,
      docs((11L, "s", "cccc"), (12L, "u", "....")), embs(11L, 12L),
      qualityFloor = 0.5, budgetPerSource = 100L)
    val corpusBefore = Curate.readCorpus(spark, roots)
      .as[(Long, String, Double)].collect().toSet
    val ledgerBefore = Curate.readLedger(spark, roots)
      .as[String].collect().toSet
    val vC = Curate.compact(spark, roots, nFiles = 2)
    assert(Curate.readCorpus(spark, roots)
      .as[(Long, String, Double)].collect().toSet === corpusBefore)
    assert(Curate.readLedger(spark, roots)
      .as[String].collect().toSet === ledgerBefore)
    // replay of a pre-compaction batch still detected (its note is on
    // a retained version), and the compacted ledger still dedups
    assert(Curate.runBatch(spark, roots,
      docs((11L, "s", "cccc"), (12L, "u", "....")), embs(11L, 12L),
      qualityFloor = 0.5, budgetPerSource = 100L) === v1)
    Curate.runBatch(spark, roots,
      docs((21L, "s", "aaaa"), (22L, "u", "...."), (23L, "v", "dddd")),
      embs(21L, 22L, 23L), qualityFloor = 0.5, budgetPerSource = 100L)
    assert(Curate.readCorpus(spark, roots).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 11L, 23L))
    // vacuum: with every pre-compaction version retained, nothing is
    // dead yet; after retention shrinks to the post-compaction tail,
    // the folded segments go and reads still work
    Manifest.vacuum(spark, roots.curation, retain = 2)
    val removed = Curate.vacuumSegments(spark, roots, minAgeMs = 0L)
    assert(removed.nonEmpty)
    assert(Curate.readCorpus(spark, roots).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 11L, 23L))
    assert(vC >= 0L) // compaction committed a real version
  }

  test("budget cuts interleaved sources mid-stream and carries both counters") {
    // two sources interleaved over a wide doc_id range, budget 4,
    // cutting mid-stream in both batches. Tokens (BpePattern letter
    // runs): "aa bb"/"dd ee"/"ff gg"/"kk ll" 2, the rest 1; every
    // text clears the 0.5 floor (0.6 or 0.7).
    val roots = Curate.tempRoots("curate-spec-budget2")
    // batch 1 — s: 1 (cum 2) ok, 90 (4) ok, 180 (5) cut;
    //           t: 5 (cum 1) ok, 95 (3) ok
    Curate.runBatch(spark, roots,
      docs((1L, "s", "aa bb"), (5L, "t", "cc"), (90L, "s", "dd ee"),
           (95L, "t", "ff gg"), (180L, "s", "hh")),
      embs(1L, 5L, 90L, 95L, 180L),
      qualityFloor = 0.5, budgetPerSource = 4L)
    // batch 2 resumes at s=5, t=3 — s: 200 (6) cut;
    //           t: 260 (4) ok, 320 (6) cut
    Curate.runBatch(spark, roots,
      docs((200L, "s", "ii"), (260L, "t", "jj"), (320L, "t", "kk ll")),
      embs(200L, 260L, 320L),
      qualityFloor = 0.5, budgetPerSource = 4L)
    assert(Curate.readCorpus(spark, roots).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 5L, 90L, 95L, 260L))
    // the carried counters hold the FULL quality-passed mass per source
    def state(v: Long) = spark.read.parquet(
        s"${Manifest.resolvedDataDir(spark, roots.curation, v)}/state")
      .as[(String, Long)].collect().toSet
    assert(Manifest.versions(spark, roots.curation) === Seq(0L, 1L))
    assert(state(0L) === Set(("s", 5L), ("t", 3L)))
    assert(state(1L) === Set(("s", 6L), ("t", 6L)))
  }

  test("inline index maintenance bounds segment counts, probes unchanged") {
    // r18 verdict item 3: the flagship appends to both indexes every
    // batch; annMaxSegments/invMaxSegments opt into compaction after
    // the commit. Two legs over the same 5 batches — maintained vs
    // not — must produce identical corpora and index probe results.
    def feed(roots: Curate.Roots, annMax: Int, invMax: Int): Unit =
      (0 until 5).foreach { i =>
        val base = 10L * (i + 1)
        Curate.runBatch(spark, roots,
          docs((base, "s", s"alpha beta doc$i"),
               (base + 1L, "t", s"gamma delta doc$i")),
          embs(base, base + 1L),
          qualityFloor = 0.0, budgetPerSource = 10000L,
          annMaxSegments = annMax, invMaxSegments = invMax)
      }
    val plain = Curate.tempRoots("curate-spec-nomaint")
    val maint = Curate.tempRoots("curate-spec-maint")
    feed(plain, 0, 0)
    feed(maint, 2, 2)
    // unmaintained: one segment per accepting batch; maintained: the
    // policy folded them down to <= maxSegments (compaction output
    // can exceed it only until the NEXT trigger; here it compacts on
    // crossing 2 -> the tail is bounded)
    assert(graft.sources.AnnIndex.catalogOf(spark, plain.ann).size === 5)
    assert(graft.sources.InvertedIndex.catalogOf(spark, plain.inv).size === 5)
    assert(graft.sources.AnnIndex.catalogOf(spark, maint.ann).size <= 2)
    assert(graft.sources.InvertedIndex.catalogOf(spark, maint.inv).size <= 2)
    // corpora identical
    assert(Curate.readCorpus(spark, maint)
      .as[(Long, String, Double)].collect().toSet ===
      Curate.readCorpus(spark, plain)
        .as[(Long, String, Double)].collect().toSet)
    // probes byte-identical across legs
    val terms = Seq("alpha", "gamma")
    def bm(r: Curate.Roots) = graft.sources.InvertedIndex
      .probe(spark, r.inv, terms, 10)
      .select("doc_id", "score", "rk")
      .as[(Long, Double, Int)].collect().toSet
    assert(bm(maint) === bm(plain))
    def ann(r: Curate.Roots) = graft.sources.AnnIndex
      .probe(spark, r.ann, embs(10L, 21L), k = 3, nprobe = 4)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(ann(maint) === ann(plain))
    // replay of a maintained-leg batch is still detected (compaction
    // versions carry their own notes; batch notes stay visible)
    val before = Manifest.versions(spark, maint.curation).size
    Curate.runBatch(spark, maint,
      docs((10L, "s", "alpha beta doc0"), (11L, "t", "gamma delta doc0")),
      embs(10L, 11L), qualityFloor = 0.0, budgetPerSource = 10000L,
      annMaxSegments = 2, invMaxSegments = 2)
    assert(Manifest.versions(spark, maint.curation).size === before)
  }

  test("degenerate batches: all ledger duplicates, or all below the quality floor") {
    val roots = Curate.tempRoots("curate-spec-degen")
    def catalog(v: Long) = spark.read.parquet(
        s"${Manifest.resolvedDataDir(spark, roots.curation, v)}/catalog")
      .select("kind", "segment", "n_rows").as[(String, String, Long)]
      .collect().toSet
    def indexVersions =
      (Manifest.currentVersion(spark, roots.ann),
       Manifest.currentVersion(spark, roots.inv))
    val v0 = Curate.runBatch(spark, roots,
      docs((1L, "s", "aaaa"), (2L, "t", "bbbb")), embs(1L, 2L),
      qualityFloor = 0.5, budgetPerSource = 100L)
    val idx0 = indexVersions
    assert(idx0 === (Some(0L), Some(0L)))
    // every doc repeats a ledger fp: no fresh row, so neither a corpus
    // nor a ledger segment, and both indexes stay where they were
    val dups = docs((11L, "s", "aaaa"), (12L, "t", "bbbb"))
    val v1 = Curate.runBatch(spark, roots, dups, embs(11L, 12L),
      qualityFloor = 0.5, budgetPerSource = 100L)
    assert(v1 === v0 + 1)
    assert(catalog(v1) === catalog(v0))
    assert(indexVersions === idx0)
    // every doc is fresh but fails the floor: the ledger delta is
    // written, the corpus and both indexes are not
    val low = docs((21L, "s", "...."), (22L, "u", ",,,,"))
    val v2 = Curate.runBatch(spark, roots, low, embs(21L, 22L),
      qualityFloor = 0.5, budgetPerSource = 100L)
    val added = catalog(v2) -- catalog(v1)
    assert(added.map(t => (t._1, t._3)) === Set(("ledger", 2L)))
    assert(catalog(v1).subsetOf(catalog(v2)))
    assert(indexVersions === idx0)
    // replays of either batch find their version and touch nothing
    assert(Curate.runBatch(spark, roots, dups, embs(11L, 12L),
      qualityFloor = 0.5, budgetPerSource = 100L) === v1)
    assert(Curate.runBatch(spark, roots, low, embs(21L, 22L),
      qualityFloor = 0.5, budgetPerSource = 100L) === v2)
    assert(Manifest.versions(spark, roots.curation) === Seq(v0, v1, v2))
    assert(indexVersions === idx0)
    assert(Curate.readCorpus(spark, roots).count() === 2L)
  }

  test("each batch is one commit; meta pins index versions; empty batches commit") {
    val roots = Curate.tempRoots("curate-spec-ver")
    Curate.runBatch(spark, roots,
      docs((1L, "s", "aaaa"), (2L, "t", "bbbb")), embs(1L, 2L),
      qualityFloor = 0.5, budgetPerSource = 100L)
    // batch of pure duplicates: nothing accepted, indexes untouched,
    // but the batch still publishes (ledger idempotence + audit trail)
    Curate.runBatch(spark, roots,
      docs((11L, "s", "aaaa")), embs(11L),
      qualityFloor = 0.5, budgetPerSource = 100L)
    Curate.runBatch(spark, roots,
      docs((21L, "u", "cccc")), embs(21L),
      qualityFloor = 0.5, budgetPerSource = 100L)
    assert(Manifest.versions(spark, roots.curation) === Seq(0L, 1L, 2L))
    val metas = Manifest.versions(spark, roots.curation).map { v =>
      val m = spark.read.parquet(
        s"${Manifest.resolvedDataDir(spark, roots.curation, v)}/meta")
        .select("ann_version", "inv_version").head()
      (m.getLong(0), m.getLong(1))
    }
    // empty batch 1 pins batch 0's index versions; batch 2 appends
    assert(metas(0) === metas(1))
    assert(metas(2)._1 > metas(1)._1 && metas(2)._2 > metas(1)._2)
    assert(Curate.readCorpus(spark, roots).count() === 3L)
  }
}
