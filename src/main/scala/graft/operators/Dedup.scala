package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, TextFunctions}
import graft.Decision

/** Deduplication family for training-data pipelines: exact, MinHash-LSH
  * (+ exact n-gram-Jaccard verification), SimHash, and embedding-cosine
  * near-dup.
  *
  * Scale design: every candidate-generation step is LSH-bucketed so the
  * self-join is on (band/chunk/bucket) keys — never an O(n²) cross
  * join. Exact verification (jaccard / hamming / cosine) runs only
  * inside buckets. All signatures are built from `xxhash64` digests —
  * by native codegen'd expressions (graft.functions.expressions) or
  * built-in ones, no UDFs — deterministic across runs and engines.
  */
object Dedup {

  // ------------------------------------------------------------- exact

  /** Exact dedup via normalized-text fingerprint: one group per
    * distinct content, keeper = min doc_id (deterministic). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_docs"))

  /** Incremental exact dedup against a persisted fingerprint LEDGER —
    * the 100 TB ingestion reality: the corpus is deduped ONCE and each
    * arriving batch dedupes against the accumulated fingerprints
    * WITHOUT rescanning history. Within-batch keep-one first (min id
    * per fingerprint — the [[exact]] rule), then a left-anti join
    * against the ledger keyed on the fingerprint. The accepted rows'
    * fingerprints ARE the ledger delta — the caller appends them
    * (atomically via [[graft.sources.Manifest]]) for the next batch.
    *
    * Scale: the ledger is fingerprint-sized (one 32-char key per
    * distinct document ever seen), not corpus-sized; the join keys on
    * `fp`, so a ledger bucketed on fp ([[graft.sources.Lake]]
    * machinery) co-locates batch after batch without re-exchanging
    * the accumulated side. One batch groupBy + one equi-join. */
  def incrementalExact(newDocs: DataFrame, idCol: String, textCol: String,
                       ledger: DataFrame): DataFrame = {
    val batchKeepers = newDocs
      .groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_batch_dups"))
    batchKeepers.join(ledger.select(col("fp")), Seq("fp"), "left_anti")
  }

  // ------------------------------------------------------- minhash-LSH

  /** Distinct word n-gram shingles of the normalized text. Documents
    * shorter than n shingle to their whole text. (Debug/reference
    * form — the hot path uses the native
    * [[graft.functions.expressions.WordShingleHashes]], which never
    * materializes shingle strings.) */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(TextFunctions.normalize(text), " ")
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** k-permutation MinHash signature via double hashing: only TWO
    * string hashes per shingle; permutation j is h1 ^ rotl(h2, j) —
    * pure bitwise mixing, computed by the native codegen'd
    * MinHashSignature expression in one fused pass. */
  def minhashSignatureFromHashes(h1: Column, h2: Column,
                                 numHashes: Int): Column =
    graft.functions.GraftFunctions.minhashSignature(h1, h2, numHashes)

  /** Band hashes for LSH: signature split into `bands` bands of `rows`
    * hashes; docs sharing any band hash become candidates. */
  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(lit(b), slice(sig, b * rows + 1, rows))): _*)

  /** Banding for [[minhashPairs]] that meets `targetRecall` at jaccard
    * `tau` within a signature budget, rows as long as possible (same
    * construction as [[bandingFor]] — a MinHash band of r hashes
    * matches w.p. jʳ, any of b bands w.p. 1-(1-jʳ)ᵇ). Returns
    * (numHashes, bands): numHashes = bands·rows ≤ maxHashes. Longer
    * signatures buy fewer false candidates at equal recall but cost
    * one 64-bit mix per hash per shingle at signature time. */
  def minhashBandingFor(tau: Double, targetRecall: Double = 0.9,
                        maxHashes: Int = 64): (Int, Int) = {
    require(tau > 0 && tau < 1 && targetRecall > 0 && targetRecall < 1)
    (maxHashes to 1 by -1).iterator.map { rows =>
      val bands = maxHashes / rows
      (bands, rows, 1.0 - math.pow(1.0 - math.pow(tau, rows), bands))
    }.collectFirst { case (b, r, recall) if recall >= targetRecall =>
      (b * r, b)
    }.getOrElse((maxHashes, maxHashes)) // 1-hash bands: max recall
  }

  // --------------------------------------------------- banded-LSH pairs

  /** Exact-duplicate collapse, the first step of every banded pair
    * operator (and of [[SemDedup]]): ONE window over the dedup `key`
    * gives every row of `rows` (which carries `id` and `key`) its
    * group id `gid` (the min id) and group size `n_dups`. A keeper
    * (id = gid) stands for its group; one with `n_dups` > 1 heads a
    * duplicate group. Copies share every band, so without the collapse
    * candidate volume is QUADRATIC in duplicate depth (a 1000-deep dup
    * cluster inflates its candidates 10⁶×); LSH runs on keepers and
    * pairs expand back through the groups at the end. Output: (id,
    * gid, n_dups, `cols`…), checkpointed: it materializes once AND
    * truncates lineage, so every AQE stage re-optimizes a leaf scan
    * instead of the full window plan (plain .cache() left concurrent
    * readers serialized on the cache-population lock, ~0.5 s of
    * zero-CPU wait per stage). */
  private[operators] def collapse(rows: DataFrame, key: String,
                                  cols: Column*): DataFrame = {
    val wnd = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    rows.withColumn("gid", min("id").over(wnd))
      .withColumn("n_dups", count(lit(1)).over(wnd))
      .select(Seq(col("id"), col("gid"), col("n_dups")) ++ cols: _*)
      .localCheckpoint()
  }

  private def keepers(members: DataFrame): DataFrame =
    members.where(col("id") === col("gid"))

  /** A [[collapse]]d corpus ready for the band join: its `members` and
    * one `banded` row per keeper and band, (id, the band source,
    * band_idx, band_val). */
  private final case class Banded(members: DataFrame, banded: DataFrame)

  /** How a banded operator verifies a candidate (ga, gb): `score` of
    * the two keepers' `payload` columns, named `name`, kept where
    * `keep` holds. `dupScore`, over a keeper's own columns, scores the
    * pairs inside its duplicate group. */
  private final case class PairScore(name: String, payload: String,
                                     score: (Column, Column) => Column,
                                     keep: Column => Column, dupScore: Column)

  /** Band join condition of banded rows `a` and `b`: they meet at band
    * `band_idx` and at no lower band, so a candidate pair appears once,
    * at its first shared band, and needs no `distinct`. `bandAt(side,
    * j)` recomputes band j of a side's row from its band source; the
    * lower bands are compared position by position (band j of `a`
    * against band j of `b`), unrolled over the constant band count —
    * no lambda — so an equal band value at two different positions
    * never hides a pair. */
  private[graft] def firstSharedBand(a: String, b: String, bands: Int,
                                     bandAt: (String, Int) => Column): Column =
    (0 until bands - 1).foldLeft(
      col(s"$a.band_idx") === col(s"$b.band_idx") &&
        col(s"$a.band_val") === col(s"$b.band_val")) { (c, j) =>
      c && (col(s"$a.band_idx") <= j || bandAt(a, j) =!= bandAt(b, j))
    }

  /** Band j of a 64-bit signature cut into `rows`-bit bands, `rows` in
    * 1..64. The mask is an unsigned shift: `(1L << 64) - 1` would be 0,
    * since Java takes shift counts mod 64. */
  private def bitBand(sig: Column, j: Int, rows: Int): Column =
    shiftright(sig, j * rows).bitwiseAND(lit(-1L >>> (64 - rows)))

  /** `bandAt` of [[firstSharedBand]] for rows from [[bitBanded]]. */
  private[graft] def bitBandAt(sig: String, rows: Int): (String, Int) => Column =
    (side, j) => bitBand(col(s"$side.$sig"), j, rows)

  /** One row per band of the 64-bit signature `sig` of every row of
    * `df`: (id, sig, band_idx, band_val). */
  private[graft] def bitBanded(df: DataFrame, sig: String, bands: Int,
                               rows: Int): DataFrame =
    df.select(col("id"), col(sig),
      posexplode(array((0 until bands).map(bitBand(col(sig), _, rows)): _*))
        .as(Seq("band_idx", "band_val")))

  /** Steps 2-4 of every banded-LSH pair operator, after [[collapse]]:
    *
    *  2. Band join of `a`'s keepers against `b`'s, or against
    *     themselves with ids ordered (`b` = None), on
    *     [[firstSharedBand]] and the operator's cheap `prefilter`. It
    *     is corpus-sized on BOTH sides, so it is pinned sort-merge
    *     (spillable; a stats-driven broadcast of a small test-scale
    *     input would also hide the scale plan from the plan guards).
    *  3. Verify, one row per candidate. A payload the banded rows
    *     carry (the simhash signature) scores inside the band join;
    *     any other attaches through shuffled-hash joins whose build
    *     side is the PAIR stream, bounded by the near-dup rate since
    *     exact dups are collapsed, while the corpus payload streams
    *     past: it moves once per pair side, is never sorted, and is
    *     never broadcast (O(corpus) per executor, OOM at 100 TB). The
    *     build side must fit executor memory per partition, so a
    *     corpus whose cross-group near-dup pairs approach O(corpus)
    *     is outside this plan's range.
    *  4. Expand group pairs to member pairs through two shuffled-hash
    *     joins (the pair stream builds, the corpus-sized member table
    *     streams). Self pairs first union the (gid, gid) pair of every
    *     duplicate group, scored `dupScore`, so within-group pairs fall
    *     out of the same joins instead of a separate corpus×corpus
    *     self-join, and then re-order the ids, which cross-group pairs
    *     can interleave. Across pairs are corpus-qualified by
    *     construction.
    *
    * Output: (`out`._1, `out`._2, `v`.name). */
  private def bandedPairs(a: Banded, b: Option[Banded], bands: Int,
                          bandAt: (String, Int) => Column, v: PairScore,
                          out: (String, String),
                          prefilter: Column = lit(true)): DataFrame = {
    val other = b.getOrElse(a)
    val ordered = if (b.isEmpty) col("a.id") < col("b.id") else lit(true)
    val cands = a.banded.as("a")
      .join(other.banded.as("b").hint("merge"),
        firstSharedBand("a", "b", bands, bandAt) && ordered && prefilter)
    val ids = Seq(col("a.id").as("ga"), col("b.id").as("gb"))
    val scored =
      if (a.banded.columns.contains(v.payload))
        cands.select(ids :+ v.score(col(s"a.${v.payload}"),
                                    col(s"b.${v.payload}")).as(v.name): _*)
      else {
        def payload(s: Banded, p: String) =
          keepers(s.members).select(col("id"), col(v.payload).as(p))
        cands.select(ids: _*)
          .hint("shuffle_hash")
          .join(payload(a, "p_a"), col("ga") === col("id")).drop("id")
          .hint("shuffle_hash")
          .join(payload(other, "p_b"), col("gb") === col("id")).drop("id")
          .select(col("ga"), col("gb"), v.score(col("p_a"), col("p_b")).as(v.name))
      }
    val verified = scored.where(v.keep(col(v.name)))
    def groups(s: Banded, g: String, id: String) =
      s.members.select(col("gid").as(g), col("id").as(id))
    if (b.isDefined)
      verified
        .hint("shuffle_hash").join(groups(a, "ga", out._1), "ga")
        .hint("shuffle_hash").join(groups(other, "gb", out._2), "gb")
        .select(col(out._1), col(out._2), col(v.name))
    else {
      val dups = keepers(a.members).where(col("n_dups") > 1)
        .select(col("gid").as("ga"), col("gid").as("gb"), v.dupScore.as(v.name))
        .where(v.keep(col(v.name)))
      verified.union(dups)
        .hint("shuffle_hash").join(groups(a, "ga", "ida"), "ga")
        .hint("shuffle_hash").join(groups(a, "gb", "idb"), "gb")
        .where(col("ga") =!= col("gb") || col("ida") < col("idb"))
        .select(least(col("ida"), col("idb")).as(out._1),
                greatest(col("ida"), col("idb")).as(out._2), col(v.name))
    }
  }

  // ----------------------------------------------------- minhash pairs

  /** [[collapse]]d minhash side, keyed on the 128-bit content
    * fingerprint. Keepers carry the two independent shingle-hash
    * families (double hashing), guarded by `when` so the native
    * [[graft.functions.expressions.WordShingleHashes]] kernel runs on
    * keepers only and non-keepers carry null. The text is normalized
    * ONCE, in the parallel scan stage: the fingerprint hashes it there
    * and the normalized text (not the raw one) crosses the window
    * shuffle to feed the kernel. Each keeper's banded rows carry its
    * band-hash array, the band source of [[firstSharedBand]]. */
  private def minhashBanded(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, numHashes: Int, bands: Int): Banded = {
    val keeper = col("id") === col("gid")
    val mem = collapse(
      docs.select(col(idCol).as("id"),
          TextFunctions.normalize(col(textCol)).as("norm"))
        .withColumn("fp", TextFunctions.normalizedFingerprint(col("norm"))),
      "fp",
      when(keeper, GraftFunctions.wordShingleHashes(col("norm"), n, 0)).as("sh1"),
      when(keeper, GraftFunctions.wordShingleHashes(col("norm"), n, 1)).as("sh2"))
    val banded = keepers(mem)
      .select(col("id"), bandHashes(
        minhashSignatureFromHashes(col("sh1"), col("sh2"), numHashes),
        bands, numHashes / bands).as("bands"))
      .select(col("id"), col("bands"),
        posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    Banded(mem, banded)
  }

  /** `bandAt` of [[firstSharedBand]] for [[minhashBanded]] rows. */
  private val bandItem: (String, Int) => Column =
    (side, j) => col(s"$side.bands").getItem(j)

  /** Jaccard over shingle-hash SETS (intersect/union dedupe) — equal to
    * string-shingle jaccard modulo 64-bit collisions; jaccard on
    * ~70-element arrays costs ~µs per pair, which is why it runs once
    * per candidate. Exact dups are jaccard 1.0 by construction. */
  private def jaccardAtLeast(tau: Double): PairScore =
    PairScore("jaccard", "sh1",
      (a, b) => size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double"),
      _ >= tau, lit(1.0))

  /** Near-duplicate pairs: MinHash-LSH candidates verified with exact
    * n-gram Jaccard >= tau. Output: (doc_a, doc_b, jaccard).
    *
    * Default params: 16 hashes in 4 bands of 4 — band-match probability
    * j^4 per band (j=jaccard): ~0.66 any-band at j=0.6, >0.99 at
    * j=0.9, while 4-hash bands keep false candidates ~j^4-rare (r=3
    * bands over a small-vocab corpus produced quadratic candidate
    * explosions). */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                   tau: Double = 0.6): DataFrame =
    bandedPairs(minhashBanded(docs, idCol, textCol, n, numHashes, bands), None,
      bands, bandItem, jaccardAtLeast(tau), ("doc_a", "doc_b"))

  /** Cross-corpus near-dup pairs: every (docA, docB) with n-gram
    * jaccard >= tau where docA ∈ docsA and docB ∈ docsB — the
    * dedupe-new-crawl-against-existing-corpus operator. Output:
    * (doc_a from A, doc_b from B, jaccard).
    *
    * The scale point of a DEDICATED cross operator: the banded join is
    * A-bands ⋈ B-bands, so the (typically huge, already-deduped)
    * corpus side never self-joins — tagging both sides into
    * [[minhashPairs]] would pay the full A×A candidate volume just to
    * filter it away. Exact-dup collapse runs per side (same
    * quadratic-in-dup-depth argument); a group duplicated ACROSS the
    * corpora needs no special case — identical texts hash to identical
    * signatures, share every band, and verify at jaccard 1.0. Both
    * sides' id spaces may overlap freely (pairs are corpus-qualified
    * by construction, no id-ordering trick needed). */
  def minhashPairsAcross(docsA: DataFrame, docsB: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                         tau: Double = 0.6): DataFrame =
    bandedPairs(minhashBanded(docsA, idCol, textCol, n, numHashes, bands),
      Some(minhashBanded(docsB, idCol, textCol, n, numHashes, bands)),
      bands, bandItem, jaccardAtLeast(tau), ("doc_a", "doc_b"))

  // ------------------------------------------------------------ simhash

  /** 64-bit SimHash over whitespace tokens: one xxhash64 per token,
    * then the native codegen'd SimHash64 expression (single pass,
    * 64-int vote table, no allocation). Bit set ⇔ more than half the
    * tokens have that hash bit set. */
  def withSimhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        transform(split(TextFunctions.normalize(col(textCol)), " "),
          t => xxhash64(t)).as("hashes"))
      .select(col("id"),
        graft.functions.GraftFunctions.simhash(col("hashes")).as("simhash"))

  /** Near-dup pairs with hamming(simhash) <= maxHamming. Pigeonhole
    * bucketing: 4 16-bit chunks — any pair within hamming 3 shares at
    * least one chunk, so candidates come from a chunk-equality join.
    *
    * Sensitivity on real text, measured (SCALE100.md, "SimHash
    * sensitivity on real text"; sf0.1 corpus, docs >= 32 tokens, j
    * tokens replaced at even spacing):
    * recall at maxHamming=3 is ~0.86 / 0.65 / 0.40 / 0.18 / 0.04 for
    * j = 1 / 2 / 4 / 8 / 16. The 64-bit signature with a hamming-3
    * cut is a NEAR-EXACT duplicate detector (boilerplate, trivial
    * re-hosting edits) — for paraphrase-level fuzziness use
    * [[minhashPairs]], whose banding is recall-tunable; widening
    * maxHamming past 3 here would also break the 4-chunk pigeonhole's
    * completeness guarantee. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    simhashPairsFromSigs(withSimhash(docs, idCol, textCol), maxHamming)

  /** The chunk join + exact hamming verify over a precomputed
    * (id, simhash) table — split out so the machinery is testable on
    * PLANTED signatures: the production signature (SimHash64 over
    * xxhash64 token hashes) has no SQL twin, but signatures built from
    * plain arithmetic are bit-exactly recomputable in the DuckDB
    * oracle, which can then check this join end-to-end against an
    * exhaustive all-pairs hamming scan (`dedup_simhash_sound`). At
    * maxHamming <= 3 the 4-chunk pigeonhole is COMPLETE (any pair
    * within hamming 3 agrees on >= 1 chunk), so the gate demands
    * recall 1.0, not a probabilistic bound.
    *
    * Identical signatures collapse first, and with a sharper twist
    * than the minhash/embedding collapse: the signature IS the dedup
    * key, so collapsing by it is lossless — a member's hamming to ANY
    * signature equals its group signature's hamming, making the
    * expansion exact, not approximate. Duplicate-heavy corpora make
    * this the difference between the chunk join seeing O(distinct
    * sigs) and O(corpus) rows: measured at the 100× derived set (500k
    * docs in 100-deep dup groups), the uncollapsed join ran 25 s with
    * 6.9 GB spilled — quadratic member pairing in every chunk bucket.
    * The hamming of two longs is ~free, so it is computed and filtered
    * inside the chunk join. */
  def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val mem = collapse(sigs.select(col("id"), col("simhash")), "simhash",
      col("simhash"))
    bandedPairs(Banded(mem, bitBanded(keepers(mem), "simhash", 4, 16)), None,
      4, bitBandAt("simhash", 16),
      PairScore("hamming", "simhash", (a, b) => bit_count(a.bitwiseXOR(b)),
        _ <= maxHamming, lit(0)),
      ("doc_a", "doc_b"))
  }

  // ------------------------------------------------ cluster resolution

  /** Unpersist the block-manager blocks behind a localCheckpoint'd
    * frame (no-op for anything else). Checkpoint blocks are NOT freed
    * by `spark.catalog.clearCache()`, so iterative operators must
    * release each round's blocks themselves or a long-lived session
    * accrues block-manager state without bound. */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Run `body` with constraint propagation OFF, as the iterative
    * components loops need: localCheckpoint captures the origin plan's
    * `constraints` into the LogicalRDD (LogicalRDD.fromDataset →
    * rewriteStatsAndConstraints), and under chained checkpoints the
    * captured set can reference attributes of an EARLIER round's
    * LogicalRDD — the next round's Union then dies in
    * UnionBase.rewriteConstraints (`key not found: id#…`). With the
    * flag off the capture is skipped at the source. Nothing is lost:
    * every join in those loops is a bare equi-join on non-null ids —
    * there are no filters for InferFiltersFromConstraints to derive. */
  private def withoutConstraintPropagation(pairs: DataFrame)(
      body: => DataFrame): DataFrame = {
    val sess = pairs.sparkSession
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val cpSaved = sess.conf.get(cpKey, "true")
    sess.conf.set(cpKey, "false")
    try body finally sess.conf.set(cpKey, cpSaved)
  }

  /** Connected components over a near-dup pair graph — the step that
    * turns pairwise matches (minhash/simhash/cosine output) into
    * dedup groups with one keeper each. Iterative min-label
    * propagation: every round is one equi-join + partial-agg groupBy
    * (both shuffle on id), converging in O(graph diameter) rounds —
    * dup clusters are shallow, so a handful. localCheckpoint truncates
    * lineage each round so plans don't stack; the driver only ever
    * sees a scalar convergence count, never row data. (At web scale
    * the same per-round plan shape upgrades to large-star/small-star
    * to also bound the max label-list per node.)
    *
    * Output: (doc_id, cluster_rep) for every node of the pair graph,
    * rep = min id in the component. */
  def clusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    withoutConstraintPropagation(pairs)(clustersImpl(pairs, aCol, bCol))

  private def clustersImpl(pairs: DataFrame, aCol: String,
                           bCol: String): DataFrame = {
    // both directions from ONE pass over the pair stream (explode, not
    // a self-union — the union form evaluated the caller's pair plan
    // twice, and candidate generation is usually the expensive part)
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().localCheckpoint()
    // min-propagation labels only ever DECREASE, so the fixpoint test
    // is one scalar: Σrep is stable ⇔ no label moved. (The former
    // new-vs-old join + count spent an extra join job per round on the
    // same answer.) DECIMAL(38) sum — an id-magnitude Σ over a web-
    // scale graph overflows BIGINT's 9.2e18 under ANSI mode; coalesce
    // to 0 so an EMPTY pair graph (sum → NULL) converges instead of
    // NPE-ing.
    def repSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("rep").cast("decimal(38,0)")),
                      lit(0).cast("decimal(38,0)"))).head.getDecimal(0)
    // initial labels stay LAZY: round 1's eager `prop` checkpoint
    // materializes them (exchange reuse dedupes the distinct under the
    // union), and `prev = null` skips the meaningless round-0 sum —
    // two fewer jobs than checkpoint-then-sum, and a min-propagation
    // sum can't falsely converge on round 1 against a null sentinel.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("rep", col("id"))
    var prev: java.math.BigDecimal = null
    var converged = false
    while (!converged) {
      val prop = edges.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("rep"))
        .union(labels)
        .groupBy("id").agg(min("rep").as("rep"))
        .localCheckpoint() // EAGER, for two reasons: (1) the jump join
        // below references prop on BOTH sides — lazy, its join+union+
        // groupBy would run twice per round; (2) self-joining the lazy
        // checkpoint of a Union plan crashes Catalyst's attribute
        // dedup (`key not found: id#…` in UnionBase.rewriteConstraints
        // — the LogicalRDD carries the union's origin constraints).
        // Eager materialization makes both sides plain RDD-leaf scans.
      // pointer jump (path doubling): rep := label(rep). Every rep is
      // itself a labeled node, and label(x) <= x under min-propagation,
      // so one extra self-join per round compresses label chains
      // exponentially — O(log diameter) rounds instead of O(diameter),
      // which is the difference between 5 and 30+ shuffle rounds on the
      // long chains real near-dup graphs contain.
      val jumped = prop.as("p")
        .join(prop.select(col("id").as("rid"), col("rep").as("rrep")).as("q"),
              col("p.rep") === col("q.rid"))
        .select(col("p.id").as("id"), col("rrep").as("rep"))
        .localCheckpoint(eager = false) // the convergence sum is the
        // action that materializes it — one job, not two
      val cur = repSum(jumped)
      // previous round's blocks are dead once `jumped` is materialized
      // (round 1's lazy initial labels are not a checkpoint — no-op)
      freeCheckpoint(labels)
      freeCheckpoint(prop)
      converged = prev != null && cur.compareTo(prev) == 0
      prev = cur
      labels = jumped
    }
    labels.select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
  }

  /** Degree-bounded connected components: alternating large-star /
    * small-star rounds (the MapReduce CC construction of Kiveris et
    * al., re-expressed as two partial-agg groupBys + joins per round).
    * Same output contract as [[clusters]].
    *
    * Why a second algorithm: min-label + pointer jumping converges in
    * O(log diameter) rounds, but a planted high-degree star (one doc
    * near-dup to 10⁵ others — crawl boilerplate does this) funnels the
    * hot node's whole edge list through single join partitions every
    * round. The star rounds move edges THEMSELVES toward the component
    * min: each node's per-round contribution is (its current degree)
    * rows into a `min` aggregate — partial-aggregated map-side, so no
    * task ever materializes a neighbor LIST — and both rewrites only
    * ever replace an endpoint with a smaller one, so the
    * Σ(lo+hi)-over-distinct-edges convergence scalar strictly
    * decreases until the fixpoint (every component a star rooted at
    * its min id — the paper's invariant). Large-star hangs larger
    * neighbors directly under the local min, which SPLITS a hot hub's
    * edge mass across its component instead of re-concentrating it.
    *
    * Round cost: 2 groupBy + 2 join shuffles vs the jump loop's 1+2 —
    * prefer [[clusters]] for ordinary shallow dup graphs; use this
    * when components with super-node hubs are expected. */
  def clustersStar(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    withoutConstraintPropagation(pairs)(clustersStarImpl(pairs, aCol, bCol))

  private def clustersStarImpl(pairs: DataFrame, aCol: String,
                               bCol: String): DataFrame = {
    def edgeSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum((col("lo") + col("hi")).cast("decimal(38,0)")),
                      lit(0).cast("decimal(38,0)"))).head.getDecimal(0)
    // canonical undirected edges, self-loops dropped
    var edges = pairs
      .select(least(col(aCol), col(bCol)).as("lo"),
              greatest(col(aCol), col(bCol)).as("hi"))
      .where(col("lo") =!= col("hi"))
      .distinct().localCheckpoint()
    var prev: java.math.BigDecimal = null
    var converged = false
    while (!converged) {
      // large-star: for each node u, m(u) = min(Γ(u) ∪ {u}); every
      // neighbor v > u re-hangs onto m(u). A canonical edge (lo, hi)
      // is emitted only from its lo side (hi > lo always), so one
      // join against the per-node mins rewrites the whole set.
      val bi = edges.select(explode(array(
          struct(col("lo").as("u"), col("hi").as("v")),
          struct(col("hi").as("u"), col("lo").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val minsL = bi.groupBy("u") // partial-agg: no neighbor lists
        .agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = edges.join(minsL, edges("lo") === minsL("u"))
        .select(col("m").as("lo"), col("hi")) // m <= lo < hi: canonical
        .distinct()
      // small-star: per node u over its SMALLER neighbors Γ⁻(u),
      // m = min(Γ⁻(u)); u and every smaller neighbor re-hang onto m.
      val minsS = ls.groupBy("hi").agg(min("lo").as("m"))
      val ss = ls.join(minsS, "hi")
        .select(explode(array(
          struct(col("m").as("lo"), col("hi").as("hi")),
          struct(col("m").as("lo"), col("lo").as("hi")))).as("e"))
        .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
        .where(col("lo") =!= col("hi"))
        .distinct().localCheckpoint()
      val cur = edgeSum(ss)
      freeCheckpoint(edges)
      converged = prev != null && cur.compareTo(prev) == 0
      prev = cur
      edges = ss
    }
    // fixpoint = every component is a star rooted at its min id
    edges.select(col("hi").as("doc_id"), col("lo").as("cluster_rep"))
      .union(edges.select(col("lo").as("doc_id"), col("lo").as("cluster_rep")))
      .distinct()
  }

  /** Degree cutoff above which [[clustersAuto]] prefers the star
    * algorithm. Conservative on purpose: at 10× scale star costs about
    * the same as the jump loop on shallow graphs (1.2 s vs 1.15 s,
    * BENCH_r06), so mis-routing a benign graph to star is nearly free,
    * while routing a super-node graph to the jump loop concentrates
    * the hub's whole edge list in single join partitions every round. */
  private final val AutoStarMaxDegree = 10000L

  /** MEAN-degree cutoff above which [[clustersAuto]] prefers star even
    * without a hub. Dense graphs are where star's partial aggregation
    * pays: each round's `min` compresses the edge stream to one row
    * per node BEFORE the shuffle, while the jump loop must shuffle-join
    * the full edge list against the label table every round — edge
    * mass that dense dup-cliques make quadratic in group depth.
    * Measured at the 100× derived corpus (27.3M edges / 500k nodes =
    * mean degree 109, max only ~200): star 15.1 s with ZERO spill vs
    * jump 25.0 s spilling 6.5 GB mem + 0.8 GB disk (SCALE100.md). At
    * mean degree ~1.2 (1× pair graph) they tie. The cutoff sits well
    * inside that bracket, biased low because star's worst case is a
    * modest constant factor while jump's is executor spill. */
  private final val AutoStarMeanDegree = 16.0

  /** Auto-selecting connected components: measures the pair graph's
    * degree profile — maximum (hub concentration) and mean (edge
    * density) — and routes to star when either passes its cutoff.
    * Both stats come from one partial-agg groupBy over the
    * canonicalized distinct edge set: one shuffle, map-side combined,
    * cheap next to any CC round. The canonical edge set is
    * checkpointed once so the stat and the chosen algorithm share the
    * caller's candidate-generation work (usually the expensive part);
    * both CC impls eagerly materialize their own round state, so the
    * shared checkpoint is released before returning.
    *
    * The choice made is recorded as a `cc.route` [[graft.Decision]]
    * ("jump" | "star"; ScaleSpec pins the routing on a planted hub
    * graph). */
  def clustersAuto(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val canon = pairs
      .select(least(col(aCol), col(bCol)).as("lo"),
              greatest(col(aCol), col(bCol)).as("hi"))
      .where(col("lo") =!= col("hi"))
      .distinct().localCheckpoint()
    try {
      val deg = canon
        .select(explode(array(col("lo"), col("hi"))).as("u"))
        .groupBy("u").count()
        .agg(coalesce(max("count"), lit(0L)).as("mx"),
             coalesce(avg("count"), lit(0.0)).as("mean")).head
      val (maxDeg, meanDeg) = (deg.getLong(0), deg.getDouble(1))
      val useStar = maxDeg >= AutoStarMaxDegree || meanDeg >= AutoStarMeanDegree
      Decision.record(Decision("cc.route", if (useStar) "star" else "jump", 0, 0))
      if (useStar) clustersStar(canon, "lo", "hi")
      else clusters(canon, "lo", "hi")
    } finally freeCheckpoint(canon)
  }

  // -------------------------------------------------- embedding cosine

  /** Exact cosine between two float-array columns — the native
    * codegen'd DotProduct expression (sequential double accumulation,
    * engine-stable, no per-row allocation). Callers must have
    * registered GraftFunctions on the session. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine(a, b)

  /** Deterministic random hyperplanes (seeded) for sign-LSH. */
  private[graft] def hyperplanes(m: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(m)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: m sign bits of hyperplane dot products via
    * the native codegen'd SignBucket expression — one fused m×dim
    * loop per row. (Earlier forms — zip_with HOF, then aggregate over
    * graft_dot — were interpreted per plane AND carried the ~2000-
    * element plane literal through analysis in every plan copy,
    * ~1.4 s of cold-plan overhead per dedup/ANN query.) */
  def withBucket(embeddings: DataFrame, idCol: String, vecCol: String,
                 m: Int = 12, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket",
        graft.functions.GraftFunctions.signBucket(col("vec"), hyperplanes(m, dim)))
  }

  /** Banded sign-LSH: the m = bands*rows bucket bits split into bands;
    * vectors sharing ANY band value become candidates (OR-construction,
    * same shape as MinHash banding — recall tunable via bands/rows).
    * Vectors are NOT carried through the explode; join them back by id
    * so the banded shuffle moves only (id, band) pairs. */
  def bandedBuckets(embeddings: DataFrame, idCol: String, vecCol: String,
                    bands: Int, rows: Int, dim: Int): DataFrame =
    bitBanded(withBucket(embeddings, idCol, vecCol, bands * rows, dim),
      "bucket", bands, rows)

  /** Banding that fits the 64-bit sign bucket and meets `targetRecall`
    * at cosine `tau`, with rows as long as possible — longer rows mean
    * stricter bands, i.e. fewer false candidates per true pair, so the
    * best banding is the strictest one whose analytic any-band recall
    * still clears the target. Sign-LSH bit-collision probability at
    * cosine c is p = 1 - acos(c)/π; a band of r bits matches w.p. pʳ
    * and any of b bands w.p. 1-(1-pʳ)ᵇ. Callers who know their
    * operating point should still pass banding explicitly (the 8×8
    * default targets the high-cos dedup regime); this helper is for
    * moderate-tau sweeps where the default's recall sags — e.g.
    * tau=0.4 → (bands=16, rows=4, recall≈0.94) vs ≈0.18 under 8×8. */
  def bandingFor(tau: Double, targetRecall: Double = 0.9,
                 maxBits: Int = 64): (Int, Int) = {
    require(tau > -1 && tau < 1 && targetRecall > 0 && targetRecall < 1)
    val p = 1.0 - math.acos(tau) / math.Pi
    (maxBits to 1 by -1).iterator.map { rows =>
      val bands = maxBits / rows
      (bands, rows, 1.0 - math.pow(1.0 - math.pow(p, rows), bands))
    }.collectFirst { case (b, r, recall) if recall >= targetRecall => (b, r) }
      .getOrElse((maxBits, 1)) // widest possible; caller's target is
      // unreachable within maxBits (e.g. tau near -1) — 1-bit bands
      // maximize recall at the cost of candidate volume
  }

  /** [[embeddingCosinePairs]] with banding derived from tau via
    * [[bandingFor]] — same verification, recall-appropriate candidate
    * generation at any threshold. */
  def embeddingCosinePairsAuto(embeddings: DataFrame, idCol: String,
                               vecCol: String, tau: Double = 0.4,
                               targetRecall: Double = 0.9,
                               dim: Int = 64): DataFrame = {
    val (bands, rows) = bandingFor(tau, targetRecall)
    embeddingCosinePairs(embeddings, idCol, vecCol, tau, bands, rows, dim)
  }

  /** Embedding near-dup pairs: banded sign-LSH candidates verified with
    * exact cosine >= tau. Output: (id_a, id_b, cos).
    *
    * Default banding 8×8 uses the full 64-bit bucket and targets the
    * HIGH-cosine dedup regime: a true cos ≥ 0.9 pair shares a band
    * w.p. ≈ 0.93, while near-orthogonal background pairs (the bulk of
    * any real corpus) collide 2.5× less often than the former 5×6
    * (8/2⁸ vs 5/2⁶ expected bands) — a smaller candidate stream at
    * equal-or-better recall FOR NEAR-DUPS. It is NOT recall-optimal at
    * the default verification threshold tau=0.4: an any-band match at
    * cos = 0.4 happens w.p. ≈ 0.18 under 8×8 vs ≈ 0.28 under 5×6, so
    * callers sweeping for moderate-similarity pairs should pass wider,
    * shorter bands (e.g. bands=5, rows=6) and accept the larger
    * candidate volume. LSH recall here is probabilistic by design;
    * the exact-duplicate collapse is unaffected (recall 1.0 for
    * identical vectors regardless of banding). */
  def embeddingCosinePairs(embeddings: DataFrame, idCol: String,
                           vecCol: String, tau: Double = 0.4,
                           bands: Int = 8, rows: Int = 8,
                           dim: Int = 64): DataFrame =
    embeddingPairs(embeddings, None, idCol, vecCol, tau, bands, rows, dim)

  /** Cross-corpus embedding near-dup pairs: every (vecA, vecB) with
    * cosine >= tau where vecA ∈ embA and vecB ∈ embB — the vector
    * twin of [[minhashPairsAcross]], same scale argument: the banded
    * join is A-bands ⋈ B-bands, so the already-deduped corpus side
    * never self-joins. Exact-duplicate vectors collapse per side;
    * identical vectors across the corpora share every band and verify
    * at cos 1.0 (zero vectors verify NULL and drop, as in the batch
    * self-join operator). Output: (id_a from A, id_b from B, cos). */
  def embeddingCosinePairsAcross(embA: DataFrame, embB: DataFrame,
                                 idCol: String, vecCol: String,
                                 tau: Double = 0.4,
                                 bands: Int = 8, rows: Int = 8,
                                 dim: Int = 64): DataFrame =
    embeddingPairs(embA, Some(embB), idCol, vecCol, tau, bands, rows, dim)

  /** The banded pairs of [[embeddingCosinePairs]] (`embB` = None) and
    * [[embeddingCosinePairsAcross]]: vectors collapse on their value,
    * keepers band their sign bucket, and cosine verifies, with the
    * codegen'd dot, the candidates that pass a free prefilter — the
    * bucket hamming, which rides along with the banded rows (one
    * long). cos >= tau pairs flip each bit with p = acos(tau)/π, so
    * diff-bits ~ Binomial(m, p); the cut sits at mean + 4σ, a
    * statistical bound (≈3e-5 miss rate), not the bare expectation,
    * which would shave ~4% of true pairs. A duplicate group's pairs
    * score cos(v, v): 1.0 for any nonzero vector and NULL (dropped)
    * for a zero vector, exactly as uncollapsed pairs would verify. */
  private def embeddingPairs(embA: DataFrame, embB: Option[DataFrame],
                             idCol: String, vecCol: String, tau: Double,
                             bands: Int, rows: Int, dim: Int): DataFrame = {
    graft.functions.GraftFunctions.register(embA.sparkSession)
    def side(emb: DataFrame): Banded = {
      val mem = collapse(emb.select(col(idCol).as("id"), col(vecCol).as("vec")),
        "vec", col("vec"))
      Banded(mem, bandedBuckets(keepers(mem), "id", "vec", bands, rows, dim))
    }
    val m = bands * rows
    val p = math.acos(tau) / math.Pi
    val maxDiffBits =
      math.ceil(m * p + 4.0 * math.sqrt(m * p * (1 - p))).toInt
    bandedPairs(side(embA), embB.map(side), bands, bitBandAt("bucket", rows),
      PairScore("cos", "vec", cosine, _ >= tau, cosine(col("vec"), col("vec"))),
      ("id_a", "id_b"),
      bit_count(col("a.bucket").bitwiseXOR(col("b.bucket"))) <= maxDiffBits)
  }

  // ----------------------------------------------------- containment

  /** Asymmetric containment pairs: (a, b) where at least
    * `minNum/minDen` of A's rare tokens also occur in B — the
    * doc-inside-doc signal symmetric Jaccard misses (a short quote
    * fully contained in a long article has tiny Jaccard but
    * containment ≈ 1). Vocabulary is first capped at RELATIVE
    * document frequency ≤ `dfNum/dfDen` of the corpus: corpus-frequent
    * tokens ("the", boilerplate) carry no containment signal AND are
    * what makes a token equi-join quadratic — a token in k docs
    * yields k² candidate pairs. The cap must be relative, not
    * absolute: over a bounded vocabulary every token's df grows with
    * corpus size, so a fixed cutoff silently empties the joinable
    * vocabulary as data grows (found at sf0.1 — the triangle
    * weight-cut lesson, mirrored). Both numerator and denominator
    * range over the capped vocabulary, so the metric is well-defined
    * on what was actually joined. Both thresholds compare in integers
    * (df·dfDen ≤ nDocs·dfNum; shared·minDen ≥ |A|·minNum) — no float
    * boundary; the reported containment double is one division of two
    * exact ints, bit-stable cross-engine.
    *
    * Two scale bounds keep the token equi-join from going quadratic
    * on exactly the corpora this operator targets (r8 verdict):
    *
    *  1. **Exact-dup collapse first** (the minhash-family discipline,
    *     [[minhashPairs]]): identical normalized texts have identical
    *     rare-token sets, so containment is a group-level fact.
    *     Candidates are generated between UNIQUE texts only; member
    *     pairs expand back through two joins at the end, and
    *     within-group pairs emit directly at containment 1.0. Without
    *     this, a d-deep duplicate group pairs d²-fold through every
    *     shared rare token. df keeps full-corpus semantics by
    *     weighting each unique text with its group size — results are
    *     bit-identical to the uncollapsed formulation.
    *
    *  2. **k-rarest probe tokens** (`maxJoinTokens`, default 16): the
    *     relative df cap still admits tokens with df = O(corpus)
    *     (candidate volume Σ df² ≈ 0.04·n² per admitted token at the
    *     default 1/5 cap). So only each doc's `maxJoinTokens` RAREST
    *     in-vocab tokens (ranked by global df, token text as the
    *     deterministic tie-break) are used as join probes; the
    *     verification counts shared tokens over the FULL capped
    *     vocabulary of both docs (array_intersect of the complete
    *     per-doc token sets), so the reported containment and the
    *     n_a denominator are unchanged. This is the operator's
    *     banding knob, like LSH bands: a pair is found iff any of A's
    *     k rarest tokens occurs in B — rare tokens are precisely
    *     where the containment signal lives, and the per-token join
    *     fan-out is bounded by (docs probing with t) × df(t) instead
    *     of df(t)². `maxJoinTokens <= 0` disables the bound (exact
    *     candidate generation, test-scale only). The driver oracle
    *     mirrors the same ranking in SQL, so the gate is hash-exact
    *     at ANY k, not just recall-saturating ones.
    *
    * Shape: collapse window → per-unique-doc distinct-token explode →
    * weighted vocab df agg → df-capped rejoin → k-rarest probe join →
    * bare (ga,gb) distinct → full-set verify via array_intersect →
    * member expansion. Payload joins after the distinct build on the
    * bare pair side (shuffle_hash). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       dfNum: Int = 1, dfDen: Int = 5, minNum: Int = 1,
                       minDen: Int = 2, maxJoinTokens: Int = 16): DataFrame = {
    // collapse: ONE groupBy on the 128-bit fingerprint, BARE columns
    // only (fp, id) — min/count stay inside codegen'd HashAggregate.
    // Array- or text-carrying alternatives both measured slow at
    // sf0.1: a window over fp sorted full text payloads (2.9 s of a
    // 5.1 s total), and first(array)/collect_list aggs fall back to
    // sort-based ObjectHashAggregate at 128 keys/partition. Keeper
    // token arrays instead ship ONCE through a shuffled-hash join on
    // bare ids (no sort touches an array).
    // (id, fp) computed ONCE: the md5-of-normalized-text scan feeds
    // both the group agg and the member map, and the checkpoint is two
    // bare columns — cheaper than recomputing the fingerprint scan
    val base = docs.select(col(idCol).as("id"),
        TextFunctions.fingerprint(col(textCol)).as("fp"))
      .localCheckpoint()
    val groups = base.groupBy("fp")
      .agg(min("id").as("gid"), count(lit(1)).as("w"))
    // pinned sort-merge: BOTH sides are corpus-sized at scale (groups
    // only shrinks by the dup factor) — stats-driven broadcast of the
    // small test-scale side would hide the scale plan from PlanSpec
    val mem = base.join(groups.select("fp", "gid").hint("merge"), "fp")
      .select("id", "gid")
    val toks = docs.select(col(idCol).as("id"),
        array_distinct(
          split(TextFunctions.normalize(col(textCol)), " ")).as("tk"))
      .join(groups.select(col("gid").as("id"), col("w"))
              .hint("shuffle_hash"), "id")
      .select(col("id").as("doc"), col("w"), explode(col("tk")).as("tok"))
      .where(length(col("tok")) > 0)
    val nDocs = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    // weighted df == per-doc df over the FULL corpus (dups included)
    val vocab = toks.groupBy("tok").agg(sum(col("w")).as("df"))
      .crossJoin(broadcast(nDocs))
      .where(col("df") * dfDen <= col("n_docs") * dfNum)
      .select(col("tok"), col("df"))
    // (doc, tok, df) over uniques — feeds sizes, probes, and both
    // sides of candidate generation + verification; checkpoint so the
    // tokenize + df join runs once
    val rare = toks.select("doc", "tok").join(vocab, "tok").localCheckpoint()
    val sizes = rare.groupBy("doc").agg(count(lit(1)).as("n_a"))
    val probes =
      if (maxJoinTokens <= 0) rare.select("doc", "tok")
      else {
        val kw = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc")).orderBy(col("df"), col("tok"))
        rare.withColumn("rn", row_number().over(kw))
          .where(col("rn") <= maxJoinTokens).select("doc", "tok")
      }
    // probe join stays sort-merge (both sides corpus-sized, spillable);
    // the distinct ships bare (long, long) pairs only
    val cands = probes.as("a")
      .join(rare.select(col("doc"), col("tok")).as("b").hint("merge"),
        col("a.tok") === col("b.tok") && col("a.doc") =!= col("b.doc"))
      .select(col("a.doc").as("ga"), col("b.doc").as("gb"))
      .distinct()
    // exact shared-token count over the FULL capped vocabulary: expand
    // each candidate pair by A's rare tokens, match against B's on
    // (doc, tok), count — a streaming token-match count (the
    // pre-probe formulation's shape, restricted to candidates), all
    // bare longs + strings, no array aggregation anywhere
    val verified = cands.hint("shuffle_hash")
      .join(rare.select(col("doc").as("ga"), col("tok")), "ga")
      .hint("shuffle_hash")
      .join(rare.select(col("doc").as("gb"), col("tok")), Seq("gb", "tok"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("shared"))
      .join(sizes.withColumnRenamed("doc", "ga"), "ga")
      .where(col("shared") * minDen >= col("n_a") * minNum)
      .select(col("ga"), col("gb"),
        (col("shared").cast("double") / col("n_a").cast("double"))
          .as("containment"))
    // within-group pairs: identical texts, shared == n_a, so they pass
    // any threshold <= 1 provided the group has >= 1 in-vocab token
    val dupGroups = groups.where(col("w") >= 2)
      .select(col("gid").as("doc")).hint("shuffle_hash").join(sizes, "doc")
      .select(col("doc").as("ga"), col("doc").as("gb"),
              lit(1.0).as("containment"))
      .where(lit(minDen) >= lit(minNum))
    // member expansion pinned sort-merge, NOT shuffle_hash: a pair
    // join's sizing variable is the candidate-pair count, but these joins'
    // left side is member-expanded (pairs × group depth) and `mem` is
    // corpus-sized — at the 1000× tier (1000-deep dup groups) the
    // forced SHJ build exceeded per-task execution memory and the job
    // died ("can't acquire 256 MB to build hash relation",
    // SCALE1000.md r13). Sort-merge spills instead of dying — the
    // minhash family's standing discipline for corpus-sized sides.
    verified.union(dupGroups)
      .hint("merge")
      .join(mem.select(col("gid").as("ga"), col("id").as("id_a")), "ga")
      .hint("merge")
      .join(mem.select(col("gid").as("gb"), col("id").as("id_b")), "gb")
      .where(col("ga") =!= col("gb") || col("id_a") =!= col("id_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
              col("containment"))
  }

  /** Cross-corpus containment: (a ∈ needles, b ∈ corpus) where at
    * least `minNum/minDen` of a's discriminative tokens occur in b —
    * the FRACTIONAL contamination detector (is this benchmark item
    * quoted inside a training document?) that the exact line-level
    * `Corpus.decontaminate` cannot express: a paraphrased wrapper or
    * reformatted quote breaks line identity but not token
    * containment.
    *
    * The vocabulary cap comes from the CORPUS side: a token is
    * discriminative iff its corpus df (dup-weighted, like
    * [[containmentPairs]]) satisfies df·dfDen ≤ |corpus|·dfNum.
    * Tokens absent from the corpus entirely (df 0) are maximally
    * discriminative: they stay IN the needle's denominator and can
    * never be matched — a needle full of never-seen tokens is
    * correctly reported uncontained. Probe tokens are each needle's
    * `maxJoinTokens` rarest by corpus df (token text tie-break),
    * mirrored in the driver oracle so the gate is hash-exact at
    * production parameters. Needle and corpus id spaces may overlap
    * (pairs are corpus-qualified by construction, as in
    * [[minhashPairsAcross]]); both sides collapse exact dups and
    * expand member pairs at the end. Output: (id_a from needles,
    * id_b from corpus, containment), directed. */
  def containmentPairsAcross(needles: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             dfNum: Int = 1, dfDen: Int = 5,
                             minNum: Int = 1, minDen: Int = 2,
                             maxJoinTokens: Int = 16): DataFrame = {
    def collapse(docs: DataFrame): (DataFrame, DataFrame) = {
      val base = docs.select(col(idCol).as("id"),
          TextFunctions.fingerprint(col(textCol)).as("fp"))
        .localCheckpoint()
      val groups = base.groupBy("fp")
        .agg(min("id").as("gid"), count(lit(1)).as("w"))
      val mem = base.join(groups.select("fp", "gid").hint("merge"), "fp")
        .select("id", "gid")
      val toks = docs.select(col(idCol).as("id"),
          array_distinct(
            split(TextFunctions.normalize(col(textCol)), " ")).as("tk"))
        .join(groups.select(col("gid").as("id"), col("w"))
                .hint("shuffle_hash"), "id")
        .select(col("id").as("doc"), col("w"), explode(col("tk")).as("tok"))
        .where(length(col("tok")) > 0)
      (mem, toks)
    }
    val (memA, toksA) = collapse(needles)
    val (memB, toksB) = collapse(corpus)
    val nB = corpus.agg(countDistinct(col(idCol)).as("n_docs"))
    val dfB = toksB.groupBy("tok").agg(sum(col("w")).as("df"))
    val rareB = toksB.select("doc", "tok")
      .join(dfB.crossJoin(broadcast(nB))
              .where(col("df") * dfDen <= col("n_docs") * dfNum)
              .select("tok"),
            "tok")
      .localCheckpoint()
    // needle tokens ranked by CORPUS df; absent tokens get df 0 via
    // the left join and always pass the cap
    val rareA = toksA.select("doc", "tok")
      .join(dfB.hint("merge"), Seq("tok"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .crossJoin(broadcast(nB))
      .where(col("df") * dfDen <= col("n_docs") * dfNum)
      .select("doc", "tok", "df")
      .localCheckpoint()
    val sizesA = rareA.groupBy("doc").agg(count(lit(1)).as("n_a"))
    val probes =
      if (maxJoinTokens <= 0) rareA.select("doc", "tok")
      else {
        val kw = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc")).orderBy(col("df"), col("tok"))
        rareA.withColumn("rn", row_number().over(kw))
          .where(col("rn") <= maxJoinTokens).select("doc", "tok")
      }
    val cands = probes.as("a")
      .join(rareB.select(col("doc"), col("tok")).as("b").hint("merge"),
            col("a.tok") === col("b.tok"))
      .select(col("a.doc").as("ga"), col("b.doc").as("gb"))
      .distinct()
    cands.hint("shuffle_hash")
      .join(rareA.select(col("doc").as("ga"), col("tok")), "ga")
      .hint("shuffle_hash")
      .join(rareB.select(col("doc").as("gb"), col("tok")), Seq("gb", "tok"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("shared"))
      .join(sizesA.withColumnRenamed("doc", "ga"), "ga")
      .where(col("shared") * minDen >= col("n_a") * minNum)
      .select(col("ga"), col("gb"),
        (col("shared").cast("double") / col("n_a").cast("double"))
          .as("containment"))
      // member expansion pinned sort-merge (not shuffle_hash) — the
      // containmentPairs rationale: member-expanded left + corpus-
      // sized member maps must never hash-build
      .hint("merge")
      .join(memA.select(col("gid").as("ga"), col("id").as("id_a")), "ga")
      .hint("merge")
      .join(memB.select(col("gid").as("gb"), col("id").as("id_b")), "gb")
      .select(col("id_a"), col("id_b"), col("containment"))
  }
}
