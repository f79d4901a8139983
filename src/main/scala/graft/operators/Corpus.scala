package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-level text hygiene for training-data pipelines: segment-level
  * (line-level) dedup and benchmark decontamination — the two cleanup
  * passes that operate ACROSS documents rather than within one (the
  * within-doc family lives in TextQueries' text_* ops; the whole-doc dedup
  * family in [[Dedup]]).
  *
  * Scale design: both ops are explode → one key-partitioned aggregation
  * → rejoin, with no per-doc driver loops and no O(n²) joins. The only
  * broadcast is the decontamination gram set — benchmark suites are
  * MB-scale by nature while the corpus is the 100 TB side, so that
  * asymmetry is structural, not an assumption about this test data.
  */
object Corpus {

  /** Segment-level corpus dedup (CCNet/RefinedWeb-style "line" dedup,
    * re-gridded to fixed `segTokens`-token segments because the corpus
    * has no newlines): a segment that appears in more than `maxDocs`
    * distinct documents is boilerplate (headers, navigation, license
    * blocks) and is dropped from EVERY document; each document is then
    * reassembled in original segment order. Output keeps every input
    * document (possibly with empty `clean_text`) plus kept/dropped
    * segment counts.
    *
    * Shape (r12, collapse-first — the Dedup-family discipline applied
    * here after the 1000× probe caught the direct form spilling
    * 22.5 GB mem + 4.4 GB disk in the per-doc reassembly): segments
    * derive from NORMALIZED text, so byte-identical (post-normalize)
    * documents have identical segment grids and identical outputs —
    * collapse to distinct texts first and every corpus-scale stage
    * runs at unique-text cardinality. The distinct-doc frequency of a
    * segment recomposes EXACTLY as Σ copies(t) over the unique texts
    * t containing it (same-fp docs contribute their copy count, and a
    * segment repeated WITHIN one doc still counts that doc once via
    * the per-unique distinct). Reassembly — the collect_list
    * aggregation that can only plan as sort-fallback ObjectHashAgg at
    * corpus scale — now buffers unique texts only; members inherit
    * their text's result through one fingerprint join (broadcast
    * while uniques are small, size-adaptive otherwise). Dup-heavy
    * corpora are the CHEAP case (1000-deep groups cut every stage
    * 1000×); an all-unique corpus pays one extra fingerprint
    * aggregation over the narrow (id, fp) projection — the standard
    * collapse toll. The repartition before the segment transform
    * decouples per-row compute from file layout (the 100× lesson —
    * see textRepetition). */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 segTokens: Int = 8, maxDocs: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    // member map: every doc -> its normalized-text fingerprint
    val mem = docs.select(col(idCol),
      TextFunctions.fingerprint(col(textCol)).as("__fp"))
    // unique texts with exact copy counts (same fp => same normalized
    // text => same toks; min() picks a deterministic raw witness)
    val uniq = docs
      .select(TextFunctions.fingerprint(col(textCol)).as("__fp"),
        col(textCol))
      .groupBy(col("__fp"))
      .agg(min(col(textCol)).as(textCol), count(lit(1)).as("__copies"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    // segment grid: native one-boundary-pass TokenSegments (r16 — the
    // zero-copy gram discipline; value-identical to the interpreted
    // split → transform → slice → concat_ws grid it replaces, pinned
    // in ExpressionSpec, so the existing DuckDB oracle still gates it)
    val exploded = uniq
      .select(col("__fp"), col("__copies"),
        posexplode(graft.functions.GraftFunctions.tokenSegments(
          TextFunctions.normalize(col(textCol)), segTokens)))
      .toDF("__fp", "__copies", "seg_idx", "seg")
    // corpus frequency: distinct docs containing seg = sum of copy
    // counts over the unique texts containing it. r20: the per-unique
    // distinct moved INTO the row (array_distinct before the explode)
    // — the old distinct() + groupBy pair shuffled the seg strings
    // twice (once keyed with __fp for the dedup, once for the sum);
    // this form partial-aggregates map-side into ONE exchange and the
    // fingerprint never reaches the wire (guide §2.2: shuffle fewer
    // bytes). Value-identical: __fp is unique per uniq row, so
    // per-row array_distinct = per-(fp, seg) distinct (probe
    // LINESCHECK; oracle-gated).
    val counts = uniq
      .select(col("__copies"),
        explode(array_distinct(graft.functions.GraftFunctions.tokenSegments(
          TextFunctions.normalize(col(textCol)), segTokens))).as("seg"))
      .groupBy(col("seg")).agg(sum(col("__copies")).as("n_docs"))
    val perText = exploded.join(counts, "seg")
      .withColumn("kept", col("n_docs") <= maxDocs)
      .groupBy(col("__fp"))
      // r19 batch 3: dropped segments never enter the reassembly
      // buffer — collect_list skips the nulls `when(kept, …)` yields,
      // so the filter() pass disappears and each buffered struct
      // drops the kept flag; seg_idx is unique within a text (a
      // posexplode index), so sorting kept structs alone reproduces
      // the old sort-then-filter order exactly (oracle-gated).
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("seg_idx"), col("seg"))))),
          s => s("seg"))).as("clean_text"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
    mem.join(perText, "__fp")
      .select(col(idCol), col("clean_text"), col("n_kept"), col("n_dropped"))
  }

  /** Per-source boilerplate stripping (the CCNet/RefinedWeb pass that
    * [[dedupLines]]'s absolute cap cannot express): a segment is
    * boilerplate for a SOURCE when it appears in ≥ `num/den` of that
    * source's documents — site templates, navigation, cookie banners
    * are near-universal within their site but rare across the corpus,
    * so a relative, per-source threshold is the production semantics
    * (a segment common in source A and rare in B is stripped from A's
    * documents only). The fraction test cross-multiplies
    * (`df·den < nDocs·num`) so it stays exact integer arithmetic at
    * any corpus size.
    *
    * Shape: identical machinery to [[dedupLines]], including its r12
    * collapse-first rewrite — the collapse key is (source, fp) because
    * the SAME text in two sources must count toward each source's
    * threshold separately. Per-source segment frequencies recompose
    * exactly as copy-count sums over the source's unique texts;
    * reassembly buffers unique texts only; the per-source doc-count
    * table is dim-bounded and always broadcasts (sources are the small
    * axis of a 100 TB corpus by construction). */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, segTokens: Int = 8,
                       num: Int = 1, den: Int = 4): DataFrame = {
    require(num >= 1 && den >= num, s"bad fraction $num/$den")
    val spark = docs.sparkSession
    val mem = docs.select(col(idCol), col(sourceCol),
      TextFunctions.fingerprint(col(textCol)).as("__fp"))
    val srcDocs = mem.groupBy(col(sourceCol))
      .agg(countDistinct(col(idCol)).as("__src_docs"))
    val uniq = docs
      .select(col(sourceCol),
        TextFunctions.fingerprint(col(textCol)).as("__fp"), col(textCol))
      .groupBy(col(sourceCol), col("__fp"))
      .agg(min(col(textCol)).as(textCol), count(lit(1)).as("__copies"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    // native segment grid — see dedupLines (value-identical swap)
    val exploded = uniq
      .select(col(sourceCol), col("__fp"), col("__copies"),
        posexplode(graft.functions.GraftFunctions.tokenSegments(
          TextFunctions.normalize(col(textCol)), segTokens)))
      .toDF(sourceCol, "__fp", "__copies", "seg_idx", "seg")
    // NOTE (r20): dedupLines's one-exchange counts rewrite was tried
    // here too and REVERTED — the per-source variant measured
    // CONSISTENTLY worse at the 5M-doc tier (task_ms 936/1009k before
    // vs 1333/1460k rewritten across two alternating A/B pairs,
    // SCALE1000_r20_lines.json) while the same rewrite wins on
    // dedupLines (−12/−28%). The distinct()+agg pair stays.
    val counts = exploded
      .select(col(sourceCol), col("__fp"), col("__copies"), col("seg"))
      .distinct()
      .groupBy(col(sourceCol), col("seg"))
      .agg(sum(col("__copies")).as("__seg_docs"))
    val perText = exploded.join(counts, Seq(sourceCol, "seg"))
      .join(broadcast(srcDocs), sourceCol)
      .withColumn("kept",
        col("__seg_docs") * den < col("__src_docs") * num)
      .groupBy(col(sourceCol), col("__fp"))
      // kept-only reassembly buffer — see dedupLines (same r19 trim)
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("seg_idx"), col("seg"))))),
          s => s("seg"))).as("clean_text"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
    mem.join(perText, Seq(sourceCol, "__fp"))
      .select(col(idCol), col(sourceCol), col("clean_text"),
        col("n_kept"), col("n_dropped"))
  }

  /** Benchmark decontamination (the n-gram-overlap pass every serious
    * training corpus runs against its eval suites): a training document
    * sharing ANY distinct word `n`-gram with the eval set is flagged,
    * with the count of distinct shared grams. Output has one row per
    * training document — the caller filters `contaminated` to drop, or
    * keeps the counts for audit.
    *
    * Shape: eval grams explode → distinct → BROADCAST (eval suites are
    * MB-scale; the corpus side is the big one and is never collected
    * or broadcast); train grams explode → broadcast-hash semi-ish join
    * → per-doc hit counts → left join back onto the id spine so clean
    * documents still get a row. Gram extraction reuses
    * [[Dedup.shingles]] — distinct sliding n-grams over normalized
    * text, docs shorter than n shingling to their whole text. */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame =
    decontaminateImpl(train, eval, idCol, textCol,
      t => Dedup.shingles(t, n))

  /** [[decontaminate]] with the PRODUCTION gram key: xxhash64 word
    * n-grams computed zero-copy ([[graft.functions.expressions.WordGramHashes]]
    * — one boundary pass per document) instead of shingle STRINGS
    * built by interpreted slice+concat_ws lambdas and shuffled/
    * broadcast at full text width. The overlap count is hash-equality
    * either way; a collision adds one spurious hit to one document's
    * count — a contamination gate is a KEEP/DROP screen where that
    * costs one over-dropped doc, never silent contamination (misses
    * require a PREIMAGE collision). Output carries no gram values, so
    * the SAME DuckDB oracle as [[decontaminate]] hash-gates this form
    * end-to-end at the driver (`decontaminate_xx`). */
  def decontaminateXx(train: DataFrame, eval: DataFrame, idCol: String,
                      textCol: String, n: Int = 8): DataFrame =
    decontaminateImpl(train, eval, idCol, textCol,
      t => array_distinct(graft.functions.GraftFunctions.wordGramHashes(
        TextFunctions.normalize(t), n)))

  private def decontaminateImpl(train: DataFrame, eval: DataFrame,
                                idCol: String, textCol: String,
                                grams: org.apache.spark.sql.Column =>
                                  org.apache.spark.sql.Column): DataFrame = {
    val evalGrams = eval
      .select(explode(grams(col(textCol))).as("gram"))
      .distinct()
    val hits = train
      .select(col(idCol), explode(grams(col(textCol))).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
    train.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Exact duplicate-substring excision (the passage-level pass of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" — public): every maximal character span covered
    * by a `k`-gram occurring in ≥2 DISTINCT documents is cut out of
    * every document, and the remainders are stitched back together.
    * This REMOVES repeated passages (licenses, quoted headers, copied
    * paragraphs) that the whole-doc family (rows 23-27) only
    * DETECTS — their pairs say "these two docs overlap"; this op
    * returns the corpus with the overlap gone.
    *
    * The reference algorithm builds a corpus-wide suffix array — a
    * single-node construction. The distributed equivalent:
    *  0. EXACT-DUP COLLAPSE first (the mandatory lesson SCALE100.md
    *     records for every dup-heavy operator): identical normalized
    *     texts share their excision verbatim, so all positional work
    *     runs once per DISTINCT text, weighted by copy count — and a
    *     gram inside a weight-≥2 group is duplicated by definition,
    *     which is precisely the case (100-deep dup clusters) that
    *     would otherwise push the whole position stream through the
    *     gram join;
    *  1. per-row HOF: the text's k-gram hash array (one md5 pass, the
    *     winnow discipline — no per-position rows yet);
    *  2. per-text DISTINCT hashes explode into ONE weighted count
    *     shuffle → the dup-gram table (hash, Σcopies ≥ 2);
    *  3. the distinct-text position stream joins that table —
    *     Catalyst/AQE broadcasts it while it fits (mostly-unique
    *     corpus: the common case) and falls back to a hash/merge
    *     join keyed on the gram otherwise; only MATCHED (duplicated)
    *     positions continue into the per-text collect;
    *  4. per-row again: merged removal intervals from the sorted
    *     start list — runs of starts with gap ≤ k merge, computed
    *     STATELESSLY by zip_with against the shifted list (no
    *     quadratic array rebuilding), then the kept gaps concatenate;
    *  5. the per-text results expand back to documents by one join on
    *     the text fingerprint (the minhashPairs expansion pattern).
    * Per-text state is O(text length); shuffles are the collapse, the
    * weighted df count, the dup-position join, and the fingerprint
    * expansion — nothing quadratic in the corpus anywhere.
    *
    * Chars, not tokens, define the grams (k chars ≈ the 50-token
    * threshold scaled to this corpus's short docs); df counts
    * distinct DOCS, so a phrase repeated inside one document is NOT
    * excised (that is text_repetition's signal, row 41).
    *
    * RESOURCE CONTRACT (the Dedup/Graph checkpoint convention): the
    * plan embeds two `localCheckpoint` materializations (the collapsed
    * text table and the per-text rebuild results) whose block-manager
    * blocks outlive the query — long-lived sessions calling this
    * repeatedly must free them between queries via
    * [[graft.Blocks.freeAll]] (or unpersist the returned frame's
    * checkpointed lineage) once the result is materialized.
    * `localCheckpoint` also makes this operator batch-only: it cannot
    * appear inside a streaming query plan — route streaming corpora
    * through the batch path on a foreachBatch boundary instead. */
  def exciseDupSubstrings(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 20): DataFrame =
    // r19 (guide §1.2 step 2 — per-task work): the gram walk is the
    // native one-boundary-pass CharGramMd5, VALUE-IDENTICAL to the
    // interpreted `transform(sequence(1, length-k+1), i ->
    // md5(substring(t, i, k)))` it replaces (ExpressionSpec pins it)
    // — same md5-hex keys as the DuckDB twin, so this stays the
    // EVALUATION form, minus the O(len²) substring re-walk + per-gram
    // DigestUtils allocation + lambda interpretation that made this
    // the suite's #1 task-CPU row (r19 probe: ~9 task-cpu-s per walk
    // at sf0.1, walked twice — the dup-table branch and the position
    // branch each evaluate the gram array).
    exciseImpl(docs, idCol, textCol, k,
      t => graft.functions.GraftFunctions.charGramMd5(col(t), k))

  /** [[exciseDupSubstrings]] with the PRODUCTION gram digest: zero-copy
    * xxhash64 char-grams ([[graft.functions.expressions.CharGramHashes]])
    * instead of `md5(substring(__t, i, k))` per position — the exact
    * O(len²) substring-walk + MessageDigest wall the r15 winnow A/B
    * measured at 15.7× task-time (SCALE1000_r15_winnow.json). The
    * digest only keys the dup-gram table (equal grams ⇔ equal hashes
    * barring collisions); positions, interval merging, and the rebuilt
    * text are digest-independent, and the output carries no hash — so
    * the SAME DuckDB oracle as the md5 form hash-gates this variant
    * end-to-end at the driver (`dedup_substring_xx`). A collision
    * would excise one non-duplicated k-char span corpus-wide; at 60+
    * effective bits over corpus gram counts that risk is the same
    * class the minhash/winnow candidate keys already accept. */
  def exciseDupSubstringsXx(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 20): DataFrame =
    exciseImpl(docs, idCol, textCol, k,
      t => graft.functions.GraftFunctions.charGramHashes(col(t), k))

  private def exciseImpl(docs: DataFrame, idCol: String, textCol: String,
                         k: Int,
                         grams: String => org.apache.spark.sql.Column)
      : DataFrame = {
    require(k >= 4, s"gram too short to mean anything: k=$k")
    val spark = docs.sparkSession
    val normed = docs
      .select(col(idCol), TextFunctions.normalize(col(textCol)).as("__t"))
    // collapse identical texts: every downstream stage runs once per
    // DISTINCT text; __w carries the copy count into the df sum
    // checkpointed: three consumers (dup-gram table, position stream,
    // the perText join) would otherwise each re-derive the corpus
    // scan + normalize + collapse
    val texts = normed
      .groupBy(md5(col("__t")).as("__fp"), col("__t"))
      .agg(count(lit(1)).as("__w"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .localCheckpoint()
    val withG = texts.where(length(col("__t")) >= k)
      .select(col("__fp"), col("__w"), grams("__t").as("__gs"))
    val dup = withG
      .select(col("__w"), explode(array_distinct(col("__gs"))).as("__g"))
      .groupBy(col("__g")).agg(sum(col("__w")).as("__c"))
      .where(col("__c") >= 2).select(col("__g"))
    val pos = withG.select(col("__fp"), posexplode(col("__gs")))
      .toDF("__fp", "__i0", "__g")
    val dupStarts = pos.join(dup, "__g")
      .groupBy(col("__fp"))
      .agg(sort_array(collect_list(col("__i0") + 1)).as("__ds"))
    // merged removal intervals, stateless: a start continues the
    // current run iff its gap to the previous start is ≤ k (each
    // start covers exactly [s, s+k), so run-end is always
    // last-start + k); lo = run heads, hi = one-past-run-ends
    val sentinel = -2 * k
    val rebuild =
      s"""concat(
         |  substring(__t, 1, element_at(__lo, 1) - 1),
         |  IF(size(__lo) > 1,
         |     concat_ws('', transform(sequence(1, size(__lo) - 1),
         |       j -> substring(__t, element_at(__hi, j),
         |                      element_at(__lo, j + 1) - element_at(__hi, j)))),
         |     ''),
         |  substring(__t, element_at(__hi, size(__hi)),
         |            length(__t) - element_at(__hi, size(__hi)) + 1))""".stripMargin
    val perText = texts.join(dupStarts, Seq("__fp"), "left")
      .withColumn("__prev", expr(
        s"concat(array($sentinel), slice(__ds, 1, size(__ds) - 1))"))
      .withColumn("__next", expr(
        s"concat(slice(__ds, 2, size(__ds) - 1), array(${Int.MaxValue}))"))
      .withColumn("__lo", expr(
        s"filter(zip_with(__ds, __prev, (a, b) -> IF(a - b > $k, a, -1)), x -> x >= 0)"))
      .withColumn("__hi", expr(
        s"filter(zip_with(__ds, __next, (a, b) -> IF(b - a > $k, a + $k, -1)), x -> x >= 0)"))
      .withColumn("clean_text",
        when(col("__ds").isNull, col("__t")).otherwise(expr(rebuild)))
      .select(col("__fp"),
        col("clean_text"),
        (length(col("__t")) - length(col("clean_text")))
          .cast("long").as("n_removed"))
      // MATERIALIZED before the member join: the rebuild expressions
      // above are interpreted array ops (zip_with/slice/concat over
      // the per-text start list), and project-collapse would otherwise
      // leave them ABOVE the join — evaluated once per MEMBER row
      // instead of once per distinct text. At the 1000× tier (5M
      // members of 5k uniques) that was ~3.5 ms × 5M rows = 17.8k
      // task-s, 97% of the query (SCALE1000.md r13); checkpointing the
      // 5k-row result makes the join read computed leaves.
      .localCheckpoint()
    normed.select(col(idCol), md5(col("__t")).as("__fp"))
      .join(perText, "__fp")
      .select(col(idCol), col("clean_text"), col("n_removed"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    * algorithm, public): hash every `k`-char gram, then keep the
    * minimum hash of each sliding window of `w` consecutive gram
    * hashes. Guarantees every shared substring of length ≥ k+w−1
    * contributes at least one COMMON selected fingerprint between two
    * documents, while storing only ~2/(w+1) of the gram hashes — the
    * local-dedup / plagiarism-detection primitive between exact
    * fingerprinting (row 33) and MinHash (row 24) in selectivity.
    *
    * Spark-first shape: one round-robin exchange and nothing else. The
    * naive formulation explodes per-position rows and runs a
    * doc-partitioned window min — that shuffles corpus×length rows at
    * 100 TB just to compare neighbors that were born adjacent. Instead
    * the whole selection happens per-row and only the final
    * fingerprint set is exploded. r12: the per-row work moved from
    * array HOFs (gram-hash transform → sliding array_min slices →
    * array_distinct — O(len·w) INTERPRETED lambdas, the slowest
    * non-graph 100× entry at 38.4 s) into the native
    * `graft_winnow` expression: the same digests selected by an O(len)
    * monotonic-deque window min inside WholeStageCodegen, gated
    * value-identical against the HOF form in ExpressionSpec. The
    * repartition ahead of the scan decouples the per-doc compute from
    * file layout (the dedupLines/textRepetition lesson: a
    * single-row-group corpus otherwise runs the whole hash loop on one
    * core). Hashes are 60-bit md5 prefixes as BIGINT (r13 — the hex
    * form paid 4× the bytes in materialization/shuffle/compare at
    * 554M fingerprints; see WinnowFingerprints' contract for why 60
    * bits is both engine-portable and collision-safe for a CANDIDATE
    * key). Docs shorter than k+w−1 have no full window and are
    * dropped, per the algorithm. */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
             k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, s"bad winnow params k=$k w=$w")
    docs.where(length(col(textCol)) >= k + w - 1)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col(idCol),
        explode(graft.functions.GraftFunctions.winnow(
          col(textCol), k, w)).as("fp"))
  }

  /** [[winnow]] with the production xxhash64 digest — the md5 digest
    * is the winnow CPU wall at 1000× (~2B MessageDigest calls, 2,204
    * task-s; SCALE1000.md r13 measured the digest, not the
    * representation, as the cost). Same gram walk, same deque, same
    * output shape; only the per-gram hash differs, and a winnow
    * fingerprint is a dedup-candidate key where any consistent hash
    * serves. Gating: the deque core is hash-exact through the md5
    * query's DuckDB oracle AND the planted-stream twin
    * (`winnow_xx_sound` — GraftFunctions.winnowFromHashes); this
    * production form is rows-gated against those twins. */
  def winnowXx(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, s"bad winnow params k=$k w=$w")
    docs.where(length(col(textCol)) >= k + w - 1)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col(idCol),
        explode(graft.functions.GraftFunctions.winnowXx(
          col(textCol), k, w)).as("fp"))
  }
}
