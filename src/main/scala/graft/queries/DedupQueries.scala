package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.TextFunctions

/** Near-duplicate, similarity-join, embedding, ANN and media queries. */
object DedupQueries {

  // ------------------------------------------------- dedup/ANN (#23-29)

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")

  private val dedupExactSql =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |  min(doc_id) AS keeper_id, count(*) AS n_docs
      |FROM documents GROUP BY 1""".stripMargin

  /** Best-representative dedup (#23e): keep the HIGHEST-QUALITY doc
    * of each exact-dup cluster instead of the lowest id — the actual
    * curation choice (crawl dups differ in surrounding boilerplate
    * upstream of normalization; production pipelines keep the best
    * variant, not the first seen). One window shuffle on the
    * fingerprint; quality ties (identical normalized text usually
    * means identical score) break to the smallest id, keeping the
    * keeper deterministic and engine-portable. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("q").desc, col("doc_id"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        TextFunctions.qualityScore(col("text")).as("q"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(wn))
      .where(col("rn") === 1)
      .select(col("fp"), col("doc_id").as("keeper_id"),
        col("q").as("keeper_quality"), col("n_docs"))
  }

  private val dedupKeepBestSql =
    """WITH d AS (SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE) * 0.5
      |    + CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |      / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) * 0.3
      |    + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2 AS q
      |  FROM documents),
      |r AS (SELECT doc_id, fp, q,
      |    row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY fp) AS n_docs
      |  FROM d)
      |SELECT fp, doc_id AS keeper_id, q AS keeper_quality, n_docs
      |FROM r WHERE rn = 1""".stripMargin

  def dedupMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(spark, dir), "doc_id", "text")

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text")

  /** SimHash driver gate (#25): the pigeonhole chunk join + exact
    * hamming verify run on PLANTED signatures built from doc_id with
    * pure 64-bit arithmetic. The production signature (SimHash64 over
    * xxhash64 token hashes) has no DuckDB twin, but the planted table
    * is bit-exactly recomputable in SQL, so the oracle checks the
    * candidate machinery end-to-end against an EXHAUSTIVE all-pairs
    * hamming scan. Construction: 41 base signatures (4 chunk values
    * from co-prime multipliers, summing to <= Long.Max by design),
    * then copy j of a group flips (j%4) distinct low-60 bit positions
    * — so within-group hamming spans 0..6 and the <=3 cut exercises
    * both accept and reject paths; maxHamming=3 with 4 chunks is the
    * pigeonhole-COMPLETE regime, recall must be exactly 1.0.
    *
    * Bounded to doc_id < 600 like its minhash/embedding siblings: the
    * gate proves MACHINERY, and the planted construction's pair count
    * grows quadratically with corpus size (at the 100× derived set the
    * unbounded form emits ~10⁹ pairs and its exhaustive all-pairs
    * DuckDB oracle stops terminating) — the bound keeps the gate
    * runnable at every scale the driver and the scale harness use,
    * with the planted structure (41 bases × flip cycle) fully
    * exercised within the first 600 ids. */
  def dedupSimhashSound(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir)
      .where(col("doc_id") < 600).selectExpr(
      "doc_id AS id",
      """( (doc_id % 41) * 9973 % 65536
        |+ (doc_id % 41) * 28513 % 65536 * 65536
        |+ (doc_id % 41) * 49939 % 65536 * 4294967296
        |+ (doc_id % 41) * 58631 % 32768 * 281474976710656 )
        |^ (CASE WHEN (doc_id div 41) % 4 > 0
        |     THEN shiftleft(1L, CAST(((doc_id div 41) * 4 + 0) % 60 AS INT)) ELSE 0L END)
        |^ (CASE WHEN (doc_id div 41) % 4 > 1
        |     THEN shiftleft(1L, CAST(((doc_id div 41) * 4 + 1) % 60 AS INT)) ELSE 0L END)
        |^ (CASE WHEN (doc_id div 41) % 4 > 2
        |     THEN shiftleft(1L, CAST(((doc_id div 41) * 4 + 2) % 60 AS INT)) ELSE 0L END)
        |AS simhash""".stripMargin)
    Dedup.simhashPairsFromSigs(planted, maxHamming = 3)
  }

  private val dedupSimhashSoundSql =
    """WITH s AS (
      |  SELECT doc_id,
      |    xor(xor(xor(
      |      (doc_id % 41) * 9973 % 65536
      |      + (doc_id % 41) * 28513 % 65536 * 65536
      |      + (doc_id % 41) * 49939 % 65536 * 4294967296
      |      + (doc_id % 41) * 58631 % 32768 * 281474976710656,
      |      CASE WHEN (doc_id // 41) % 4 > 0
      |        THEN 1::BIGINT << (((doc_id // 41) * 4 + 0) % 60) ELSE 0 END),
      |      CASE WHEN (doc_id // 41) % 4 > 1
      |        THEN 1::BIGINT << (((doc_id // 41) * 4 + 1) % 60) ELSE 0 END),
      |      CASE WHEN (doc_id // 41) % 4 > 2
      |        THEN 1::BIGINT << (((doc_id // 41) * 4 + 2) % 60) ELSE 0 END) AS simhash
      |  FROM documents WHERE doc_id < 600)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(Tables.embeddings(spark, dir), "vec_id", "embedding")

  /** The ANN queries' declared in-plan bound (r15 ADVICE): the
    * key-range filter assumes one row per vec_id, so `vec_id < n`
    * yields ≤ n rows. The former raw `.limit(n)` would silently (and
    * nondeterministically) truncate if that uniqueness ever broke — a
    * silent divergence from the DuckDB oracles, which carry no limit.
    * [[graft.plans.Bounds.declare]] keeps the bound readable by
    * PlanLint's classifier AND raises loudly on a broken assumption. */
  private[graft] def annQueries(emb: DataFrame, n: Int): DataFrame =
    graft.plans.Bounds.declare(emb.where(col("vec_id") < n), n,
      s"ann query set: vec_id < $n assumed unique")

  def annBruteforceTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(annQueries(emb, 10), emb, 5)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** ids-only oracle: cosine ranking recomputed by DuckDB's
    * list_cosine_similarity; both engines accumulate in doubles in
    * array order, and ties break on neighbor_id. */
  private[graft] val annBruteforceTopkSql =
    """SELECT query_id, neighbor_id, rk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
      |               c.vec_id) AS rk
      |  FROM embeddings q, embeddings c WHERE q.vec_id < 10) t
      |WHERE rk <= 5""".stripMargin

  /** Hard-negative mining (#28a): 8 most-similar different-label
    * items per anchor — see [[Similarity.hardNegatives]]. */
  def annHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.hardNegatives(annQueries(emb, 10), emb,
                             "label", k = 8)
  }

  private val annHardNegativesSql =
    """SELECT query_id, qlabel, neighbor_id, nlabel, rk FROM (
      |  SELECT q.vec_id AS query_id, q.label AS qlabel,
      |    c.vec_id AS neighbor_id, c.label AS nlabel,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
      |               c.vec_id) AS rk
      |  FROM embeddings q, embeddings c
      |  WHERE q.vec_id < 10 AND q.label <> c.label) t
      |WHERE rk <= 8""".stripMargin

  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshTopK(annQueries(emb, 10), emb, 5)
  }

  def annIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(spark, annQueries(emb, 10), emb, 5)
  }

  // -------------------------- LSH-family driver gates (soundness+completeness)

  /** MinHash-LSH driver gate (#24): the SAME minhashPairs code path at
    * recall-saturating banding — 32 hashes in 16 bands of 2, per-pair
    * miss probability (1-j²)¹⁶ < 4e-8 at the testdata's j ≥ 0.8
    * near-dup floor — so the emitted pairs equal the EXHAUSTIVE set of
    * shingle-jaccard ≥ 0.5 pairs, which DuckDB recomputes from shingle
    * strings (hash-set jaccard == string-set jaccard modulo 64-bit
    * collisions; background pairs top out at j ≈ 0.14, so the 0.5
    * threshold sits in a wide gap). Bounded to doc_id < 600 so the
    * all-pairs oracle and the 10×/30× bench stay cheap; at the
    * driver's sf0.01 gate the bound covers the whole table. */
  def dedupMinhashSound(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(spark, dir).where(col("doc_id") < 600),
      "doc_id", "text", n = 3, numHashes = 32, bands = 16, tau = 0.5)

  private val dedupMinhashSoundSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents WHERE doc_id < 600),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
      |      i -> array_to_string([toks[least(i, len(toks))], toks[least(i+1, len(toks))],
      |                            toks[least(i+2, len(toks))]], ' '))) AS sh
      |  FROM t),
      |c AS (SELECT doc_id, len(sh) AS n FROM s),
      |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
      |m AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b,
      |  CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) AS jaccard
      |FROM m JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db
      |WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) >= 0.5""".stripMargin

  /** Cross-corpus dedup driver gate (#24a): minhashPairsAcross at the
    * same recall-saturating banding as dedup_minhash_sound, with the
    * corpus split on doc_id parity (A = even, B = odd — interleaves
    * the testdata's dup clusters so cross pairs exist). Emitted pairs
    * equal the EXHAUSTIVE set of cross-parity shingle-jaccard ≥ 0.5
    * pairs, which DuckDB recomputes from shingle strings. */
  def dedupCrossCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).where(col("doc_id") < 600)
    Dedup.minhashPairsAcross(
      docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", n = 3, numHashes = 32, bands = 16, tau = 0.5)
  }

  private val dedupCrossCorpusSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents WHERE doc_id < 600),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
      |      i -> array_to_string([toks[least(i, len(toks))], toks[least(i+1, len(toks))],
      |                            toks[least(i+2, len(toks))]], ' '))) AS sh
      |  FROM t),
      |c AS (SELECT doc_id, len(sh) AS n FROM s),
      |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
      |m AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |      FROM e a JOIN e b ON a.g = b.g
      |      AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      |      GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b,
      |  CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) AS jaccard
      |FROM m JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db
      |WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) >= 0.5""".stripMargin

  /** Embedding-cosine driver gate (#27): embeddingCosinePairs at
    * recall-saturating banding (64 sign bits in 32 bands of 2 — miss
    * < 1e-7 per pair at cos 0.4), so the output equals the exhaustive
    * cos ≥ 0.4 pair set, recomputed by DuckDB's
    * list_cosine_similarity. Ids only: both engines agree on every
    * cosine comparison, not necessarily on the ratio's last bit.
    * vec_id < 600 keeps the oracle and the scaled bench bounded; at
    * the sf0.01 gate it covers the whole table. */
  def dedupEmbeddingSound(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(
      Tables.embeddings(spark, dir).where(col("vec_id") < 600),
      "vec_id", "embedding", tau = 0.4, bands = 32, rows = 2)
      .select(col("id_a"), col("id_b"))

  private val dedupEmbeddingSoundSql =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE a.vec_id < 600 AND b.vec_id < 600
      |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4""".stripMargin

  /** Cross-corpus embedding dedup gate (#27a): embeddingCosinePairsAcross
    * at the sound gate's saturating banding, parity-split on vec_id.
    * Ids only, like dedup_embedding_sound — both engines agree on
    * every cosine COMPARISON, not necessarily the ratio's last bit. */
  def dedupEmbeddingCross(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).where(col("vec_id") < 600)
    Dedup.embeddingCosinePairsAcross(
      emb.where(col("vec_id") % 2 === 0),
      emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", tau = 0.4, bands = 32, rows = 2)
      .select(col("id_a"), col("id_b"))
  }

  private val dedupEmbeddingCrossSql =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM embeddings a JOIN embeddings b
      |ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
      |WHERE a.vec_id < 600 AND b.vec_id < 600
      |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4""".stripMargin

  /** IVF lossless-plumbing gate (#29a): nprobe = cells probes every
    * cell, so IVF must reproduce brute force EXACTLY — any row lost in
    * the assignment/probe plumbing breaks the hash match. Oracle = the
    * same exhaustive ranking as ann_bruteforce_topk. */
  def annIvfFull(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(spark, annQueries(emb, 10), emb, 5,
      cells = 16, nprobe = 16)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** IVF recall gate at REALISTIC probe widths (#29a): `ann_ivf_full`
    * proves the plumbing lossless at nprobe = cells, but the number a
    * user of the fast path must know is what nprobe = 2 (the 8× search
    * saving) actually recalls. recall@10 vs in-query brute force over
    * 20 queries, emitted as one row per probe width with a ≥-target
    * flag (sketch_sound pattern — seeded k-means + deterministic data
    * make the flags deterministic, so a centroid or probe regression
    * fails the hash gate). Measured (near-uniform synthetic vectors
    * — the hard case for IVF): nprobe=2 recalls
    * 0.42/0.44 at sf0.01/sf0.1, nprobe=8 recalls 0.80/0.77. Gates sit
    * between measurement and the ~nprobe/cells ≈ 0.125/0.5 a BROKEN
    * centroid ranking would score: 0.25 and 0.60. */
  def annIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = annQueries(emb, 20)
    val k = 10
    val bf = Similarity.bruteForceTopK(queries, emb, k)
      .select(col("query_id"), col("neighbor_id"))
    // the recall denominator is derived Spark-side ONLY (count of
    // brute-force rows actually emitted) and deliberately NOT exposed
    // in the output: a hardcoded oracle-side n_pairs = k × COUNT(*)
    // was only valid while bruteForceTopK uses row_number and the
    // corpus holds ≥ k vectors — a benign tie-handling change would
    // have flipped the gate into an opaque n_pairs mismatch instead of
    // a recall signal (r6 advice). The oracle checks (nprobe,
    // recall_ok); recall itself is the Spark-side measurement.
    val denom = bf.agg(count(lit(1)).as("n_pairs"))
    def gate(nprobe: Int, target: Double): DataFrame =
      Similarity.ivfTopK(spark, queries, emb, k, cells = 16, nprobe = nprobe)
        .join(bf, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(denom)
        .select(lit(nprobe).as("nprobe"),
          (col("hits").cast("double") / col("n_pairs") >= target)
            .as("recall_ok"))
    gate(2, 0.25).union(gate(8, 0.60))
  }

  private val annIvfRecallSql =
    """SELECT 2 AS nprobe, TRUE AS recall_ok
      |UNION ALL
      |SELECT 8 AS nprobe, TRUE AS recall_ok""".stripMargin

  /** IVF-PQ lossless-plumbing gate (#29f): with nprobe = cells and an
    * unbounded re-rank, the cell probe and the approximate cut keep
    * every vector and the exact re-rank IS brute force — any row lost
    * in the encode/decode/candidate plumbing breaks the hash match.
    * Oracle = the same exhaustive ranking as ann_bruteforce_topk. */
  def annPqFull(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.pqTopK(spark, annQueries(emb, 10), emb, 5,
      cells = 16, nprobe = 16, rerank = Int.MaxValue)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** IVF-PQ recall gate at realistic re-rank widths (#29f): what the
    * compressed path recalls when the searched artifact is the 32×
    * smaller code table. recall@10 vs in-query brute force over 20
    * queries at nprobe=4, one row per re-rank width (ann_ivf_recall
    * pattern — seeded training + deterministic data make the flags
    * deterministic). Measured (near-uniform synthetic vectors — the
    * WORST case for PQ, no cluster structure to absorb
    * quantization error): rerank=10 (pure ADC ranking) recalls
    * 0.33/0.24 at sf0.01/sf0.1, rerank=100 (exact re-rank repairing
    * the approximate cut) 0.59/0.46. Gates sit between measurement
    * and the ~rerank/probed-pool ≈ 0.01 a broken ADC ranking would
    * score: 0.15 and 0.30. */
  def annPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = annQueries(emb, 20)
    val k = 10
    val bf = Similarity.bruteForceTopK(queries, emb, k)
      .select(col("query_id"), col("neighbor_id"))
    // denominator derived Spark-side only, as in annIvfRecall
    val denom = bf.agg(count(lit(1)).as("n_pairs"))
    def gate(rerank: Int, target: Double): DataFrame =
      Similarity.pqTopK(spark, queries, emb, k,
          cells = 16, nprobe = 4, rerank = rerank)
        .join(bf, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(denom)
        .select(lit(rerank).as("rerank"),
          (col("hits").cast("double") / col("n_pairs") >= target)
            .as("recall_ok"))
    gate(10, 0.15).union(gate(100, 0.30))
  }

  private val annPqRecallSql =
    """SELECT 10 AS rerank, TRUE AS recall_ok
      |UNION ALL
      |SELECT 100 AS rerank, TRUE AS recall_ok""".stripMargin

  /** LSH-ANN saturation gate (#29): at 32 bands of 2 every pair down
    * to cos ≈ 0 lands in a shared bucket w.p. > 0.9999, so the
    * bucketed search must return the exact brute-force top-k here. */
  def annLshSound(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshTopK(annQueries(emb, 10), emb, 5,
      bands = 32, rows = 2)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** Exact unigram-set jaccard over a bounded candidate set — the
    * n-gram-Jaccard verifier (#26) standalone, oracle-checkable since
    * word SETS (not hashes) are computable in both engines. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.plans.Bounds.declare(
        Tables.documents(spark, dir).where(col("doc_id") < 50),
        50, "jaccard candidate set: doc_id < 50 assumed unique")
      .select(col("doc_id"),
        array_distinct(split(TextFunctions.normalize(col("text")), " ")).as("toks"))
    toks.as("a").join(toks.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect(col("a.toks"), col("b.toks"))).cast("double") /
          size(array_union(col("a.toks"), col("b.toks"))).cast("double"))
          .as("jaccard"))
  }

  private val ngramJaccardSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_distinct(regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
      |  FROM documents WHERE doc_id < 50)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id""".stripMargin

  // --------------------------------------------------- multimodal (#34)

  /** Typed decode+feature pipeline over binary media columns (REAL
    * hand-parsed BMP/PPM/WAV codecs — see [[Multimodal.Codec]]) —
    * rows-only check; MultimodalSpec proves planted images round-trip
    * and `multimodal_sound` gates the decode arithmetic exactly. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.attachBlob(Tables.documents(spark, dir))
    val meta = Multimodal.decodeMeta(spark, blobs).toDF()
    val feats = Multimodal.extractFeatures(spark, blobs).toDF()
      .select(col("doc_id"), size(col("features")).as("n_features"))
    meta.join(feats, "doc_id")
  }

  /** Frame sampling over the same media blobs (#34), 2 frames of
    * 4 KiB per doc: blobs are real containers (KBs to 100 KB), so tiny
    * frames would explode to tens of thousands of rows per doc.
    * Rows-only check, like `multimodal_meta`. */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(
      Multimodal.attachBlob(Tables.documents(spark, dir)), 4096, 2)

  /** Multimodal driver gate (#34): every decoded field is real codec
    * output — container dimensions and channel layout parsed back out
    * of genuine BMP/PPM/WAV headers, total container size, and the
    * floor-mean of the decoded sample payload (row padding excluded).
    * The planted blobs derive dims/payload from md5 hex digits, so
    * DuckDB recomputes ALL of it without parsing a byte: header sizes
    * from the format layout, the payload mean from cycled-md5-byte
    * arithmetic. An off-by-one anywhere in encode OR decode (stride
    * padding, header length, bottom-up row copy, cycle remainder)
    * breaks the hash. */
  def multimodalSound(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.attachBlob(Tables.documents(spark, dir))
    Multimodal.decodeMeta(spark, blobs).toDF()
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
              col("channels"), col("n_bytes"), col("mean_pixel"))
  }

  private val multimodalSoundSql =
    """WITH src AS (SELECT doc_id, md5(text) AS x, md5(source) AS sx FROM documents),
      |d AS (SELECT doc_id, x,
      |  ['image','audio','video'][
      |    ((strpos('0123456789abcdef', substr(sx, 31, 1)) - 1) * 16
      |     + strpos('0123456789abcdef', substr(sx, 32, 1)) - 1) % 3 + 1] AS media_type,
      |  ((strpos('0123456789abcdef', substr(x, 1, 1)) - 1) * 16
      |   + strpos('0123456789abcdef', substr(x, 2, 1)) - 1) % 128 + 16 AS w,
      |  ((strpos('0123456789abcdef', substr(x, 3, 1)) - 1) * 16
      |   + strpos('0123456789abcdef', substr(x, 4, 1)) - 1) % 128 + 16 AS h
      |  FROM src),
      |p AS (SELECT doc_id, media_type, w, h, 3 * w * h AS n,
      |  list_transform(generate_series(1, 16), j ->
      |    (strpos('0123456789abcdef', substr(x, 2*j - 1, 1)) - 1) * 16
      |    + strpos('0123456789abcdef', substr(x, 2*j, 1)) - 1) AS pb
      |  FROM d)
      |SELECT doc_id, media_type,
      |  CAST(CASE WHEN media_type = 'audio' THEN n ELSE w END AS INTEGER) AS width,
      |  CAST(CASE WHEN media_type = 'audio' THEN 1 ELSE h END AS INTEGER) AS height,
      |  CAST(CASE WHEN media_type = 'audio' THEN 1 ELSE 3 END AS INTEGER) AS channels,
      |  CAST(CASE media_type
      |    WHEN 'image' THEN 54 + ((3*w + 3) // 4 * 4) * h
      |    WHEN 'video' THEN 3 + length(CAST(w AS VARCHAR)) + 1
      |                      + length(CAST(h AS VARCHAR)) + 5 + n
      |    ELSE 44 + n END AS INTEGER) AS n_bytes,
      |  CAST(((n // 16) * list_sum(pb)
      |        + COALESCE(list_sum(pb[1:(n % 16)]), 0)) // n AS INTEGER) AS mean_pixel
      |FROM p""".stripMargin

  /** PNG-codec driver gate (#34a): the compressed-container sibling of
    * multimodal_sound — every blob is a genuine zlib-deflated PNG and
    * the decode runs signature walk → IHDR parse → IDAT inflate →
    * scanline de-filter. Dims and the floor-mean of the decoded raster
    * are md5-determined, so DuckDB recomputes them without touching a
    * byte of the container; any corruption in deflate framing, chunk
    * CRC layout, inflate sizing, or the filter reconstruction breaks
    * the decoded mean and with it the hash. Container size is NOT
    * emitted: deflate output length is zlib-implementation-specific
    * (the one field that is genuinely not engine-portable). */
  def multimodalPng(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.attachPngBlob(Tables.documents(spark, dir))
    Multimodal.decodeMeta(spark, blobs).toDF()
      .select(col("doc_id"), col("width"), col("height"),
              col("channels"), col("mean_pixel"))
  }

  private val multimodalPngSql =
    """WITH d AS (SELECT doc_id, md5(text) AS x FROM documents),
      |s AS (SELECT doc_id,
      |  ((strpos('0123456789abcdef', substr(x, 1, 1)) - 1) * 16
      |   + strpos('0123456789abcdef', substr(x, 2, 1)) - 1) % 128 + 16 AS w,
      |  ((strpos('0123456789abcdef', substr(x, 3, 1)) - 1) * 16
      |   + strpos('0123456789abcdef', substr(x, 4, 1)) - 1) % 128 + 16 AS h,
      |  list_transform(generate_series(1, 16), j ->
      |    (strpos('0123456789abcdef', substr(x, 2*j - 1, 1)) - 1) * 16
      |    + strpos('0123456789abcdef', substr(x, 2*j, 1)) - 1) AS pb
      |  FROM d),
      |p AS (SELECT doc_id, w, h, 3 * w * h AS n, pb FROM s)
      |SELECT doc_id,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  CAST(3 AS INTEGER) AS channels,
      |  CAST(((n // 16) * list_sum(pb)
      |        + COALESCE(list_sum(pb[1:(n % 16)]), 0)) // n AS INTEGER) AS mean_pixel
      |FROM p""".stripMargin

  /** Image perceptual-hash near-dup (#34b): the image sibling of text
    * MinHash — aHash/dHash over DECODED rasters with hamming-banded
    * candidate generation (the SimHash 4×16-bit pigeonhole join,
    * COMPLETE at hamming <= 3, never all-pairs). The planted corpus
    * ([[Multimodal.attachBlobDup]]) puts each group's raster through
    * three different REAL containers (BMP/PPM/PNG — re-encoded
    * duplicates must hash identically, which only holds if all three
    * codecs decode to the same raster) plus single-byte-perturbed
    * copies that straddle the <=3 accept boundary. The DuckDB oracle
    * recomputes BOTH hashes from the md5 construction via the
    * period-16 cycled-payload closed form (cyclic prefix sums — no
    * container parsing) and does an EXHAUSTIVE all-pairs hamming scan;
    * pigeonhole completeness means the engine's banded join must
    * reproduce it pair-for-pair, recall exactly 1.0. Bounded to
    * doc_id < 600 like its simhash/minhash siblings (the exhaustive
    * oracle is quadratic; the construction repeats every 6 ids). */
  def multimodalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).where(col("doc_id") < 600)
    val sigs = Multimodal.withPerceptualHash(
      spark, Multimodal.attachBlobDup(docs)).localCheckpoint()
    val pairs = Dedup.simhashPairsFromSigs(
      sigs.select(col("id"), col("ahash").as("simhash")), maxHamming = 3)
    val dh = sigs.select(col("id"), col("dhash"))
    pairs
      .join(dh.select(col("id").as("doc_a"), col("dhash").as("dh_a")), "doc_a")
      .join(dh.select(col("id").as("doc_b"), col("dhash").as("dh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
              col("hamming").as("ham_ahash"),
              expr("CAST(bit_count(dh_a ^ dh_b) AS INT)").as("ham_dhash"))
  }

  private val multimodalDedupSql =
    """WITH d AS (
      |  SELECT doc_id, doc_id // 6 AS g, CAST(doc_id % 6 AS INTEGER) AS j
      |  FROM documents WHERE doc_id < 600),
      |s AS (
      |  SELECT doc_id, j, md5(CAST(g AS VARCHAR)) AS x FROM d),
      |dims AS (
      |  SELECT doc_id, j, x,
      |    ((strpos('0123456789abcdef', substr(x, 1, 1)) - 1) * 16
      |     + strpos('0123456789abcdef', substr(x, 2, 1)) - 1) % 128 + 16 AS w,
      |    ((strpos('0123456789abcdef', substr(x, 3, 1)) - 1) * 16
      |     + strpos('0123456789abcdef', substr(x, 4, 1)) - 1) % 128 + 16 AS h
      |  FROM s),
      |pb AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(1, 16), i ->
      |      (((strpos('0123456789abcdef', substr(x, 2*i - 1, 1)) - 1) * 16
      |        + strpos('0123456789abcdef', substr(x, 2*i, 1)) - 1)
      |       + CASE WHEN j >= 3 AND i = j - 2 THEN 16 ELSE 0 END) % 256) AS p
      |  FROM dims),
      |gr AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(0, 15), m ->
      |      (p[(3*m) % 16 + 1] + p[(3*m + 1) % 16 + 1] + p[(3*m + 2) % 16 + 1]) // 3) AS G
      |  FROM pb),
      |pre AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(0, 16), k -> COALESCE(list_sum(G[1:k]), 0)) AS pf,
      |    list_sum(G) AS S
      |  FROM gr),
      |ac AS (
      |  SELECT doc_id, w, h, pf, S,
      |    list_transform(generate_series(0, 63), c ->
      |      list_sum(list_transform(
      |        generate_series((c // 8) * h // 8, (c // 8 + 1) * h // 8 - 1), y ->
      |          ((y * w + (c % 8 + 1) * w // 8) // 16) * S
      |          + pf[(y * w + (c % 8 + 1) * w // 8) % 16 + 1]
      |          - ((y * w + (c % 8) * w // 8) // 16) * S
      |          - pf[(y * w + (c % 8) * w // 8) % 16 + 1]))
      |      // (((c // 8 + 1) * h // 8 - (c // 8) * h // 8)
      |         * ((c % 8 + 1) * w // 8 - (c % 8) * w // 8))) AS cell
      |  FROM pre),
      |dc AS (
      |  SELECT doc_id, cell,
      |    list_transform(generate_series(0, 71), c ->
      |      list_sum(list_transform(
      |        generate_series((c // 9) * h // 8, (c // 9 + 1) * h // 8 - 1), y ->
      |          ((y * w + (c % 9 + 1) * w // 9) // 16) * S
      |          + pf[(y * w + (c % 9 + 1) * w // 9) % 16 + 1]
      |          - ((y * w + (c % 9) * w // 9) // 16) * S
      |          - pf[(y * w + (c % 9) * w // 9) % 16 + 1]))
      |      // (((c // 9 + 1) * h // 8 - (c // 9) * h // 8)
      |         * ((c % 9 + 1) * w // 9 - (c % 9) * w // 9))) AS dcell
      |  FROM ac),
      |bits AS (
      |  SELECT doc_id,
      |    list_transform(cell, cc -> CASE WHEN cc > list_sum(cell) // 64 THEN 1 ELSE 0 END) AS abits,
      |    list_transform(generate_series(0, 63), k ->
      |      CASE WHEN dcell[(k // 8) * 9 + (k % 8) + 2] > dcell[(k // 8) * 9 + (k % 8) + 1]
      |           THEN 1 ELSE 0 END) AS dbits
      |  FROM dc)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_filter(generate_series(1, 64), k -> a.abits[k] != b.abits[k])) AS INTEGER) AS ham_ahash,
      |  CAST(len(list_filter(generate_series(1, 64), k -> a.dbits[k] != b.dbits[k])) AS INTEGER) AS ham_dhash
      |FROM bits a JOIN bits b ON a.doc_id < b.doc_id
      |WHERE len(list_filter(generate_series(1, 64), k -> a.abits[k] != b.abits[k])) <= 3""".stripMargin

  /** Embedding L2-normalize + int8 quantization. The squared norm is
    * summed through DECIMAL(20,12) per element (order-independent,
    * engine-portable); quantized components are exact integer math
    * after one deterministic double division each. Pure per-row — no
    * shuffle. */
  def embeddingNormQuant(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("norm_sq", expr(
        """CAST(aggregate(embedding, CAST(0 AS DECIMAL(24,12)),
          |  (acc, x) -> CAST(acc + CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)
          |                             AS DECIMAL(20,12))
          |              AS DECIMAL(24,12))) AS DOUBLE)""".stripMargin))
      .withColumn("norm", sqrt(col("norm_sq")))
      .withColumn("qv", expr(
        "transform(embedding, x -> CAST(round((127 * CAST(x AS DOUBLE)) / norm, 0) AS INT))"))
      .select(col("vec_id"), col("norm"),
              element_at(col("qv"), 1).as("q0"),
              expr("aggregate(qv, 0L, (acc, y) -> acc + y)").as("qsum"))

  private val embeddingNormQuantSql =
    """WITH n AS (SELECT vec_id, embedding,
      |  sqrt(CAST(list_sum(list_transform(embedding,
      |         x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(20,12))))
      |       AS DOUBLE)) AS norm
      |  FROM embeddings),
      |q AS (SELECT vec_id, norm,
      |  list_transform(embedding,
      |    x -> CAST(round((127 * CAST(x AS DOUBLE)) / norm) AS INT)) AS qv
      |  FROM n)
      |SELECT vec_id, norm, qv[1] AS q0, CAST(list_sum(qv) AS BIGINT) AS qsum
      |FROM q""".stripMargin

  /** Johnson-Lindenstrauss random projection (#40b): 64-dim embeddings
    * → 8 dims through a ±1 sign matrix (Achlioptas 2003's
    * database-friendly JL construction — ±1 entries preserve pairwise
    * distances in expectation like Gaussians do, but the projection is
    * pure adds/subtracts). The signs are CONTENT-INDEPENDENT constants
    * derived from md5(k|j) (first hex char ≤ '7' → +1), so the engine
    * folds the whole matrix into plan literals at build time — zero
    * per-row hashing, one scan, no shuffle — while the oracle
    * re-derives the identical signs in SQL. Each output component is
    * the [[embeddingNormQuant]] decimal-routed sum (±x is an exact
    * IEEE sign flip; per-term DECIMAL(20,12) casts make the sum
    * order-independent), so all 8 projections are hash-exact.
    *
    * Bit-exactness: each component is ONE fixed left-associated
    * 64-term ±x chain over exactly-widened floats (the [[ewmaSql]]
    * discipline — identical IEEE add/negate trees on both engines;
    * per-row, so there is no aggregation-order surface at all). A
    * decimal-routed sum was measured to 1-ulp-drift here: float
    * expansions TIE at the 12th decimal often enough that Spark's
    * HALF_UP and DuckDB's decimal cast disagree — the fixed tree
    * sidesteps rounding entirely.
    *
    * This is the dimensionality-reduction front-end the similarity
    * family composes with: at 100 TB you JL-project once and run
    * LSH/IVF in the cheap space (the plan literal matrix ships with
    * the task binary, not the data). */
  def jlProject(spark: SparkSession, dir: String): DataFrame = {
    val proj = (0 until JlDims).map { k =>
      (1 to JlSrcDims).map { j =>
        val e = element_at(col("embedding"), j).cast("double")
        if (jlSign(k, j) > 0) e else -e
      }.reduceLeft(_ + _).as(s"p$k")
    }
    Tables.embeddings(spark, dir).select((col("vec_id") +: proj): _*)
  }

  private val JlSrcDims = 64
  private val JlDims = 8

  /** The Achlioptas ±1 entry at (k, j), derived from md5 so the matrix
    * is reproducible from public arithmetic alone (first hex char of
    * md5("k|j") ≤ '7' → +1 — an unbiased bit). */
  private def jlSign(k: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$k|$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (hex.charAt(0) <= '7') 1.0 else -1.0
  }

  private val jlProjectSql = {
    val comps = (0 until JlDims).map { k =>
      (1 to JlSrcDims).map { j =>
        val term = s"CAST(embedding[$j] AS DOUBLE)"
        if (j == 1) { if (jlSign(k, j) > 0) term else s"-$term" }
        else if (jlSign(k, j) > 0) s"+ $term" else s"- $term"
      }.grouped(4).map(_.mkString(" ")).mkString("\n    ") + s" AS p$k"
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $comps
       |FROM embeddings""".stripMargin
  }

  /** Segment-level corpus dedup (#23a, Corpus.dedupLines): 8-token
    * segments appearing in >2 distinct docs are boilerplate and get
    * dropped from every doc; docs are reassembled in segment order.
    * The oracle recomputes the whole pass — segmentation arithmetic,
    * corpus frequencies, order-preserving reassembly — exactly. */
  def dedupLines(spark: SparkSession, dir: String): DataFrame =
    Corpus.dedupLines(Tables.documents(spark, dir), "doc_id", "text",
      segTokens = 8, maxDocs = 2)

  private val dedupLinesSql =
    """WITH t AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |s AS (SELECT doc_id, i AS seg_idx,
      |        array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS seg
      |      FROM t, UNNEST(generate_series(0, greatest((len(toks)+7)//8 - 1, 0))) AS u(i)),
      |c AS (SELECT seg, COUNT(DISTINCT doc_id) AS n_docs FROM s GROUP BY 1),
      |f AS (SELECT s.doc_id, s.seg_idx, s.seg, c.n_docs <= 2 AS kept
      |      FROM s JOIN c USING (seg))
      |SELECT doc_id,
      |  COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept), '') AS clean_text,
      |  CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
      |  CAST(COUNT(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dropped
      |FROM f GROUP BY 1""".stripMargin

  /** Benchmark decontamination (#23b, Corpus.decontaminate): docs with
    * doc_id % 10 == 0 stand in for the eval suite; every training doc
    * sharing any distinct 8-gram with it is flagged with the shared
    * count. Non-degenerate at every SF (the planted near-dup groups
    * straddle the id split). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Corpus.decontaminate(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 8)
  }

  /** [[decontaminate]] on the PRODUCTION xxhash64 gram-key path
    * (#23b production twin, Corpus.decontaminateXx — zero-copy word
    * grams instead of interpreted shingle strings). Hit counts are
    * hash-equality either way and the output carries no gram values,
    * so the SAME oracle SQL hash-gates this form end-to-end. */
  def decontaminateXx(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Corpus.decontaminateXx(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 8)
  }

  private val decontaminateSql =
    """WITH t AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(len(toks) - 7, 1)),
      |      i -> array_to_string(toks[i:i+7], ' ')))) AS gram
      |  FROM t),
      |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
      |h AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |      FROM g WHERE doc_id % 10 <> 0
      |        AND gram IN (SELECT gram FROM ev) GROUP BY 1)
      |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
      |  COALESCE(h.n_hits, 0) > 0 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
      |LEFT JOIN h USING (doc_id)""".stripMargin

  /** Near-dup cluster resolution: unigram-jaccard ≥ 0.95 pair graph →
    * connected components (Dedup.clusters min-label propagation). The
    * recursive-CTE oracle checks the full transitive closure — i.e.
    * the distributed loop reaches the exact fixpoint. Pair generation
    * here is the small all-pairs oracle shape; at scale the SAME
    * clusters() consumes minhashPairs/simhashPairs output. */
  /** Pair generation for [[dedupClusters]], exposed for PlanSpec. */
  private[graft] def dedupClusterPairs(spark: SparkSession,
                                       dir: String): DataFrame = {
    // repartition BEFORE the quadratic verify: the filtered slice comes
    // out of one parquet file = one partition, and a nested-loop join
    // inherits the streamed side's partitioning — without the spread,
    // every pairwise jaccard runs on a single task no matter how many
    // cores the cluster has
    val nPart = spark.sessionState.conf.numShufflePartitions
    // ONE threshold for both the prefilter and the verify: the
    // prefilter is only a necessary condition of jaccard >= tau when
    // both use the SAME tau — raising the verify threshold without the
    // prefilter (or vice versa) would silently drop true pairs
    val tau = 0.95
    val toks = Tables.documents(spark, dir)
      .where(col("doc_id") < 200)
      .select(col("doc_id"),
        array_distinct(split(TextFunctions.normalize(col("text")), " ")).as("toks"))
      .withColumn("n", size(col("toks")))
      .repartition(nPart)
    // size-ratio prefilter inside the join condition: jaccard >= tau
    // forces |small|/|large| >= tau (intersection <= small, union >=
    // large), so the cheap scalar test prunes pairs before the
    // per-pair set ops — a necessary condition, never drops a true pair
    toks.as("a").join(toks.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n"), col("b.n")).cast("double") >=
          greatest(col("a.n"), col("b.n")).cast("double") * tau)
      .where((size(array_intersect(col("a.toks"), col("b.toks"))).cast("double") /
        size(array_union(col("a.toks"), col("b.toks"))).cast("double")) >= tau)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusters(dedupClusterPairs(spark, dir), "doc_a", "doc_b")

  /** The same pair graph resolved by the degree-bounded
    * large-star/small-star loop ([[Dedup.clustersStar]]) under the
    * same recursive-CTE oracle — the driver gate proves both CC
    * implementations reach the identical transitive-closure fixpoint. */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame =
    Dedup.clustersStar(dedupClusterPairs(spark, dir), "doc_a", "doc_b")

  /** The same pair graph through [[Dedup.clustersAuto]] — driver-gates
    * the degree-measuring router end to end (this corpus's dup graph
    * is shallow, so auto routes to the jump loop; ScaleSpec pins the
    * star route on a planted hub graph). Same oracle as the other two:
    * whichever algorithm auto picks must reach the identical
    * transitive-closure fixpoint. */
  def dedupClustersAuto(spark: SparkSession, dir: String): DataFrame =
    Dedup.clustersAuto(dedupClusterPairs(spark, dir), "doc_a", "doc_b")

  private val dedupClustersSql =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id,
      |    list_distinct(regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
      |  FROM documents WHERE doc_id < 200),
      |e0 AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst FROM t a JOIN t b
      |  ON a.doc_id < b.doc_id
      |  AND CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
      |      / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.95),
      |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
      |SELECT id AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY id""".stripMargin

  /** Fuzzy (edit-distance) entity matching over supplier names —
    * near-identical names are merge candidates. The all-pairs join here
    * is the small oracle shape; at corpus scale, block first (length /
    * q-gram / LSH buckets) and run levenshtein only inside blocks,
    * exactly like the minhash→jaccard verify split. */
  def fuzzyNameMatch(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.plans.Bounds.declare(
        Tables.supplier(spark, dir).where(col("s_suppkey") < 100),
        100, "fuzzy candidate set: s_suppkey < 100 assumed unique")
      .select(col("s_suppkey"), col("s_name"))
    s.as("a").join(s.as("b"), col("a.s_suppkey") < col("b.s_suppkey"))
      .select(col("a.s_suppkey").as("key_a"), col("b.s_suppkey").as("key_b"),
              levenshtein(col("a.s_name"), col("b.s_name")).as("dist"))
      .where(col("dist") <= 1) // dist computed ONCE per pair
  }

  private val fuzzyNameMatchSql =
    """SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
      |  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
      |FROM (SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey < 100) a
      |JOIN (SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey < 100) b
      |  ON a.s_suppkey < b.s_suppkey
      |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin

  /** Blocked fuzzy matching (#49a): [[operators.Fuzzy.selfJoin]] over
    * the FULL supplier table — the scale path [[fuzzyNameMatch]]'s
    * all-pairs gate points at. FastSS deletion-neighborhood blocking
    * is LOSSLESS for ed ≤ 1, so this must equal the all-pairs result
    * exactly — and the oracle IS the all-pairs result: DuckDB computes
    * the quadratic form the engine refuses to materialize, and the
    * hashes must still agree. */
  def fuzzyMatchBlocked(spark: SparkSession, dir: String): DataFrame =
    operators.Fuzzy.selfJoin(
      Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name")),
      "s_suppkey", "s_name", maxDist = 1)

  private val fuzzyMatchBlockedSql =
    """SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
      |  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
      |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin

  // ------------------------------------------------------- #51 k-means

  /** Fixed 8 centroids for the k-means driver gates: the embeddings of
    * vec_id < 8, collected once at plan build (8 rows — bounded, like
    * the IVF training sample). Fixed rather than learned so the DuckDB
    * oracle can recompute the assignment exactly. */
  private def fixedCentroids(spark: SparkSession, dir: String): Seq[(Int, Array[Float])] =
    Tables.embeddings(spark, dir).where(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq

  /** K-means assignment driver gate (#51): Cluster.assign (the per-row
    * zero-exchange cosine argmax — the same path Cluster.fit iterates)
    * against the 8 fixed centroids, summarized per cluster with
    * integer-exact members/id-sum. The oracle recomputes the argmax
    * with list_cosine_similarity; comparisons agree across engines
    * (the dedup_embedding_sound precedent) and random-vector margins
    * are far above ulp scale, so membership is deterministic. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    Cluster.assign(Tables.embeddings(spark, dir), "vec_id", "embedding",
                   fixedCentroids(spark, dir))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("id_sum"))

  private val kmeansAssignSql =
    """WITH c AS (SELECT vec_id AS cell, embedding AS cvec
      |           FROM embeddings WHERE vec_id < 8),
      |a AS (SELECT v.vec_id, c.cell,
      |        row_number() OVER (PARTITION BY v.vec_id
      |          ORDER BY list_cosine_similarity(v.embedding, c.cvec) DESC,
      |                   c.cell) AS rk
      |      FROM embeddings v, c)
      |SELECT cell AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
      |       CAST(SUM(vec_id) AS BIGINT) AS id_sum
      |FROM a WHERE rk = 1 GROUP BY 1""".stripMargin

  /** Prototypicality pruning gate (#51a): keep the half of each
    * cluster most similar to its centroid — cluster-balanced curation
    * (every cluster keeps its quota; a global similarity cut would
    * empty whole clusters). Ids-only output for the same
    * comparisons-agree reason as the assignment gate. */
  def kmeansPrune(spark: SparkSession, dir: String): DataFrame =
    Cluster.prototypicalPrune(Tables.embeddings(spark, dir), "vec_id",
                              "embedding", fixedCentroids(spark, dir), 0.5)
      .select(col("vec_id"), col("cluster_id"))

  private val kmeansPruneSql =
    """WITH c AS (SELECT vec_id AS cell, embedding AS cvec
      |           FROM embeddings WHERE vec_id < 8),
      |a AS (SELECT v.vec_id, c.cell,
      |        list_cosine_similarity(v.embedding, c.cvec) AS cos,
      |        row_number() OVER (PARTITION BY v.vec_id
      |          ORDER BY list_cosine_similarity(v.embedding, c.cvec) DESC,
      |                   c.cell) AS rk
      |      FROM embeddings v, c),
      |b AS (SELECT vec_id, cell, cos FROM a WHERE rk = 1),
      |r AS (SELECT vec_id, cell,
      |        row_number() OVER (PARTITION BY cell
      |          ORDER BY cos DESC, vec_id) AS mrk,
      |        COUNT(*) OVER (PARTITION BY cell) AS n
      |      FROM b)
      |SELECT vec_id, cell AS cluster_id FROM r
      |WHERE mrk <= CEIL(n * 0.5)""".stripMargin

  /** Distributed k-means end to end (#51, rows-only — the float
    * iteration isn't oracle-expressible; ClusterSpec carries exact
    * parity vs an independent Lloyd's on integer-planted data):
    * seeded k-means++ init, 5 Lloyd iterations over the whole corpus
    * (one partial-agg shuffle each), final cluster census. */
  def kmeansFitSizes(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = Cluster.fit(emb, "vec_id", "embedding", k = 8, maxIters = 5)
    Cluster.assign(emb, "vec_id", "embedding", cents)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
  }

  /** Entity resolution (#49b): the composition the master-data flow
    * actually runs — [[operators.Fuzzy.selfJoin]]'s lossless blocked
    * match pairs resolved to canonical entity ids by connected
    * components ([[Dedup.clusters]]'s transitive closure): a↔b and
    * b↔c merge a,b,c under one representative even when a↔c exceeds
    * the edit threshold. Oracle recomputes the pairs ALL-PAIRS and
    * the closure as a recursive CTE (the dedup_clusters machinery).
    * Only keys participating in ≥1 match appear — singletons are the
    * corpus, not a result. */
  def entityResolution(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusters(
      operators.Fuzzy.selfJoin(
        Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name")),
        "s_suppkey", "s_name", maxDist = 1),
      "key_a", "key_b")
      .select(col("doc_id").as("s_suppkey"), col("cluster_rep").as("entity_rep"))

  private val entityResolutionSql =
    """WITH RECURSIVE s AS (
      |  SELECT s_suppkey, s_name FROM supplier),
      |e0 AS (
      |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
      |  FROM s a JOIN s b ON a.s_suppkey < b.s_suppkey
      |  WHERE levenshtein(a.s_name, b.s_name) <= 1),
      |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
      |SELECT id AS s_suppkey, MIN(r) AS entity_rep FROM reach GROUP BY id""".stripMargin

  /** PCA sound gate (#59): the moment sums are the one order-sensitive
    * stage of [[Pca.fit]], so the gate plants integer-valued ONE-HOT
    * vectors (coordinate = vec_id mod 16, value = ±(vec_id mod 7 + 1),
    * uncentered fit): every product and partial sum is an exact small
    * integer in doubles at ANY aggregation order, the second-moment
    * matrix is exactly diagonal, Jacobi converges in zero rotations to
    * the exact identity, and the projection is a coordinate lookup —
    * all of which DuckDB recomputes bit-for-bit. The pruning/ranking
    * (variance-desc, coordinate-asc ties) is part of the contract. */
  private def pcaPlanted(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"),
      expr("""transform(sequence(0, 15), i ->
             |  CAST(IF(i = vec_id % 16,
             |          (CAST(vec_id % 7 AS INT) + 1)
             |            * IF((vec_id DIV 16) % 2 = 0, 1, -1),
             |          0) AS FLOAT))""".stripMargin).as("embedding"))

  def pcaSound(spark: SparkSession, dir: String): DataFrame = {
    val planted = pcaPlanted(spark, dir)
    val model = Pca.fit(planted, "embedding", k = 5, center = false)
    // Scalar (vec_id, idx, val) rows, not an array column: the driver's
    // oracle compare sorts result columns with pandas, which cannot
    // order array cells — flattening makes every cell hashable.
    Pca.project(planted, "embedding", model)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("idx", "val")))
  }

  private val pcaSoundSql =
    """WITH v AS (SELECT vec_id,
      |    CAST(vec_id % 16 AS INTEGER) AS c,
      |    CAST((vec_id % 7 + 1)
      |         * (CASE WHEN (vec_id // 16) % 2 = 0 THEN 1 ELSE -1 END)
      |         AS DOUBLE) AS val
      |  FROM embeddings),
      |m AS (SELECT c, SUM(val * val) / (SELECT COUNT(*) FROM v) AS moment
      |      FROM v GROUP BY 1),
      |ord AS (SELECT c, ROW_NUMBER() OVER (ORDER BY moment DESC, c) AS rk
      |        FROM m),
      |tops AS (SELECT c, CAST(rk - 1 AS INTEGER) AS idx FROM ord WHERE rk <= 5)
      |SELECT v.vec_id, tops.idx,
      |  CASE WHEN tops.c = v.c THEN v.val ELSE 0.0 END AS val
      |FROM v CROSS JOIN tops""".stripMargin

  /** PCA projection on the real embeddings (#59 production path):
    * centered fit, k=8, whitened output. Rows-only driver check by
    * nature — distributed float moment sums are deterministic per
    * plan but not bit-pinned across partitionings; the machinery is
    * gated exactly by `pca_sound` and structurally by PcaSpec. */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val model = Pca.fit(emb, "embedding", k = 8)
    // Flattened like pca_sound so the rows-only driver check can
    // sort and count without hitting an unhashable array column.
    Pca.project(emb, "embedding", model, whiten = true)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("idx", "val")))
  }

  /** Per-source duplication profile (#23c): docs, distinct normalized
    * texts, and the duplication ratio per source — the triage report
    * that decides WHERE dedup effort goes before any pair generation
    * runs (a source at 100× duplication wants exact collapse first;
    * one at 1.01× may not be worth an LSH pass). One partial-agg
    * shuffle on (source, fingerprint), then a tiny per-source agg;
    * the ratio is one exact-int division (dsum discipline). */
  def dedupProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"),
               TextFunctions.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
           count(lit(1)).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (col("n_docs").cast("double") / col("n_distinct").cast("double"))
          .as("dup_ratio"))

  private val dedupProfileSql =
    """WITH f AS (SELECT source,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    COUNT(*) AS n
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_distinct,
      |  CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
      |FROM f GROUP BY 1""".stripMargin

  /** Cross-source vocabulary overlap by sketch inclusion–exclusion
    * (#46d): |A∩B| ≈ ndv(A) + ndv(B) − ndv(A∪B), with the union NDV
    * from `hll_union` of the two per-source sketches — the
    * dedup-PLANNING signal at 100 TB: which corpus pairs overlap
    * enough to deserve a cross-corpus dedup pass (#24a/#24c), decided
    * from source-sized sketches without ever joining the corpora. The
    * production plan is the sketch side alone: one scan, map-side
    * partial sketches, a sources² (tiny) pair join of register-max
    * unions — deterministic under any partitioning, so the tolerance
    * flag gates it (ndv_cube pattern). The exact per-source NDVs and
    * the exact pairwise overlap (a (source,word)-distinct self-join)
    * are the GATE'S price, not the plan. */
  def sourceOverlapApprox(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    val sk = raw.groupBy(col("source"))
      .agg(hll_sketch_agg(col("word")).as("sk"))
    val d = raw.distinct()
    val nd = d.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    // sources-sized, but the checkpoint hides that from the plan: the
    // declared bound makes the all-pairs grid classify bounded and
    // raises loudly if a corpus ever carries > 1024 sources
    val per = graft.plans.Bounds.declare(
      sk.join(nd, "source").localCheckpoint(true), 1024, "source grid")
    val shared = d.as("x").join(d.as("y"),
        col("x.word") === col("y.word") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_overlap"))
    val pairs = per.as("a").join(per.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
              col("a.nd").as("nd_a"), col("b.nd").as("nd_b"),
              hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk")))
                .as("est_u"))
    pairs.join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("nd_a"), col("nd_b"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (abs(col("nd_a") + col("nd_b") - col("est_u") - col("n_overlap")) <=
          greatest((col("nd_a") + col("nd_b")) * lit(0.08), lit(24.0)))
          .as("approx_ok"))
  }

  private val sourceOverlapApproxSql =
    """WITH d AS (
      |  SELECT DISTINCT source, word
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word
      |        FROM documents) t),
      |nd AS (SELECT source, COUNT(*) AS nd FROM d GROUP BY 1),
      |sh AS (SELECT x.source AS src_a, y.source AS src_b,
      |         COUNT(*) AS n_overlap
      |       FROM d x JOIN d y
      |         ON x.word = y.word AND x.source < y.source
      |       GROUP BY 1, 2)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  a.nd AS nd_a, b.nd AS nd_b,
      |  COALESCE(sh.n_overlap, 0) AS n_overlap, TRUE AS approx_ok
      |FROM nd a JOIN nd b ON a.source < b.source
      |LEFT JOIN sh ON sh.src_a = a.source AND sh.src_b = b.source""".stripMargin

  /** Exact prefix-filtered Jaccard join (#26b): every document pair
    * with token-set Jaccard ≥ 9/10 — see
    * [[operators.SetJoin.prefixJaccardSelfJoin]]. The EXACT-recall
    * complement to the MinHash path (#24): LSH recall is
    * probabilistic, the prefix filter lossless — and like
    * fuzzy_match_blocked, losslessness IS the oracle: DuckDB computes
    * the all-pairs quadratic form and the blocked result must
    * hash-match it. Gate corpus bounded to doc_id < 2000 (the
    * containment-gate rule: full table at the driver's sf0.01, a
    * fixed slice above) because BOTH sides of the compare are
    * quadratic-ish on this deliberately dup-dense corpus — at sf0.1
    * the unbounded pair count is ~1M and the bench line would be all
    * gate, no signal. The UNBOUNDED form was probed at 100× over the
    * full 500k-doc table (collapse-first, 26 s zero-spill; SCALE100.md). */
  def jaccardJoinExact(spark: SparkSession, dir: String): DataFrame =
    operators.SetJoin.prefixJaccardSelfJoin(
      Tables.documents(spark, dir).where(col("doc_id") < 2000),
      "doc_id", "text", tauNum = 9, tauDen = 10)

  private val jaccardJoinExactSql =
    """WITH d AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents WHERE doc_id < 2000),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
      |        CAST(len(a.toks) AS BIGINT) AS sz_a,
      |        CAST(len(b.toks) AS BIGINT) AS sz_b
      |      FROM d a JOIN d b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, inter, sz_a, sz_b,
      |  CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE)
      |    AS jaccard
      |FROM p WHERE inter * 10 >= (sz_a + sz_b - inter) * 9""".stripMargin

  /** Per-label embedding centroids (#40c): exact per-dimension means
    * of each label's vectors — the mixture diagnostic SemDeDup/IVF
    * sit on (how far apart are the label clusters, is a source
    * drifting) and the warm-start k-means initializer. The GATE form
    * folds each (label, dim) group's values in vec_id order — one
    * fixed left-associated IEEE chain, so both engines produce the
    * identical double. Two cheaper forms were measured and rejected
    * for the gate: casting the FLOAT straight to DECIMAL(20,12) lets
    * Spark round the 9-digit shortest float repr where DuckDB rounds
    * the exact binary (1e-9 drift), and widening to double first
    * still tie-breaks the 12th decimal differently about once per
    * 10⁵ casts (1e-14 drift). Small floats simply have no exact
    * decimal representation inside the 38-digit cap, so order-free
    * decimal sums cannot gate this — the PRODUCTION swap at 100 TB is
    * exactly that plain decimal-sum mean (deterministic under any
    * partitioning, 1e-14-close); the fold pins the arithmetic at gate
    * scale, where per-(label,dim) groups are collect-size-bounded. */
  def embeddingCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"),
              posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sort_array(collect_list(
             struct(col("vec_id"), col("v").cast("double").as("v"))))
             .as("vs"),
           count(lit(1)).as("n_vecs"))
      .select(col("label"), col("dim"), col("n_vecs"),
        (expr("aggregate(vs, 0.0D, (acc, p) -> acc + p.v)") /
          col("n_vecs").cast("double")).as("centroid"))

  private val embeddingCentroidsSql =
    """WITH x AS (
      |  SELECT label, CAST(i - 1 AS INT) AS dim, vec_id,
      |    CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i))
      |SELECT label, dim, COUNT(*) AS n_vecs,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |                           list(v ORDER BY vec_id)),
      |              (a, b) -> a + b)
      |    / CAST(COUNT(*) AS DOUBLE) AS centroid
      |FROM x GROUP BY 1, 2""".stripMargin

  /** SemDeDup (#62): within-cluster semantic dedup over the 8 fixed
    * gate centroids at τ=0.4 (the corpus's p9999 cosine — a sparse,
    * realistic near-dup graph), min-id representatives. Every stage
    * is engine-portable: the argmax assignment (kmeans_assign
    * precedent), exact cosine comparisons, and the component
    * resolution (dedup_clusters precedent) — so the oracle recomputes
    * the FULL pipeline. See [[SemDedup.prune]]. */
  def semdedup(spark: SparkSession, dir: String): DataFrame =
    SemDedup.prune(Tables.embeddings(spark, dir), "vec_id", "embedding",
                   fixedCentroids(spark, dir), tau = 0.4)
      .select(col("id").as("vec_id"), col("semgroup"), col("keep"))

  private val semdedupSql =
    """WITH RECURSIVE m AS (SELECT vec_id AS id, embedding AS vec,
      |    MIN(vec_id) OVER (PARTITION BY embedding::VARCHAR) AS gid
      |  FROM embeddings),
      |u AS (SELECT gid AS id, vec FROM m WHERE id = gid),
      |c AS (SELECT vec_id AS cell, embedding AS cvec
      |      FROM embeddings WHERE vec_id < 8),
      |a AS (SELECT u.id, u.vec, c.cell,
      |        row_number() OVER (PARTITION BY u.id
      |          ORDER BY list_cosine_similarity(u.vec, c.cvec) DESC,
      |                   c.cell) AS rk
      |      FROM u, c),
      |asg AS (SELECT id, vec, cell FROM a WHERE rk = 1),
      |e0 AS (SELECT x.id AS src, y.id AS dst FROM asg x JOIN asg y
      |       ON x.cell = y.cell AND x.id < y.id
      |       AND list_cosine_similarity(x.vec, y.vec) >= 0.4),
      |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |reach(id, r) AS (SELECT src, src FROM edges
      |  UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      |compo AS (SELECT id, MIN(r) AS semgroup FROM reach GROUP BY id),
      |ru AS (SELECT u.id, COALESCE(compo.semgroup, u.id) AS semgroup,
      |         (COALESCE(compo.semgroup, u.id) = u.id) AS keep
      |       FROM u LEFT JOIN compo USING (id))
      |SELECT m.id AS vec_id, ru.semgroup, (ru.keep AND m.id = m.gid) AS keep
      |FROM m JOIN ru ON ru.id = m.gid""".stripMargin

  /** Exact duplicate-substring excision (#58): see
    * [[Corpus.exciseDupSubstrings]]. The oracle recomputes removal
    * coverage per character with an ASOF join (greatest dup-gram
    * start at-or-before each position; covered iff it is within k)
    * — a genuinely different formulation from the engine's interval
    * merge, so agreement is evidence, not echo. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    Corpus.exciseDupSubstrings(Tables.documents(spark, dir),
                               "doc_id", "text", k = 20)

  /** [[dedupSubstring]] on the PRODUCTION zero-copy xxhash64 gram
    * digest (#58 production twin, Corpus.exciseDupSubstringsXx). The
    * digest only keys the dup-gram table; the excised text is
    * digest-independent, so the SAME oracle SQL hash-gates this form
    * end-to-end. */
  def dedupSubstringXx(spark: SparkSession, dir: String): DataFrame =
    Corpus.exciseDupSubstringsXx(Tables.documents(spark, dir),
                                 "doc_id", "text", k = 20)

  private val dedupSubstringSql =
    """WITH d AS (SELECT doc_id,
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      |  FROM documents),
      |g AS (SELECT doc_id, i, md5(substr(t, CAST(i AS INTEGER), 20)) AS h
      |      FROM d, UNNEST(generate_series(1, len(t) - 19)) AS u(i)
      |      WHERE len(t) >= 20),
      |dup AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS c
      |                       FROM g GROUP BY 1) WHERE c >= 2),
      |s AS (SELECT doc_id, i FROM g JOIN dup USING (h)),
      |chars AS (SELECT doc_id, p, substr(t, CAST(p AS INTEGER), 1) AS ch
      |          FROM d, UNNEST(generate_series(1, len(t))) AS u(p)),
      |cov AS (SELECT c.doc_id, c.p, c.ch, s.i AS last_start
      |        FROM chars c ASOF LEFT JOIN s
      |          ON s.doc_id = c.doc_id AND s.i <= c.p)
      |SELECT d.doc_id,
      |  COALESCE(x.clean_text, '') AS clean_text,
      |  COALESCE(x.n_removed, 0) AS n_removed
      |FROM d LEFT JOIN (
      |  SELECT doc_id,
      |    COALESCE(string_agg(ch, '' ORDER BY p)
      |      FILTER (WHERE last_start IS NULL OR p >= last_start + 20), '')
      |      AS clean_text,
      |    CAST(COUNT(*) FILTER (WHERE last_start IS NOT NULL
      |                            AND p < last_start + 20) AS BIGINT)
      |      AS n_removed
      |  FROM cov GROUP BY 1) x USING (doc_id)""".stripMargin

  /** Winnowing fingerprints (#55): k=8, w=4 — see [[Corpus.winnow]]. */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    Corpus.winnow(Tables.documents(spark, dir), "doc_id", "text", k = 8, w = 4)

  private val winnowFingerprintSql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 11),
      |g0 AS (SELECT doc_id, text, length(text) - 7 AS ng,
      |       unnest(range(1, length(text) - 6)) AS i FROM d),
      |g AS (SELECT doc_id, i, ng,
      |      CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 15)
      |           AS BIGINT) AS h FROM g0),
      |m AS (SELECT doc_id, i, ng,
      |      min(h) OVER (PARTITION BY doc_id ORDER BY i
      |                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |      FROM g)
      |SELECT DISTINCT doc_id, fp FROM m WHERE i <= ng - 3""".stripMargin

  /** Winnow with the PRODUCTION xxhash64 digest (#55): same grams,
    * same deque, digest swapped off the md5 wall (~2B MessageDigest
    * calls at 1000× — SCALE1000.md r13). Rows-gated; its deque core is
    * hash-gated through `winnow_fingerprint` (md5 twin) and
    * `winnow_xx_sound` (planted digest stream). */
  def winnowXxFingerprint(spark: SparkSession, dir: String): DataFrame =
    Corpus.winnowXx(Tables.documents(spark, dir), "doc_id", "text", k = 8, w = 4)

  /** Planted-stream winnow sound twin (#55, the simhash pattern): a
    * digest stream computable in BOTH engines — hᵢ = (doc_id·37 +
    * i·101) mod 1000 over i ∈ [1, 16 + doc_id mod 9] — runs through
    * the ENGINE's deque ([[graft.functions.GraftFunctions
    * .winnowFromHashes]], the exact core `winnow_xx` shares) while
    * DuckDB recomputes window minima + DISTINCT in SQL: hash-exact on
    * everything but the digest function itself, which is Spark's own
    * XXH64. Stream length varies per doc so the boundary windows
    * (first/last, short-tail) are exercised, and the mod-1000 range
    * forces duplicate minima across docs AND windows — the DISTINCT
    * path is load-bearing, not incidental. */
  def winnowXxSound(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).where(col("doc_id") < 500)
      .select(col("doc_id"),
        (lit(16) + col("doc_id") % 9).cast("int").as("n"))
    d.select(col("doc_id"),
        graft.functions.GraftFunctions.winnowFromHashes(
          transform(sequence(lit(1), col("n")),
            i => (col("doc_id") * 37 + i.cast("long") * 101) % 1000),
          4).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
  }

  private val winnowXxSoundSql =
    """WITH d AS (SELECT doc_id, 16 + doc_id % 9 AS n
      |           FROM documents WHERE doc_id < 500),
      |g AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS i FROM d),
      |h AS (SELECT doc_id, n, i,
      |      (doc_id * 37 + i * 101) % 1000 AS h FROM g),
      |m AS (SELECT doc_id, n, i,
      |      min(h) OVER (PARTITION BY doc_id ORDER BY i
      |                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |      FROM h)
      |SELECT DISTINCT doc_id, fp FROM m WHERE i <= n - 3""".stripMargin

  /** Containment dedup (#24b): asymmetric doc-inside-doc pairs over
    * the df-capped vocabulary — see [[Dedup.containmentPairs]]. The
    * oracle mirrors the k-rarest probe-token candidate generation
    * (rank by global df, token text tie-break, k=16) exactly, so the
    * gate is hash-exact at the operator's production parameters —
    * candidate pruning is part of the operator's spec, not slop. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    // bounded gate corpus (the wordpiece_tokenize rule, r10 commit
    // precedent): the DuckDB twin mirrors the k-rarest candidate
    // generation with three corpus-wide self-joins — fine at 20k docs,
    // >20 min at the 100x 500k-doc set. The bound covers the WHOLE
    // table at the driver's sf0.01 gate; the unbounded operator was
    // probed at 100x (10.9 s / 545 MB; SCALE100.md).
    Dedup.containmentPairs(
      Tables.documents(spark, dir).where(col("doc_id") < 20000),
      "doc_id", "text",
      dfNum = 1, dfDen = 5, minNum = 1, minDen = 2,
      maxJoinTokens = 16)

  private val dedupContainmentSql =
    """WITH bd AS (SELECT doc_id, text FROM documents WHERE doc_id < 20000),
      |tok AS (
      |  SELECT DISTINCT doc_id AS doc,
      |    unnest(regexp_split_to_array(
      |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      |  FROM bd),
      |tok2 AS (SELECT * FROM tok WHERE tok <> ''),
      |rare AS (SELECT tok, COUNT(*) AS df FROM tok2 GROUP BY tok
      |        HAVING COUNT(*) * 5 <= (SELECT COUNT(DISTINCT doc_id)
      |                                FROM bd)),
      |rt AS (SELECT t.doc, t.tok, r.df FROM tok2 t JOIN rare r USING (tok)),
      |pk AS (SELECT doc, tok FROM (
      |        SELECT doc, tok,
      |          ROW_NUMBER() OVER (PARTITION BY doc ORDER BY df, tok) AS rn
      |        FROM rt) WHERE rn <= 16),
      |cand AS (SELECT DISTINCT k.doc AS doc_a, b.doc AS doc_b
      |         FROM pk k JOIN rt b ON k.tok = b.tok AND k.doc <> b.doc),
      |sz AS (SELECT doc, COUNT(*) AS n_a FROM rt GROUP BY 1),
      |sh AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
      |       FROM cand c
      |       JOIN rt a ON a.doc = c.doc_a
      |       JOIN rt b ON b.doc = c.doc_b AND b.tok = a.tok
      |       GROUP BY 1, 2)
      |SELECT sh.doc_a, sh.doc_b,
      |  CAST(shared AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
      |FROM sh JOIN sz ON sz.doc = sh.doc_a
      |WHERE shared * 2 >= n_a""".stripMargin

  /** Cross-corpus containment (#24c): fractional contamination — even
    * doc_ids are the "benchmark" needles, odd the training corpus
    * (parity interleaves the testdata's dup clusters so cross pairs
    * exist, as in dedup_cross_corpus). See
    * [[Dedup.containmentPairsAcross]]. */
  def dedupContainmentCross(spark: SparkSession, dir: String): DataFrame = {
    // bounded gate corpus, as in dedup_containment (full table at
    // sf0.01; DuckDB-feasible slice at 100x)
    val docs = Tables.documents(spark, dir).where(col("doc_id") < 20000)
    Dedup.containmentPairsAcross(
      docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", dfNum = 1, dfDen = 5, minNum = 1, minDen = 2,
      maxJoinTokens = 16)
  }

  private val dedupContainmentCrossSql =
    """WITH bd AS (SELECT doc_id, text FROM documents WHERE doc_id < 20000),
      |tok AS (
      |  SELECT DISTINCT doc_id AS doc,
      |    unnest(regexp_split_to_array(
      |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      |  FROM bd),
      |tok2 AS (SELECT * FROM tok WHERE tok <> ''),
      |ta AS (SELECT * FROM tok2 WHERE doc % 2 = 0),
      |tb AS (SELECT * FROM tok2 WHERE doc % 2 = 1),
      |nb AS (SELECT COUNT(DISTINCT doc_id) AS n FROM bd
      |       WHERE doc_id % 2 = 1),
      |dfb AS (SELECT tok, COUNT(*) AS df FROM tb GROUP BY tok),
      |ra AS (SELECT ta.doc, ta.tok, COALESCE(dfb.df, 0) AS df
      |       FROM ta LEFT JOIN dfb USING (tok)
      |       WHERE COALESCE(dfb.df, 0) * 5 <= (SELECT n FROM nb)),
      |rb AS (SELECT tb.doc, tb.tok FROM tb JOIN dfb USING (tok)
      |       WHERE dfb.df * 5 <= (SELECT n FROM nb)),
      |pk AS (SELECT doc, tok FROM (
      |        SELECT doc, tok,
      |          ROW_NUMBER() OVER (PARTITION BY doc ORDER BY df, tok) AS rn
      |        FROM ra) WHERE rn <= 16),
      |cand AS (SELECT DISTINCT k.doc AS doc_a, b.doc AS doc_b
      |         FROM pk k JOIN rb b ON k.tok = b.tok),
      |sz AS (SELECT doc, COUNT(*) AS n_a FROM ra GROUP BY 1),
      |sh AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
      |       FROM cand c
      |       JOIN ra a ON a.doc = c.doc_a
      |       JOIN rb b ON b.doc = c.doc_b AND b.tok = a.tok
      |       GROUP BY 1, 2)
      |SELECT sh.doc_a AS id_a, sh.doc_b AS id_b,
      |  CAST(shared AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
      |FROM sh JOIN sz ON sz.doc = sh.doc_a
      |WHERE shared * 2 >= n_a""".stripMargin

  // --------------------------- incremental ledger dedup (#23d)

  /** Incremental dedup against a fingerprint ledger (#23d): the first
    * half of the corpus (doc_id < 250) plays the already-ingested
    * history; the second half is the arriving batch. Accepted = batch
    * keep-one minus ledger hits; see [[Dedup.incrementalExact]]. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ledger = docs.where(col("doc_id") < 250)
      .select(TextFunctions.fingerprint(col("text")).as("fp")).distinct()
    Dedup.incrementalExact(docs.where(col("doc_id") >= 250),
      "doc_id", "text", ledger)
  }

  private val dedupIncrementalSql =
    """WITH led AS (SELECT DISTINCT
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents WHERE doc_id < 250),
      |batch AS (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    min(doc_id) AS keeper_id, count(*) AS n_batch_dups
      |  FROM documents WHERE doc_id >= 250 GROUP BY 1)
      |SELECT b.fp, b.keeper_id, b.n_batch_dups
      |FROM batch b ANTI JOIN led ON b.fp = led.fp""".stripMargin

  // ------------------------------------------------------------ registry

  val queries: Seq[Query] = Seq(
    Query("dedup_exact", dedupExact, Oracle(dedupExactSql)),
    Query("dedup_keep_best", dedupKeepBest, Oracle(dedupKeepBestSql)),
    Query("dedup_minhash_pairs", dedupMinhashPairs, GatedBy("dedup_minhash_sound")),
    Query("dedup_simhash", dedupSimhash, GatedBy("dedup_simhash_sound")),
    Query("dedup_simhash_sound", dedupSimhashSound, Oracle(dedupSimhashSoundSql)),
    Query("dedup_clusters_star", dedupClustersStar, Oracle(dedupClustersSql)),
    Query("dedup_clusters_auto", dedupClustersAuto, Oracle(dedupClustersSql)),
    Query("ann_ivf_recall", annIvfRecall, Oracle(annIvfRecallSql)),
    Query("ann_pq_full", annPqFull, Oracle(annBruteforceTopkSql)),
    Query("ann_pq_recall", annPqRecall, Oracle(annPqRecallSql)),
    Query("dedup_embedding_cosine", dedupEmbeddingCosine, GatedBy("dedup_embedding_sound")),
    Query("ann_bruteforce_topk", annBruteforceTopk, Oracle(annBruteforceTopkSql)),
    Query("ann_hard_negatives", annHardNegatives, Oracle(annHardNegativesSql)),
    Query("ann_lsh_topk", annLshTopk, GatedBy("ann_lsh_sound")),
    Query("multimodal_meta", multimodalMeta, GatedBy("multimodal_sound")),
    Query("dedup_ngram_jaccard", ngramJaccard, Oracle(ngramJaccardSql)),
    Query("ann_ivf_topk", annIvfTopk, GatedBy("ann_ivf_full", "ann_ivf_recall")),
    Query("dedup_minhash_sound", dedupMinhashSound, Oracle(dedupMinhashSoundSql)),
    Query("dedup_cross_corpus", dedupCrossCorpus, Oracle(dedupCrossCorpusSql)),
    Query("dedup_embedding_cross", dedupEmbeddingCross, Oracle(dedupEmbeddingCrossSql)),
    Query("dedup_embedding_sound", dedupEmbeddingSound, Oracle(dedupEmbeddingSoundSql)),
    Query("ann_ivf_full", annIvfFull, Oracle(annBruteforceTopkSql)),
    Query("ann_lsh_sound", annLshSound, Oracle(annBruteforceTopkSql)),
    Query("multimodal_sound", multimodalSound, Oracle(multimodalSoundSql)),
    Query("multimodal_png", multimodalPng, Oracle(multimodalPngSql)),
    Query("multimodal_dedup", multimodalDedup, Oracle(multimodalDedupSql)),
    Query("multimodal_frames", multimodalFrames, GatedBy("multimodal_sound")),
    Query("embedding_norm_quant", embeddingNormQuant, Oracle(embeddingNormQuantSql)),
    Query("semdedup", semdedup, Oracle(semdedupSql)),
    Query("dedup_profile", dedupProfile, Oracle(dedupProfileSql)),
    Query("dedup_incremental", dedupIncremental, Oracle(dedupIncrementalSql)),
    Query("dedup_lines", dedupLines, Oracle(dedupLinesSql)),
    Query("decontaminate", decontaminate, Oracle(decontaminateSql)),
    Query("decontaminate_xx", decontaminateXx, Oracle(decontaminateSql)),
    Query("dedup_clusters", dedupClusters, Oracle(dedupClustersSql)),
    Query("fuzzy_name_match", fuzzyNameMatch, Oracle(fuzzyNameMatchSql)),
    Query("kmeans_assign", kmeansAssign, Oracle(kmeansAssignSql)),
    Query("kmeans_prune", kmeansPrune, Oracle(kmeansPruneSql)),
    Query("kmeans_fit_sizes", kmeansFitSizes, GatedBy("kmeans_assign")),
    Query("fuzzy_match_blocked", fuzzyMatchBlocked, Oracle(fuzzyMatchBlockedSql)),
    Query("source_overlap_approx", sourceOverlapApprox, Oracle(sourceOverlapApproxSql)),
    Query("jaccard_join_exact", jaccardJoinExact, Oracle(jaccardJoinExactSql)),
    Query("entity_resolution", entityResolution, Oracle(entityResolutionSql)),
    Query("embedding_centroids", embeddingCentroids, Oracle(embeddingCentroidsSql)),
    Query("jl_project", jlProject, Oracle(jlProjectSql)),
    Query("dedup_substring", dedupSubstring, Oracle(dedupSubstringSql)),
    Query("dedup_substring_xx", dedupSubstringXx, Oracle(dedupSubstringSql)),
    Query("pca_sound", pcaSound, Oracle(pcaSoundSql)),
    Query("pca_project", pcaProject, GatedBy("pca_sound")),
    Query("winnow_fingerprint", winnowFingerprint, Oracle(winnowFingerprintSql)),
    Query("winnow_xx", winnowXxFingerprint, GatedBy("winnow_fingerprint", "winnow_xx_sound")),
    Query("winnow_xx_sound", winnowXxSound, Oracle(winnowXxSoundSql)),
    Query("dedup_containment", dedupContainment, Oracle(dedupContainmentSql)),
    Query("dedup_containment_cross", dedupContainmentCross, Oracle(dedupContainmentCrossSql))
  )
}
