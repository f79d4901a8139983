package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.TextFunctions

/** Text analysis, tokenizer, sampling, mixture and classifier queries. */
object TextQueries {

  // ------------------------------------------- text analysis (#30-33)

  def textTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.wsTokenCount(col("text")).as("n_ws_tokens"),
      TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))

  private val textTokenCountSql =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens
      |FROM documents""".stripMargin

  def textLangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))

  private val textLangIdSql =
    """SELECT doc_id,
      |  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
      |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |       WHEN s_es >= s_fr THEN 'es'
      |       ELSE 'fr' END AS lang_pred
      |FROM (SELECT doc_id, text,
      |  len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS s_en,
      |  len(regexp_extract_all(lower(text), '\b(der|und|die|das|ist)\b')) AS s_de,
      |  len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS s_es,
      |  len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr
      |FROM documents) t""".stripMargin

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
      TextFunctions.qualityScore(col("text")).as("quality"))

  private val textQualitySql =
    """SELECT doc_id, alpha_ratio, punct_ratio, stopword_ratio,
      |  alpha_ratio * 0.5 + stopword_ratio * 0.3 + (1.0 - punct_ratio) * 0.2 AS quality
      |FROM (SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS alpha_ratio,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
      |  CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |    / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS stopword_ratio
      |FROM documents) t""".stripMargin

  /** Language-ID confusion matrix (#30a): predicted vs labeled lang
    * counts — the eval grid for the heuristic classifier (row 30), run
    * as a query so classifier drift shows up in the correctness gate,
    * not just in aggregate accuracy. One scan + a tiny groupBy. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), TextFunctions.langId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))

  private val langConfusionSql =
    """WITH p AS (SELECT lang,
      |  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
      |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |       WHEN s_es >= s_fr THEN 'es'
      |       ELSE 'fr' END AS lang_pred
      |FROM (SELECT lang, text,
      |  len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS s_en,
      |  len(regexp_extract_all(lower(text), '\b(der|und|die|das|ist)\b')) AS s_de,
      |  len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS s_es,
      |  len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr
      |FROM documents) t)
      |SELECT lang, lang_pred, COUNT(*) AS n_docs FROM p GROUP BY 1, 2""".stripMargin

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))

  private val textFingerprintSql =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents""".stripMargin

  /** Gopher quality gate (#31c): the published rule-based document
    * filter (Rae et al. 2021 §A.1.1), computed entirely per-row — the
    * canonical pre-LLM-training cut that runs BEFORE any learned
    * classifier. Signals over whitespace tokens: word count bounds,
    * mean word length bounds, distinct-Gopher-stopword floor (the
    * published rule wants ≥2 of the 8; this corpus draws from a
    * ~60-word vocabulary where at most one of them occurs per doc, so
    * the floor is scaled to ≥1 — at the published floor the flag
    * would be constant-False and gate nothing), fraction of words
    * containing an alphabetic character, and the repetition
    * rule expressed as max char coverage by any single bigram
    * (`max_g count(g)·len(g) / len(text)` — the max-of-integers form
    * needs no tie-break on equal-count bigrams, so it is
    * deterministic where "fraction of chars in THE most frequent
    * n-gram" is not). The published line-level rules (bullet/ellipsis
    * line fractions, #-symbol ratio) are identically zero on this
    * corpus (no newlines, no symbols) and are omitted rather than
    * hashed as constants.
    *
    * Scale shape: ONE scan, zero shuffle — every signal is an HOF
    * over the row's own token array (the bigram coverage is O(n²)
    * lambda work per row, n≈40 here; per-row cost is corpus-length
    * independent). All keep-flag arithmetic is integer counts and
    * single IEEE divisions, so the booleans are engine-exact. */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nWords = size(toks)
    val sumLen = aggregate(toks, lit(0L), (acc, w) => acc + length(w))
    val nAlpha = size(filter(toks, w => w.rlike("[A-Za-z]")))
    val stopSet = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = size(array_distinct(filter(toks, w => w.isInCollection(stopSet))))
    val grams = when(nWords >= 2,
        transform(sequence(lit(1), nWords - 1),
          i => concat_ws(" ", slice(toks, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val bestCover = coalesce(
      aggregate(array_distinct(grams), lit(0L),
        (acc, g) => greatest(acc,
          size(filter(grams, x => x === g)).cast("long") * length(g))),
      lit(0L))
    Tables.documents(spark, dir).select(
        col("doc_id"),
        nWords.cast("long").as("n_words"),
        (sumLen.cast("double") / nWords.cast("double")).as("mean_word_len"),
        (nAlpha.cast("double") / nWords.cast("double")).as("alpha_word_frac"),
        nStop.cast("long").as("n_stop_present"),
        (bestCover.cast("double") / length(col("text")).cast("double"))
          .as("top_bigram_char_frac"))
      .withColumn("keep",
        col("n_words").between(30, 100000) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("n_stop_present") >= 1 &&
        col("alpha_word_frac") >= 0.8 &&
        col("top_bigram_char_frac") <= 0.2)
  }

  private val gopherQualitySql =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id,
      |    CASE WHEN len(toks) >= 2 THEN list_transform(
      |        generate_series(1, len(toks) - 1),
      |        i -> array_to_string(toks[i:i+1], ' '))
      |      ELSE [] END AS grams
      |  FROM t),
      |s AS (SELECT t.doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
      |      / CAST(len(toks) AS DOUBLE) AS mean_word_len,
      |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
      |      / CAST(len(toks) AS DOUBLE) AS alpha_word_frac,
      |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
      |        sw -> list_contains(toks, sw))) AS BIGINT) AS n_stop_present,
      |    CAST(COALESCE(list_max(list_transform(list_distinct(grams),
      |        d -> len(list_filter(grams, x -> x = d)) * length(d))), 0) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS top_bigram_char_frac
      |  FROM t JOIN g ON t.doc_id = g.doc_id)
      |SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
      |  n_stop_present, top_bigram_char_frac,
      |  (n_words BETWEEN 30 AND 100000)
      |    AND (mean_word_len BETWEEN 3.0e0 AND 10.0e0)
      |    AND n_stop_present >= 1
      |    AND alpha_word_frac >= 0.8e0
      |    AND top_bigram_char_frac <= 0.2e0 AS keep
      |FROM s""".stripMargin

  // --------------------- C4 blocklist gate (#31d, graft_multi_match)

  /** The blocklist gate's lexicon: a bounded literal list (the C4
    * "bad words" shape — Raffel et al. 2020 §2.2 drop any doc whose
    * text contains a curated lexicon entry). Mixed by construction:
    * present phrases, absent words (`crash`, `leak` — the automaton
    * must not phantom-match), and the self-overlapping `"a a"` whose
    * position-count differs from non-overlapping `replace()`
    * arithmetic — the oracle's generate_series formulation counts
    * POSITIONS, pinning the overlap semantics independently. */
  private[graft] val BlocklistLexicon = Seq(
    "slow merge", "crash", "a a", "leak", "slow scan", "big batch",
    "spark window")

  /** C4-style blocklist filter (#31d): one Aho-Corasick pass tags
    * every doc with its lexicon hit count and matched entries; docs
    * with zero hits are `kept`. The composed alternative — one
    * `contains()` column per entry — rescans each text P times, so a
    * several-hundred-entry production lexicon pays O(P·n) per doc;
    * the automaton pays O(n + matches) regardless of P
    * ([[graft.functions.expressions.MultiPatternHits]]). Narrow
    * projection, zero shuffle, stays inside WholeStageCodegen. */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val hits = graft.functions.GraftFunctions.multiMatch(
      col("text"), BlocklistLexicon)
    Tables.documents(spark, dir)
      .select(col("doc_id"), hits.as("h"))
      .select(
        col("doc_id"),
        coalesce(aggregate(col("h"), lit(0L),
          (acc, x) => acc + x.getField("hits")), lit(0L)).as("n_hits"),
        array_join(transform(col("h"), x => x.getField("pattern")), ",")
          .as("matched"),
        (size(col("h")) === 0).as("kept"))
  }

  private val blocklistFilterSql =
    """WITH w(w, ord) AS (VALUES ('slow merge', 1), ('crash', 2),
      |    ('a a', 3), ('leak', 4), ('slow scan', 5), ('big batch', 6),
      |    ('spark window', 7)),
      |hits AS (SELECT d.doc_id, w.ord, w.w, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents d, w,
      |    UNNEST(generate_series(1, len(d.text) - len(w.w) + 1)) AS s(i)
      |  WHERE substr(d.text, CAST(i AS INTEGER), len(w.w)) = w.w
      |  GROUP BY 1, 2, 3),
      |ag AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_hits,
      |    string_agg(w, ',' ORDER BY ord) AS matched
      |  FROM hits GROUP BY 1)
      |SELECT d.doc_id, COALESCE(a.n_hits, 0) AS n_hits,
      |  COALESCE(a.matched, '') AS matched,
      |  a.doc_id IS NULL AS kept
      |FROM documents d LEFT JOIN ag a ON d.doc_id = a.doc_id""".stripMargin

  // --------------------- training-data ops: split / redact / vocab

  /** Deterministic train/val/test split by md5 bucket — stable across
    * runs, partitionings, and engines (rand()/sample() are neither). */
  def splitTrainTest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      Sampling.bucket16(col("doc_id")).as("bucket"),
      Sampling.splitLabel(col("doc_id")).as("split"))

  private val splitTrainTestSql =
    """SELECT doc_id,
      |  CAST(strpos('0123456789abcdef',
      |       substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 AS INT) AS bucket,
      |  CASE WHEN strpos('0123456789abcdef',
      |              substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 < 12 THEN 'train'
      |       WHEN strpos('0123456789abcdef',
      |              substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 < 14 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin

  /** PII redaction: detect + mask emails/phone numbers (deterministic
    * synthetic PII appended so the masking provably fires; the docs
    * corpus itself is PII-free word soup). Pure per-row regex — no
    * shuffle, codegen'd. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    val phoneRe = "\\+[0-9][0-9-]+"
    Tables.documents(spark, dir)
      .withColumn("synth",
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
               lit("@mail.example.com or +1-555-0"), col("doc_id").cast("string")))
      .select(
        col("doc_id"),
        regexp_count(col("synth"), lit(emailRe)).as("n_emails"),
        regexp_count(col("synth"), lit(phoneRe)).as("n_phones"),
        md5(regexp_replace(regexp_replace(col("synth"), emailRe, "<EMAIL>"),
                           phoneRe, "<PHONE>")).as("red_md5"))
  }

  private val piiRedactSql =
    """WITH s AS (SELECT doc_id,
      |  text || ' contact user' || CAST(doc_id AS VARCHAR)
      |       || '@mail.example.com or +1-555-0' || CAST(doc_id AS VARCHAR) AS synth
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS INT) AS n_emails,
      |  CAST(len(regexp_extract_all(synth, '\+[0-9][0-9-]+')) AS INT) AS n_phones,
      |  md5(regexp_replace(regexp_replace(synth,
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
      |        '\+[0-9][0-9-]+', '<PHONE>', 'g')) AS red_md5
      |FROM s""".stripMargin

  /** Checksum-validated PII redaction (#37b): credit-card-shaped
    * digit runs are only redacted when they PASS the Luhn checksum
    * (ISO/IEC 7812) — the false-positive cut that keeps order ids,
    * timestamps, and hashes out of `<CARD>` masks. Planting: each doc
    * gets a 16-digit number whose check digit is computed by the
    * parity-shifted closed form (valid by construction) and/or a
    * sibling with check+5 (invalid by construction), varied by
    * doc_id%3 so the counts carry signal. Validation and redaction
    * use the STANDARD Luhn formulation over every 13-19-digit run —
    * independently formulated from the planting arithmetic, so the
    * oracle cross-checks both. Pure per-row HOFs, zero shuffle. */
  def piiRedactLuhn(spark: SparkSession, dir: String): DataFrame = {
    val doubled = (d: String) => s"IF(2*($d) > 9, 2*($d) - 9, 2*($d))"
    val dig = "(ascii(substr(reverse(base15), i, 1)) - 48)"
    Tables.documents(spark, dir)
      .withColumn("base15", concat(lit("4"),
        lpad(pmod(col("doc_id"), lit(99999999999999L)).cast("string"),
          14, "0")))
      // check digit: full = base15 || c reverses to c || reverse(base15),
      // so base digit at reverse-position i is doubled when i is ODD —
      // the parity-shifted closed form
      .withColumn("chk", expr(
        s"""(10 - aggregate(sequence(1, 15), 0L, (acc, i) ->
           |  acc + CASE WHEN i % 2 = 1 THEN ${doubled(dig)}
           |        ELSE $dig END) % 10) % 10""".stripMargin))
      .withColumn("synth", expr(
        """concat(text,
          |  CASE WHEN doc_id % 3 < 2
          |    THEN concat(' pay ', base15, chk) ELSE '' END,
          |  CASE WHEN doc_id % 3 > 0
          |    THEN concat(' ref ', base15, (chk + 5) % 10) ELSE '' END)"""
          .stripMargin))
      .withColumn("cands", expr(
        "regexp_extract_all(synth, '[0-9]{13,19}', 0)"))
      // standard Luhn over each candidate: double at EVEN reverse pos
      .withColumn("valids", expr(
        """filter(cands, c -> aggregate(sequence(1, length(c)), 0L,
          |  (acc, i) -> acc + CASE WHEN i % 2 = 0
          |    THEN IF(2*(ascii(substr(reverse(c), i, 1)) - 48) > 9,
          |            2*(ascii(substr(reverse(c), i, 1)) - 48) - 9,
          |            2*(ascii(substr(reverse(c), i, 1)) - 48))
          |    ELSE ascii(substr(reverse(c), i, 1)) - 48 END) % 10 = 0)"""
          .stripMargin))
      .select(
        col("doc_id"),
        size(col("cands")).as("n_candidates"),
        size(col("valids")).as("n_valid"),
        md5(expr(
          "aggregate(valids, synth, (acc, c) -> replace(acc, c, '<CARD>'))"))
          .as("red_md5"))
  }

  private val piiRedactLuhnSql =
    """WITH p AS (SELECT doc_id, text,
      |    '4' || lpad(CAST(doc_id % 99999999999999 AS VARCHAR), 14, '0')
      |      AS base15
      |  FROM documents),
      |k AS (SELECT doc_id, text, base15,
      |    (10 - list_sum(list_transform(generate_series(1, 15), i ->
      |       CASE WHEN i % 2 = 1 THEN
      |         CASE WHEN 2*CAST(substr(reverse(base15), CAST(i AS INTEGER), 1) AS INTEGER) > 9
      |              THEN 2*CAST(substr(reverse(base15), CAST(i AS INTEGER), 1) AS INTEGER) - 9
      |              ELSE 2*CAST(substr(reverse(base15), CAST(i AS INTEGER), 1) AS INTEGER) END
      |       ELSE CAST(substr(reverse(base15), CAST(i AS INTEGER), 1) AS INTEGER) END)) % 10) % 10
      |      AS chk
      |  FROM p),
      |s AS (SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 < 2
      |      THEN ' pay ' || base15 || CAST(chk AS VARCHAR) ELSE '' END ||
      |    CASE WHEN doc_id % 3 > 0
      |      THEN ' ref ' || base15 || CAST((chk + 5) % 10 AS VARCHAR) ELSE '' END
      |      AS synth
      |  FROM k),
      |c AS (SELECT doc_id, synth,
      |    regexp_extract_all(synth, '[0-9]{13,19}') AS cands
      |  FROM s),
      |v AS (SELECT doc_id, synth, cands,
      |    list_filter(cands, cc ->
      |      list_sum(list_transform(generate_series(1, len(cc)), i ->
      |        CASE WHEN i % 2 = 0 THEN
      |          CASE WHEN 2*CAST(substr(reverse(cc), CAST(i AS INTEGER), 1) AS INTEGER) > 9
      |               THEN 2*CAST(substr(reverse(cc), CAST(i AS INTEGER), 1) AS INTEGER) - 9
      |               ELSE 2*CAST(substr(reverse(cc), CAST(i AS INTEGER), 1) AS INTEGER) END
      |        ELSE CAST(substr(reverse(cc), CAST(i AS INTEGER), 1) AS INTEGER) END)) % 10 = 0)
      |      AS valids
      |  FROM c)
      |SELECT doc_id,
      |  CAST(len(cands) AS INTEGER) AS n_candidates,
      |  CAST(len(valids) AS INTEGER) AS n_valid,
      |  md5(list_reduce(list_prepend(synth, valids),
      |    (acc, cc) -> replace(acc, cc, '<CARD>'))) AS red_md5
      |FROM v""".stripMargin

  /** Corpus vocabulary: top-20 words by frequency (explode → count →
    * global top-k; the word-count groupBy is partial-aggregated so the
    * exploded stream never shuffles raw tokens). */
  def vocabTopWords(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_occurrences"))
    // TakeOrdered limit does the global top-k in parallel (map-side
    // heads); a bare global window would funnel the whole vocabulary —
    // 10^8+ tokens on a web corpus — through ONE task. The window then
    // only numbers the 20 survivors.
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("word"))
    counts.orderBy(col("n_occurrences").desc, col("word")).limit(20)
      .withColumn("rk", row_number().over(w))
  }

  private val vocabTopWordsSql =
    """WITH c AS (
      |  SELECT word, COUNT(*) AS n_occurrences
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |  GROUP BY word)
      |SELECT word, n_occurrences,
      |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, word) AS INT) AS rk
      |FROM c QUALIFY rk <= 20""".stripMargin

  /** BPE merge-candidate pairs (#38a): corpus-wide counts of ADJACENT
    * token pairs, top 20 — one round of the pair-counting that drives
    * BPE/WordPiece vocabulary induction (the highest-count pair is the
    * next merge). Pairs come from zipping each token list with its own
    * tail (no index explosion beyond the pairs themselves); the global
    * top-k runs as explicit limit-after-sort so TakeOrdered's map-side
    * heads do the work, vocab_top_words precedent. */
  def bpeTopPairs(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(TextFunctions.normalize(col("text")), " ")
    val n1 = greatest(size(col("toks")) - 1, lit(0))
    val counts = Tables.documents(spark, dir)
      .select(toks.as("toks"))
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), n1), slice(col("toks"), lit(2), n1))).as("p"))
      .select(concat_ws(" ", col("p.0"), col("p.1")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_occurrences"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("pair"))
    counts.orderBy(col("n_occurrences").desc, col("pair")).limit(20)
      .withColumn("rk", row_number().over(w))
  }

  private val bpeTopPairsSql =
    """WITH t AS (SELECT
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |p AS (SELECT toks[i] || ' ' || toks[i+1] AS pair
      |      FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
      |      WHERE len(toks) > 1),
      |c AS (SELECT pair, COUNT(*) AS n_occurrences FROM p GROUP BY 1)
      |SELECT pair, n_occurrences,
      |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS INT) AS rk
      |FROM c QUALIFY rk <= 20""".stripMargin

  /** TF-IDF-style top term per document: score = tf/df (rank-identical
    * to tf·idf with reciprocal-df idf, and a single exact double
    * division instead of engine-varying log()). The document-frequency
    * side is vocabulary-sized → broadcast. */
  def tfidfTopTerm(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.{doubleBits, bitsDouble}
    // tf per (doc, term) is a PER-DOCUMENT statistic — born final from
    // one native hash-map scan of the row's token array
    // (graft_term_counts) instead of explode + corpus-wide
    // groupBy(doc_id, term): at the 1000× tier that re-grouping's
    // per-partition group cardinality ≈ row count, so the hash agg
    // falls back to sort and spills (the InvertedIndex.build wall,
    // SCALE1000.md). Cost shape traded knowingly: tf's subtree is
    // scanned once per consumer (dfreq + the scored join) — two cheap
    // parallel rescans beat one corpus-sized sort-spilling exchange.
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.termCounts(
          split(col("text"), " "))).as("e"))
      .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
    // document frequency falls out of tf's (already-distinct) keys —
    // no second explode over the raw token stream; term-only grouping
    // combines map-side to vocabulary size. term_id is the term's
    // STRING rank (rangedDenseRank — no global window), so an integer
    // compare on it IS the string tie-break the oracle orders by.
    val dict = operators.Relational.rangedDenseRank(
      tf.groupBy(col("term")).agg(count(lit(1)).as("df")),
      "term", "term_id").localCheckpoint()
    // rank-1-per-doc as ONE plain min over a fixed-width key. The r12
    // form (min_by over a (-score, term) struct) could only plan as
    // SortAggregate — a struct buffer is not UnsafeRow-mutable — and
    // its partial sorted the full ~500M-row join output: 6.4 GB spill
    // at 1000× (SCALE1000.md) for an agg whose result is per-doc.
    // Key: (Long.MaxValue − bits(score)) · 2^40 + term_id as
    // DECIMAL(38,0) — bits() is order-preserving on positive doubles
    // (see functions.expressions.DoubleBits), so min(key) is exactly
    // argmax(score) with ties to the smallest term string, and the
    // all-primitive buffer keeps the agg a map-side-combining
    // HashAggregate: zero sort, zero spill.
    val M = 1L << 40 // term_id < 2^40; flipped·2^40 + id < 10^32 < 10^38
    val scored = tf.join(broadcast(dict), "term")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("okey",
        (lit(Long.MaxValue) - doubleBits(col("score")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)) * lit(M)
          + col("term_id"))
    val best = scored.groupBy(col("doc_id")).agg(min(col("okey")).as("okey"))
      .withColumn("term_id", (col("okey") % lit(M)).cast("long"))
      .withColumn("score", bitsDouble(
        lit(Long.MaxValue)
          - ((col("okey") - col("okey") % lit(M)) / lit(M)).cast("long")))
    // the winner's term string, df, and tf rejoin from the
    // vocabulary-sized dictionary — never from the corpus. tf =
    // round(score·df) is EXACT: tf/df·df errs by ≤ a few ulps
    // (|err| < tf·2^-50 ≪ 0.5), so the nearest integer is tf itself.
    best.join(broadcast(dict.select(col("term_id"), col("term"), col("df"))),
        "term_id")
      .select(col("doc_id"), col("term"),
        round(col("score") * col("df")).cast("long").as("tf"),
        col("df"), col("score"))
  }

  private val tfidfTopTermSql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df
      |          FROM (SELECT DISTINCT doc_id, term FROM tok) t GROUP BY 1)
      |SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE) / df AS score
      |FROM (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |        row_number() OVER (PARTITION BY tf.doc_id
      |          ORDER BY CAST(tf.tf AS DOUBLE) / dfreq.df DESC, tf.term) AS rk
      |      FROM tf JOIN dfreq USING (term)) x
      |WHERE rk = 1""".stripMargin

  /** Repetition quality signals (Gopher/C4-style): duplicated-n-gram
    * fractions (per-row HOF, no shuffle) + top-token fraction (explode →
    * partial-agg — the only shuffle, at (doc,token) grain). High values
    * flag boilerplate/spam for corpus filtering. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    // fully per-row, fully codegen'd: every signal here is a
    // within-document statistic, so NOTHING shuffles after the width
    // repartition and no interpreted lambda runs.
    //  - token-frequency pair (max tf, Σtf): used to ride an explode
    //    through two corpus-wide groupBys — (doc_id, tok) then
    //    (doc_id) — the exact shape that sort-spilled
    //    InvertedIndex.build at the 1000× tier (SCALE1000.md);
    //    graft_term_counts computes the same integers in one hash-map
    //    scan of the row's token array. Σtf = size(toks) by
    //    definition; max tf / Σtf is the same long→double division.
    //  - gram fractions: the HOF form (transform+concat_ws slices +
    //    array_distinct, interpreted) measured 151 s wall / 4,784
    //    task-s over 5M docs at 1000× — pure lambda CPU;
    //    graft_repetition_stats emits both fractions from one
    //    compiled scan, value-identical by the space-join argument in
    //    its scaladoc.
    // repartition BEFORE the projection (all-pairs jaccard BNLJ
    // precedent): glued to scan parallelism this runs as wide as the
    // FILE LAYOUT — a single-file corpus (one row group) computed
    // 500k docs on one core at the 100× derived set. One small
    // (doc_id, text) shuffle buys compute at full cluster width
    // regardless of layout.
    val tfs = transform(
      graft.functions.GraftFunctions.termCounts(toks), e => e("tf"))
    val rep = graft.functions.GraftFunctions.repetitionStats(toks)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (array_max(tfs).cast("double") / size(toks).cast("double"))
          .as("top_token_frac"),
        rep("dup_2gram_frac").as("dup_2gram_frac"),
        rep("dup_3gram_frac").as("dup_3gram_frac"))
  }

  private val textRepetitionSql =
    """WITH g AS (SELECT doc_id,
      |    string_split(text, ' ') AS toks FROM documents),
      |p AS (SELECT doc_id,
      |    1.0 - CAST(len(list_distinct(list_transform(
      |        generate_series(1, greatest(len(toks)-1, 1)),
      |        i -> array_to_string(toks[i:i+1], ' ')))) AS DOUBLE)
      |      / len(list_transform(generate_series(1, greatest(len(toks)-1, 1)),
      |        i -> array_to_string(toks[i:i+1], ' '))) AS dup_2gram_frac,
      |    1.0 - CAST(len(list_distinct(list_transform(
      |        generate_series(1, greatest(len(toks)-2, 1)),
      |        i -> array_to_string(toks[i:i+2], ' ')))) AS DOUBLE)
      |      / len(list_transform(generate_series(1, greatest(len(toks)-2, 1)),
      |        i -> array_to_string(toks[i:i+2], ' '))) AS dup_3gram_frac
      |  FROM g),
      |c AS (SELECT doc_id, tok, COUNT(*) AS cnt
      |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |            FROM documents) x GROUP BY 1, 2),
      |s AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |        CAST(MAX(cnt) AS DOUBLE) / CAST(CAST(SUM(cnt) AS VARCHAR) AS DOUBLE) AS top_token_frac
      |      FROM c GROUP BY 1)
      |SELECT s.doc_id, s.n_tokens, s.top_token_frac,
      |       p.dup_2gram_frac, p.dup_3gram_frac
      |FROM s JOIN p USING (doc_id)""".stripMargin

  /** Sequence packing: contiguous docs (per source, doc_id order)
    * chunked into ~512-token packs via a running-sum window — the
    * deterministic, single-shuffle packing strategy (greedy bin-packing
    * needs global state; contiguous chunking scales embarrassingly). */
  def docPack(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", expr("CAST((cum - n_tokens) DIV 512 AS INT)"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
  }

  private val docPackSql =
    """WITH t AS (SELECT doc_id, source,
      |    len(string_split(text, ' ')) AS n_tokens FROM documents),
      |c AS (SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum FROM t)
      |SELECT source, CAST((cum - n_tokens) // 512 AS INT) AS pack_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
      |FROM c GROUP BY source, pack_id""".stripMargin

  /** Quality-weighted importance sampling (#36b): keep each doc with
    * probability equal to its quality score (clamped to [0,1]) — the
    * FineWeb-Edu-style soft filter that favors high-quality text
    * without a hard percentile cut. Deterministic: keep iff the doc's
    * md5 bucket < floor(quality·65536), so the kept set is a pure
    * function of (id, text) — reproducible across runs, partitionings
    * and engines (floor() explicit in both: DuckDB CAST rounds where
    * Spark's truncates). Pure per-row filter, zero shuffle. */
  def sampleByQuality(spark: SparkSession, dir: String): DataFrame = {
    val q = least(greatest(TextFunctions.qualityScore(col("text")), lit(0.0)),
      lit(1.0))
    // Generate barrier: see curatePipeline — without it the filter's
    // pushed-down copy re-ran the full stats pass per row
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(array(q)).as("quality"))
      .where(Sampling.bucket65536(col("doc_id")) <
             floor(col("quality") * 65536).cast("long"))
  }

  private val sampleByQualitySql =
    """WITH q AS (SELECT doc_id, source,
      |  least(greatest(
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE) * 0.5
      |    + CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |      / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) * 0.3
      |    + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2, 0.0e0), 1.0e0) AS quality,
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) AS bucket
      |  FROM documents)
      |SELECT doc_id, source, quality FROM q
      |WHERE bucket < CAST(floor(quality * 65536) AS BIGINT)""".stripMargin

  /** Sliding-window document chunking (#42a): long docs split into
    * 32-token chunks with stride 16 (50% overlap) — the long-document
    * preparation step for fixed context windows, where doc_pack handles
    * the short-document side. Pure map-side projection: the only
    * exchange is the round-robin repartition that decouples the
    * interpreted HOF lambdas from file layout (textRepetition
    * precedent); no agg, no join, so at 100 TB this runs at scan
    * speed. Chunk-count arithmetic is all-integer with a greatest()
    * floor so Spark's truncated `div` and DuckDB's floored `//` agree
    * on every document length. */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val (c, s) = (32, 16)
    val nChunks = greatest(
      expr(s"(size(toks) - $c + $s - 1) div $s"), lit(0)) + lit(1)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        split(TextFunctions.normalize(col("text")), " ").as("toks"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), nChunks - 1),
        i => slice(col("toks"), i * s + lit(1), lit(c)))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).cast("long").as("n_tokens"))
  }

  private val docChunksSql =
    """WITH t AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents)
      |SELECT doc_id, i AS chunk_idx,
      |  array_to_string(toks[(i*16+1):(i*16+32)], ' ') AS chunk_text,
      |  CAST(len(toks[(i*16+1):(i*16+32)]) AS BIGINT) AS n_tokens
      |FROM t, UNNEST(generate_series(0,
      |  greatest((len(toks) - 32 + 15) // 16, 0))) AS u(i)""".stripMargin

  /** Per-source quality-percentile filter (#31a): keep each source's
    * top half by quality score — the corpus-filter step between
    * scoring (`text_quality`) and assembly. cume_dist over a
    * tie-broken (quality DESC, doc_id) order is deterministic and
    * engine-portable (unlike percent_rank's 0/0 on single-row groups).
    * Scale: a per-source window is a full sort of the largest source —
    * fine into the tens of billions of rows per source with
    * range-partitioned sort, but the 100 TB swap (same shape as
    * profile_columns → approx) is an `approx_percentile` threshold per
    * source broadcast back as a plain filter. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .withColumn("cd", cume_dist().over(w))
      .where(col("cd") <= 0.5)
      .select(col("doc_id"), col("source"), col("quality"))
  }

  private val qualityFilterSql =
    """WITH q AS (SELECT doc_id, source,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) * 0.5
      |  + CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |    / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) * 0.3
      |  + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2 AS quality
      |FROM documents),
      |c AS (SELECT doc_id, source, quality,
      |  cume_dist() OVER (PARTITION BY source
      |    ORDER BY quality DESC, doc_id) AS cd FROM q)
      |SELECT doc_id, source, quality FROM c WHERE cd <= 0.5""".stripMargin

  /** Deterministic per-source cap (#36a): at most K docs per source,
    * chosen by md5-bucket pseudo-random order — balanced subsampling
    * without a corpus-wide sort. Runs on the typed [[Aggregators.TopKAgg]]
    * (row 35c), which carries AT MOST k rows per source out of each map
    * task: shuffle O(sources·k) regardless of group size — the shape
    * that survives a source with 10¹¹ docs, where the window form
    * shuffles and sorts every row. This query is also the Aggregator's
    * driver gate: the oracle recomputes the same top-k with a window. */
  def samplePerSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 20
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        Sampling.bucket65536(col("doc_id")).cast("double").as("score"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => graft.functions.Aggregators.Scored(t._2, t._3))
      .agg(graft.functions.Aggregators.topK(k).toColumn.name("top"))
      .flatMap { case (src, top) => top.map(s => (s.id, src)) }
      .toDF("doc_id", "source")
  }

  private val samplePerSourceSql =
    """WITH b AS (SELECT doc_id, source,
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) AS bucket
      |  FROM documents),
      |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
      |        ORDER BY bucket DESC, doc_id) AS rk FROM b)
      |SELECT doc_id, source FROM r WHERE rk <= 20""".stripMargin

  /** Token-length histogram (#46b): corpus length distribution in
    * 10-token buckets (capped at 190+) — the profile a pipeline reads
    * before choosing pack/chunk sizes. All-integer bucket arithmetic;
    * one partial-agg shuffle of ≤20 rows. */
  def docLengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(least(TextFunctions.bpeTokenCount(col("text")).cast("long")
        .divide(10).cast("long"), lit(19L)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("bucket"), (col("bucket") * 10).as("lo_tokens"),
        col("n_docs"))

  private val docLengthHistogramSql =
    """WITH t AS (SELECT least(
      |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) // 10,
      |    19) AS bucket FROM documents)
      |SELECT bucket, bucket * 10 AS lo_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM t GROUP BY 1""".stripMargin

  /** Dataset mixture: per-source sampling weights applied via the
    * deterministic md5 bucket — reweighting corpus sources (the
    * up/down-sampling step of training-data assembly) as a pure filter,
    * reproducible on any engine. */
  def sourceMixture(spark: SparkSession, dir: String): DataFrame = {
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val thresh = when(srcNum % 4 === 0, 256).when(srcNum % 4 === 1, 128)
      .when(srcNum % 4 === 2, 64).otherwise(32)
    val kept = when(Sampling.bucket256(col("doc_id")) < thresh, 1L).otherwise(0L)
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(kept).as("n_kept"))
  }

  private val sourceMixtureSql =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |    + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1
      |    < CASE CAST(substr(source, 4) AS INT) % 4
      |        WHEN 0 THEN 256 WHEN 1 THEN 128 WHEN 2 THEN 64 ELSE 32 END
      |  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM documents GROUP BY source""".stripMargin

  /** Mixture rebalance gate (#43a): `source_mixture` REPORTS the mix;
    * this PRODUCES the corpus at a desired mix — a 4:3:2:1 target over
    * four sources, every other source dropped. The kept set is a pure
    * function of the ids (md5-bucket thresholds from integer-exact
    * arithmetic), so the oracle recomputes it row for row. */
  def mixtureRebalance(spark: SparkSession, dir: String): DataFrame =
    Sampling.sampleMixture(Tables.documents(spark, dir), "source", "doc_id",
        Map("src0" -> 4, "src1" -> 3, "src2" -> 2, "src3" -> 1))
      .select(col("doc_id"), col("source"))

  private val mixtureRebalanceSql =
    """WITH b AS (
      |  SELECT doc_id, source,
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) AS bucket
      |  FROM documents),
      |w(source, w_s) AS (VALUES ('src0', 4), ('src1', 3), ('src2', 2), ('src3', 1)),
      |c AS (SELECT b.source, w_s, COUNT(*) AS n_s
      |      FROM b JOIN w USING (source) GROUP BY 1, 2),
      |nm AS (SELECT MIN(n_s * 10 // w_s) AS n_max FROM c),
      |t AS (SELECT source, w_s * n_max * 65536 // (10 * n_s) AS t_s FROM c, nm)
      |SELECT doc_id, source FROM b JOIN t USING (source)
      |WHERE bucket < t_s""".stripMargin

  // ------------------------------------------------------- #31a

  /** Corpus-LM rarity signals (#31a): per-doc token/type counts, the
    * corpus frequency of its rarest token, and its hapax-legomena
    * count — the cheap unigram-LM stand-ins for perplexity filtering
    * (a doc full of corpus-hapax tokens is boilerplate-junk or OCR
    * noise). Shape that survives web scale: tokens collapse to
    * per-doc (tok, cnt) BEFORE anything global (the within-doc dedup
    * cuts the join volume ~4×), the vocabulary table derives from a
    * partial-agg re-sum of those rows (the corpus is never re-
    * exploded), and the vocab join shuffles on tok where AQE's skew
    * split handles the stopword head ("the" is one build row but
    * millions of probe rows). All outputs integral — exact at any
    * scale. */
  def rareTokenStats(spark: SparkSession, dir: String): DataFrame = {
    // per-doc (tok, cnt) born final from one native hash-map scan of
    // the row's token array — the explode + groupBy(doc_id, tok) form
    // this replaces is the corpus-wide re-grouping that sort-spilled
    // at the 1000× tier (SCALE1000.md); the collapse itself (the
    // documented ~4× join-volume cut) is unchanged, it just costs
    // zero exchanges now
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.termCounts(
          split(col("text"), " "))).as("e"))
      .select(col("doc_id"), col("e.term").as("tok"), col("e.tf").as("cnt"))
    val vocab = perDoc.groupBy(col("tok"))
      .agg(sum(col("cnt")).as("f"))
    perDoc.join(vocab, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
           count(lit(1)).as("n_types"),
           min(col("f")).as("min_tok_freq"),
           sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"))
  }

  private val rareTokenStatsSql =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |pd AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
      |fr AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS f FROM pd GROUP BY 1)
      |SELECT doc_id,
      |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_types,
      |  MIN(f) AS min_tok_freq,
      |  CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      |FROM pd JOIN fr USING (tok)
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- #38b

  /** Heavy hitters per language via the Misra-Gries typed Aggregator
    * (#38b, Aggregators.HeavyHittersAgg). `heavy_hitters_sound` is the
    * driver gate: capacity 1024 ≥ the whole vocabulary, where MG is
    * provably exact, so the top-5-per-lang output hash-matches an
    * exact GROUP BY/window oracle while still driving the full sketch
    * machinery (map-side partial summaries, mergeable-summary
    * combine). The production-shaped twin below runs capacity 8 —
    * genuinely lossy on this corpus — and is rows-only checked, since
    * MG estimates depend on the merge tree. */
  private def heavyHittersBy(spark: SparkSession, dir: String,
                             capacity: Int, k: Int): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.Aggregators.heavyHitters(capacity)
             .toColumn.name("hh"))
      .flatMap { case (lang, hits) => hits.take(k).map(h => (lang, h.token, h.est)) }
      .toDF("lang", "token", "n_est")
  }

  def heavyHittersSound(spark: SparkSession, dir: String): DataFrame =
    heavyHittersBy(spark, dir, capacity = 1024, k = 5)

  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersBy(spark, dir, capacity = 8, k = 5)

  private val heavyHittersSoundSql =
    """WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |c AS (SELECT lang, tok AS token, COUNT(*) AS n_est
      |      FROM tk GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang
      |        ORDER BY n_est DESC, token) AS rk FROM c)
      |SELECT lang, token, n_est FROM r WHERE rk <= 5""".stripMargin

  // ------------------------------------------------------- #38c

  /** PMI collocations (#38c): top token pairs by pointwise mutual
    * information over document co-occurrence. Everything upstream of
    * the ranking is exact integers: doc-frequency per token, co-doc
    * frequency per (within-doc distinct) pair, corpus doc count. PMI
    * ∝ log(cooc·N / (df_a·df_b)) and log is monotone, so ranking by
    * the RATIO needs no log: both engines compute the identical IEEE
    * double from identical bigint products (each < 2^53 — overflow-
    * checked domain). Scale shape: within-doc DISTINCT collapse
    * first, then the per-doc pair expansion flows straight into a
    * map-side partial agg keyed by (tok_a, tok_b) — pairs-per-doc is
    * bounded by per-doc type count squared, and the shuffle carries
    * only the ~|vocab|² surviving keys, not the expansion. Top-k via
    * limit-after-sort (TakeOrdered map-side heads), vocab_top_words
    * precedent. */
  def pmiTopPairs(spark: SparkSession, dir: String): DataFrame = {
    val docTok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val df = docTok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"))
    val cooc = docTok.as("a")
      .join(docTok.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("cooc"))
    val scored = cooc
      .join(broadcast(df).withColumnRenamed("tok", "tok_a")
              .withColumnRenamed("df", "df_a"), Seq("tok_a"))
      .join(broadcast(df).withColumnRenamed("tok", "tok_b")
              .withColumnRenamed("df", "df_b"), Seq("tok_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("cooc"),
        ((col("cooc") * col("n_docs")).cast("double") /
         (col("df_a") * col("df_b")).cast("double")).as("pmi_ratio"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pmi_ratio").desc, col("tok_a"), col("tok_b"))
    scored.orderBy(col("pmi_ratio").desc, col("tok_a"), col("tok_b")).limit(20)
      .withColumn("rk", row_number().over(w))
  }

  private val pmiTopPairsSql =
    """WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |f AS (SELECT tok, COUNT(*) AS df FROM dt GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |c AS (SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS cooc
      |      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      |      GROUP BY 1, 2),
      |s AS (SELECT tok_a, tok_b, cooc,
      |        CAST(cooc * n_docs AS DOUBLE) / CAST(fa.df * fb.df AS DOUBLE)
      |          AS pmi_ratio
      |      FROM c, n
      |      JOIN f fa ON c.tok_a = fa.tok JOIN f fb ON c.tok_b = fb.tok)
      |SELECT tok_a, tok_b, cooc, pmi_ratio,
      |  CAST(row_number() OVER (ORDER BY pmi_ratio DESC, tok_a, tok_b) AS INT) AS rk
      |FROM s QUALIFY rk <= 20""".stripMargin

  // ------------------------------------------------------- #47a

  /** Corpus mixture drift (#47a): per-(lang, source) cell comparison
    * between two corpus snapshots (even vs odd doc_id standing in for
    * yesterday/today), with the total-variation contribution kept in
    * EXACT integers: |p_a − p_b| scaled by tot_a·tot_b is
    * |cnt_a·tot_b − cnt_b·tot_a| — the drift monitor a retraining
    * pipeline gates on, with no float division anywhere. Single scan,
    * one partial-agg shuffle of |lang×source| cells, broadcast
    * single-row totals. */
  def mixtureDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("cnt_a"),
           sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("cnt_b"))
    val tot = cells.agg(sum(col("cnt_a")).as("tot_a"),
                        sum(col("cnt_b")).as("tot_b"))
    cells.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("cnt_a"), col("cnt_b"),
        abs(col("cnt_a") * col("tot_b") - col("cnt_b") * col("tot_a"))
          .as("drift_scaled"))
  }

  private val mixtureDriftSql =
    """WITH c AS (SELECT lang, source,
      |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
      |    CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
      |  FROM documents GROUP BY 1, 2),
      |t AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS tot_a,
      |             CAST(SUM(cnt_b) AS BIGINT) AS tot_b FROM c)
      |SELECT lang, source, cnt_a, cnt_b,
      |  abs(cnt_a * tot_b - cnt_b * tot_a) AS drift_scaled
      |FROM c, t""".stripMargin

  /** DSIR fit (#60): exact hashed unigram+bigram bucket counts for
    * the target slice (lang='en') vs the raw corpus — the integer
    * half of the importance-weight pipeline; see [[Dsir.fit]]. */
  def dsirFit(spark: SparkSession, dir: String): DataFrame =
    Dsir.fit(Tables.documents(spark, dir), "text", col("lang") === "en")

  private val dsirFitSql =
    """WITH d AS (SELECT lang = 'en' AS flag,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |g AS (SELECT flag, t.tok AS g FROM d, UNNEST(d.toks) AS t(tok)
      |      UNION ALL
      |      SELECT flag, d.toks[i] || ' ' || d.toks[i+1] AS g
      |      FROM d, UNNEST(generate_series(1, len(d.toks) - 1)) AS u(i)),
      |b AS (SELECT flag,
      |    ((strpos('0123456789abcdef', substr(md5(g), 31, 1)) - 1) * 16
      |   + (strpos('0123456789abcdef', substr(md5(g), 32, 1)) - 1)) % 256 AS bucket
      |  FROM g)
      |SELECT CAST(bucket AS INTEGER) AS bucket,
      |  CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_target,
      |  COUNT(*) AS n_raw
      |FROM b GROUP BY 1""".stripMargin

  /** DSIR scoring sound gate (#60): the same per-row fold code path
    * as the real scorer, fed a PLANTED bucket→ratio table of exact
    * small integers (lr_b = (b·37 mod 15) − 7) — every per-gram term
    * and every partial sum is an exact double at any fold order, so
    * DuckDB reproduces the scores bit-for-bit. Gates the hashing,
    * bucketing, bigram construction, and fold exactly; the real
    * ln-smoothed ratios ride the identical plan (`dsir_select`). */
  def dsirSound(spark: SparkSession, dir: String): DataFrame = {
    val planted = Array.tabulate(256)(b => ((b * 37 % 15) - 7).toDouble)
    Dsir.score(Tables.documents(spark, dir), "doc_id", "text", planted)
  }

  private val dsirSoundSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, t.tok AS g FROM d, UNNEST(d.toks) AS t(tok)
      |      UNION ALL
      |      SELECT doc_id, d.toks[i] || ' ' || d.toks[i+1] AS g
      |      FROM d, UNNEST(generate_series(1, len(d.toks) - 1)) AS u(i)),
      |b AS (SELECT doc_id,
      |    ((strpos('0123456789abcdef', substr(md5(g), 31, 1)) - 1) * 16
      |   + (strpos('0123456789abcdef', substr(md5(g), 32, 1)) - 1)) % 256 AS bucket
      |  FROM g)
      |SELECT doc_id,
      |  CAST(SUM((bucket * 37 % 15) - 7) AS DOUBLE) AS score
      |FROM b GROUP BY 1""".stripMargin

  /** DSIR end-to-end selection (#60): real add-one-smoothed ln
    * ratios (target = lang='en'), global top-100 by importance.
    * Rows-only by nature — ln's last bit is libm-dependent, so the
    * scores are engine-deterministic but not engine-portable;
    * machinery is oracle-gated by `dsir_fit` + `dsir_sound` and the
    * semantics by DsirSpec (target docs outscore the rest on
    * average; repartition-stable). */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame =
    Dsir.select(Tables.documents(spark, dir), "doc_id", "text",
                col("lang") === "en", n = 100)

  /** Per-source quality filter, approx swap (#31a2): the documented
    * 100 TB replacement for `quality_filter`'s per-source window sort
    * — an approx-percentile threshold per source broadcast back as a
    * plain filter (no corpus window). Gate: in-query tolerance flag
    * (sketch_sound pattern): each source's kept count must land
    * within 5% (+2 rows slack) of the exact half the window form
    * keeps. */
  def qualityFilterApprox(spark: SparkSession, dir: String): DataFrame = {
    // materialize the narrow (id, source, quality) projection ONCE:
    // it feeds BOTH the threshold agg and the filter side, and Spark
    // does not dedupe shared subtrees — uncheckpointed, the 3-regex
    // quality score ran twice over the corpus (measured at 100×:
    // 59 s vs 31 s; the lm_perplexity lesson on a projection instead
    // of a fit table)
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .localCheckpoint()
    val thr = scored.groupBy(col("source"))
      .agg(percentile_approx(col("quality"), lit(0.5), lit(10000)).as("thr"),
           count(lit(1)).as("n_docs"))
    scored.join(broadcast(thr), "source")
      .where(col("quality") >= col("thr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), first(col("n_docs")).as("n_docs"))
      .select(col("source"), col("n_docs"),
        (abs(col("n_kept") - col("n_docs") / 2) <=
          col("n_docs").cast("double") * lit(0.05) + lit(2.0)).as("kept_ok"))
  }

  private val qualityFilterApproxSql =
    """SELECT source, COUNT(*) AS n_docs, true AS kept_ok
      |FROM documents GROUP BY 1""".stripMargin

  /** Vocabulary coverage curve (#38d): what fraction of corpus token
    * MASS the top-N words cover, for candidate vocab sizes — the
    * analysis that sizes a tokenizer vocabulary before training it
    * (complement of `bpe_train`: decide N, then learn the pieces;
    * the synthetic corpus has a 31-word vocabulary, so the gate
    * curve uses sizes 4/8/16 — the plan shape is size-independent).
    * One word-count shuffle (vocabulary-bounded), one rank window
    * over the count table (NOT the corpus), exact integer mass sums;
    * the coverage ratio is one final division (dsum discipline). */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(4, 8, 16)
    val counts = Bpe.wordCounts(Tables.documents(spark, dir), "text")
    // rank by (n DESC, word) without a one-task global window: the
    // vocabulary is corpus-sized (billions of grams at 100 TB), so the
    // cumsum goes through the bucketed machinery. Counts are
    // heavy-tailed — a LOG bucket (-floor(log2 n)) is monotone in the
    // rank order and ≤ 64 distinct values for ANY long count, so the
    // declared bucket bound holds by type, not by data.
    val ranked = Relational.bucketedGlobalCumsum(
      counts.withColumn("negn", -col("n")),
      valueCol = "negn", tieCol = "word", sumCol = "n",
      bucketCol = -floor(log2(col("n"))), maxBuckets = 128)
    val total = counts.agg(sum(col("n")).as("total"))
    ranked.where(col("r").isin(sizes.map(Integer.valueOf): _*))
      .crossJoin(broadcast(total))
      .select(col("r").cast("int").as("vocab_size"),
        col("cum").as("mass_covered"), col("total").as("mass_total"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("coverage"))
  }

  private val vocabCoverageSql =
    """WITH c AS (SELECT word, COUNT(*) AS n FROM (
      |    SELECT unnest(string_split(
      |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
      |    FROM documents) WHERE len(word) > 0 GROUP BY 1),
      |r AS (SELECT word, n,
      |        CAST(row_number() OVER w AS INT) AS rk,
      |        CAST(SUM(n) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |      FROM c WINDOW w AS (ORDER BY n DESC, word)),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
      |SELECT rk AS vocab_size, cum AS mass_covered, t.total AS mass_total,
      |  CAST(cum AS DOUBLE) / CAST(t.total AS DOUBLE) AS coverage
      |FROM r, t WHERE rk IN (4, 8, 16)""".stripMargin

  /** Temperature-scaled mixture sampling (#43b): keep rates per
    * language ∝ n_s^(α−1) with α = 1/2 (lang is the skewed grouping
    * here — en is ~3× the rest; the column is a parameter in spirit) — the multilingual-training
    * standard that upsamples scarce sources relative to their share
    * (α=1 keeps the natural mix, α=0 equalizes). Engine-exact at
    * α=1/2 because IEEE-754 REQUIRES sqrt to be correctly rounded
    * (unlike ln/pow): rate_s = sqrt(n_min/n_s) — scarcest source
    * keeps all — and the keep decision is the md5-bucket threshold
    * floor(rate·65536), all bit-identical in DuckDB. Same shape as
    * `mixture_rebalance`: tiny count agg broadcast back, per-row
    * filter, no corpus shuffle. */
  def mixtureAlpha(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
    val nMin = counts.agg(min(col("n_s")).as("n_min"))
    val rates = counts.crossJoin(broadcast(nMin))
      .select(col("lang"),
        floor(sqrt(col("n_min").cast("double") / col("n_s").cast("double"))
              * 65536).cast("long").as("t_s"))
    docs.join(broadcast(rates), "lang")
      .where(Sampling.bucket65536(col("doc_id")) < col("t_s"))
      .select(col("doc_id"), col("lang"))
  }

  private val mixtureAlphaSql =
    """WITH c AS (SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY 1),
      |m AS (SELECT MIN(n_s) AS n_min FROM c),
      |r AS (SELECT lang,
      |        CAST(floor(sqrt(CAST(m.n_min AS DOUBLE) / CAST(n_s AS DOUBLE))
      |                   * 65536) AS BIGINT) AS t_s
      |      FROM c, m)
      |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
      |WHERE (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |    + (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |    + (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |    + (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 32, 1)) - 1)
      |    < r.t_s""".stripMargin

  /** BPE trainer sound gate (#64a): the merge loop on a planted
    * corpus (low×5 lower×2 newest×6 widest×3 — the Sennrich paper's
    * own example shape) whose FULL 8-merge sequence, including every
    * count-tie broken lexicographically, is hand-derived in the
    * VALUES-literal oracle. Gates ordering, tie-breaks, ## naming,
    * and the dictionary rewrite exactly. */
  def bpeTrainSound(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Bpe.trainFrom(Seq(text).toDF("text"), "text", numMerges = 8)
      .zipWithIndex
      .map { case (m, i) => (i + 1, m.merged, m.count) }
      .toDF("rank", "merged", "pair_count")
  }

  private val bpeTrainSoundSql =
    """SELECT CAST(rank AS INTEGER) AS rank, merged,
      |  CAST(pair_count AS BIGINT) AS pair_count
      |FROM (VALUES (1,'##es',9),(2,'##est',9),(3,'##ow',7),(4,'low',7),
      |             (5,'##ew',6),(6,'##ewest',6),(7,'newest',6),
      |             (8,'##dest',3)) AS t(rank, merged, pair_count)""".stripMargin

  /** Unigram-LM trainer sound gate (#64c): SentencePiece-style
    * Viterbi-EM ([[Unigram]]) on the same planted Sennrich-shape
    * corpus as `bpe_train_sound` (low×5 lower×2 newest×6 widest×3),
    * maxPieceLen=3, 8 multi-char seeds, 2 EM rounds. The expected
    * output — substring seeding with frequency-truncation, exact
    * rational Viterbi ("lower"→low|e|r beats lo|we|r on 7·17·2 vs
    * 7·8·2), zero-count char retention (l,o,s,t survive at 0), unused
    * multi-char pruning (es,st,we,lo,ow dropped), and the round-2
    * fixed point — is recomputed by an independent exact-fraction
    * reference and pinned as a VALUES-literal oracle (the
    * `bpe_train_sound` pattern). */
  def unigramTrainSound(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Unigram.trainFrom(Seq(text).toDF("text"), "text",
        maxPieceLen = 3, maxSeed = 8, rounds = 2)
      .map(p => (p.piece, p.count))
      .toDF("piece", "piece_count")
  }

  private val unigramTrainSoundSql =
    """SELECT piece, CAST(piece_count AS BIGINT) AS piece_count
      |FROM (VALUES ('d',3),('e',2),('est',9),('ew',6),('i',3),('l',0),
      |             ('low',7),('n',6),('o',0),('r',2),('s',0),('t',0),
      |             ('w',3)) AS t(piece, piece_count)""".stripMargin

  /** Unigram-LM training end to end (#64c): real-corpus dictionary,
    * 2 EM rounds, vocab capped at 400. Rows-only by the driver's
    * lights (the oracle cannot run the iterative Viterbi-EM); the
    * loop itself is gated exactly by `unigram_train_sound`. */
  def unigramTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Unigram.trainFrom(Tables.documents(spark, dir), "text",
        maxPieceLen = 6, maxSeed = 2000, rounds = 2, vocabSize = 400)
      .map(p => (p.piece, p.count))
      .toDF("piece", "piece_count")
  }

  /** BPE training end to end (#64a): 40 merges over the real corpus
    * dictionary. Rows-only by the driver's lights (the oracle cannot
    * run an iterative argmax loop); the loop itself is gated exactly
    * by `bpe_train_sound` and the dictionary by the vocab queries. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Bpe.trainFrom(Tables.documents(spark, dir), "text", numMerges = 40)
      .zipWithIndex
      .map { case (m, i) => (i + 1, m.left, m.right, m.merged, m.count) }
      .toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Gate vocabulary for WordPiece (#64): every lowercase letter but
    * 'q' and every digit, bare and as "##" continuations, plus a few
    * real subwords — so most text tokenizes fully, 'q'-words hit the
    * whole-word-[UNK] path, and longest-match has real choices. */
  private[graft] val wpVocab: Seq[String] = {
    val chars = (('a' to 'z').filterNot(_ == 'q') ++ ('0' to '9')).map(_.toString)
    chars ++ chars.map("##" + _) ++
      Seq("the", "and", "ing", "ion", "er", "in", "on", "re", "at",
          "##ing", "##ed", "##er", "##ion", "##s", "##nd", "##at",
          "##on", "##re", "##e", "##d")
  }

  /** WordPiece tokenization (#64): greedy longest-match subword
    * pieces per document — see [[Wordpiece.tokenize]]. Pure string
    * work, so the oracle (a per-word recursive-CTE cursor — a
    * different formulation entirely) must agree byte-for-byte. */
  def wordpieceTokenize(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val toks = Wordpiece.tokenizeNative(col("text"), wpVocab)
    // bounded gate corpus (the dedup_simhash_sound rule): the DuckDB
    // twin is a RECURSIVE per-character MaxMatch — fine at 20k docs,
    // an OOM at the 100x set. The unbounded native path was probed at
    // 100x (15.8 s; SCALE100.md); the native==HOF identity spec pins it.
    Tables.documents(spark, dir).where(col("doc_id") < 20000)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        concat_ws(" ", col("toks")).as("token_str"),
        size(col("toks")).cast("long").as("n_tokens"),
        // array_remove, not an interpreted filter lambda: the tokens
        // are never null, so the size difference counts the [UNK]s
        (size(col("toks")) - size(array_remove(col("toks"), "[UNK]")))
          .cast("long").as("n_unk"))
  }

  private val wordpieceTokenizeSql: String = {
    val values = wpVocab.map(v => s"('$v')").mkString(",")
    val keyOf = (l: Int) =>
      s"CASE WHEN pos = 1 THEN substr(wd, pos, $l) ELSE '##' || substr(wd, pos, $l) END"
    val mlen = (8 to 1 by -1).map(l =>
      s"WHEN ${keyOf(l)} IN (SELECT tok FROM vocab) THEN $l").mkString(
      "CASE ", " ", " END")
    val mtok = (8 to 1 by -1).map(l =>
      s"WHEN ${keyOf(l)} IN (SELECT tok FROM vocab) THEN ${keyOf(l)}").mkString(
      "CASE ", " ", " END")
    s"""WITH RECURSIVE vocab(tok) AS (VALUES $values),
       |d AS (SELECT doc_id,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents WHERE doc_id < 20000),
       |w AS (SELECT doc_id, i AS ord, d.toks[i] AS wd
       |      FROM d, UNNEST(generate_series(1, len(d.toks))) AS u(i)),
       |step(doc_id, ord, wd, pos, toks, failed) AS (
       |  SELECT doc_id, ord, wd, 1, '', false FROM w
       |  UNION ALL
       |  SELECT doc_id, ord, wd,
       |    CASE WHEN mlen IS NULL THEN pos ELSE pos + mlen END,
       |    CASE WHEN mlen IS NULL THEN toks
       |         WHEN toks = '' THEN mtok ELSE toks || ' ' || mtok END,
       |    mlen IS NULL
       |  FROM (SELECT doc_id, ord, wd, pos, toks,
       |          $mlen AS mlen, $mtok AS mtok
       |        FROM step WHERE NOT failed AND pos <= len(wd)) s),
       |fin AS (SELECT doc_id, ord,
       |          CASE WHEN failed THEN '[UNK]' ELSE toks END AS wt
       |        FROM step WHERE failed OR pos > len(wd)),
       |agg AS (SELECT doc_id,
       |    COALESCE(string_agg(wt, ' ' ORDER BY ord)
       |             FILTER (WHERE wt <> ''), '') AS token_str
       |  FROM fin GROUP BY 1)
       |SELECT d.doc_id, agg.token_str,
       |  CAST(CASE WHEN token_str = '' THEN 0
       |       ELSE len(string_split(token_str, ' ')) END AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(string_split(token_str, ' '),
       |                       x -> x = '[UNK]')) AS BIGINT) AS n_unk
       |FROM d JOIN agg USING (doc_id)""".stripMargin
  }

  /** Corpus-wide length percentile per document (#46e): the exact
    * percentile-rank normalization that turns a raw signal (token
    * count) into the [0,1] score curriculum samplers and length
    * filters consume — [[Relational.bucketedGlobalRank]] at DOC grain,
    * proving the distributed-rank machinery is a general operator,
    * not a Gini special case. Integer values, ties by doc_id; pct is
    * ONE division of exact longs. */
  def docLengthPercentile(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val n = toks.agg(count(lit(1)).as("n"))
    Relational.bucketedGlobalRank(toks, "n_tokens", "doc_id",
                                  bucketWidth = 64)
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_tokens"), col("r").as("len_rank"),
              (col("r").cast("double") / col("n").cast("double")).as("pct"))
  }

  private val docLengthPercentileSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |r AS (SELECT doc_id, n_tokens,
      |        row_number() OVER (ORDER BY n_tokens, doc_id) AS len_rank,
      |        COUNT(*) OVER () AS n
      |      FROM t)
      |SELECT doc_id, n_tokens, len_rank,
      |  CAST(len_rank AS DOUBLE) / CAST(n AS DOUBLE) AS pct
      |FROM r""".stripMargin

  /** Bigram-LM novelty evidence (#61): reference LM = the lang='en'
    * slice; every doc scored by exact integer sequence-level OOV
    * counts — see [[Lm.novelty]]. */
  def lmNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = Lm.fitBigrams(docs.where(col("lang") === "en"),
                            "doc_id", "text")
    Lm.novelty(docs, "doc_id", "text", ref)
  }

  private val lmNoveltySql =
    """WITH d AS (SELECT doc_id, lang,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |bg AS (SELECT doc_id, d.toks[i] AS w1, d.toks[i+1] AS w2
      |       FROM d, UNNEST(generate_series(1, len(d.toks) - 1)) AS u(i)),
      |ref AS (SELECT w1, w2, COUNT(*) AS c12
      |        FROM bg JOIN d USING (doc_id) WHERE d.lang = 'en'
      |        GROUP BY 1, 2),
      |agg AS (SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |    SUM(CASE WHEN r.c12 IS NULL THEN 1 ELSE 0 END) AS n_unseen,
      |    SUM(COALESCE(r.c12, 0)) AS hit_mass
      |  FROM bg b LEFT JOIN ref r ON b.w1 = r.w1 AND b.w2 = r.w2
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(COALESCE(a.n_unseen, 0) AS BIGINT) AS n_unseen,
      |  CAST(COALESCE(a.hit_mass, 0) AS BIGINT) AS hit_mass
      |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Bigram-LM mean negative log-likelihood (#61): real add-one
    * smoothed scoring against the en-slice LM. Rows-only by nature
    * (ln is libm-local); machinery oracle-gated by `lm_novelty`,
    * semantics by LmSpec (reference-slice docs score better). */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val en = docs.where(col("lang") === "en")
    Lm.meanNll(docs, "doc_id", "text", Lm.fitBigrams(en, "doc_id", "text"))
  }

  /** Weighted k-sample per group (#36c): priority sampling
    * (Duffield-Lund-Thorup) over documents, 40 per source, with
    * length-derived integer weights (w = min(16, 1 + n_chars/256) —
    * a caller would pass a quality score; the gate uses an exact
    * integer basis so every weight is bit-identical in both
    * engines). q = w·65537/(b+1) is one exact product + one IEEE
    * division, so the kept set AND the Horvitz-Thompson ŵ are
    * engine-exact — see [[Sampling.prioritySample]]. */
  def samplePriority(spark: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          least(lit(16L), lit(1L) + col("n_chars") / lit(256L))
            .cast("long").as("w")),
      "source", "doc_id", "w", k = 40)
      .select(col("doc_id"), col("source"),
              col("w").cast("double").as("w"), col("est_w"))

  private val samplePrioritySql =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(least(16, 1 + n_chars // 256) AS DOUBLE) AS w,
      |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) + 1 AS b1
      |  FROM documents),
      |q AS (SELECT doc_id, source, w, w * 65537.0 / CAST(b1 AS DOUBLE) AS q FROM d),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |                                   ORDER BY q DESC, doc_id) AS rk FROM q),
      |t AS (SELECT source, MAX(CASE WHEN rk = 41 THEN q END) AS tau
      |      FROM r GROUP BY 1)
      |SELECT r.doc_id, r.source, r.w,
      |  CASE WHEN t.tau IS NULL THEN r.w ELSE greatest(r.w, t.tau) END AS est_w
      |FROM r JOIN t USING (source) WHERE rk <= 40""".stripMargin

  /** Per-source boilerplate stripping (#57): the corpus carries no
    * real site templates, so the query PREPENDS a deterministic
    * 8-token banner (exactly ONE segment — the original segment grid
    * shifts by one whole segment and stays intact) naming the doc's
    * source; the operator must strip it from every document (its
    * within-source df is 100% ≥ 1/4) while keeping the natural
    * segments (max within-source df is 2/25 < 1/4). Self-checking:
    * clean_text must equal the normalized ORIGINAL text —
    * CorpusSpec asserts exactly that. See [[Corpus.stripBoilerplate]]. */
  def stripBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      concat(lit("nav menu home login search contact about "),
             col("source"), lit(" "), col("text")).as("text"))
    Corpus.stripBoilerplate(docs, "doc_id", "text", "source",
                            segTokens = 8, num = 1, den = 4)
  }

  private val stripBoilerplateSql =
    """WITH d AS (SELECT doc_id, source,
      |    'nav menu home login search contact about ' || source || ' ' || text AS text
      |  FROM documents),
      |t AS (SELECT doc_id, source,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM d),
      |s AS (SELECT doc_id, source, i AS seg_idx,
      |        array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS seg
      |      FROM t, UNNEST(generate_series(0, greatest((len(toks)+7)//8 - 1, 0))) AS u(i)),
      |c AS (SELECT source, seg, COUNT(DISTINCT doc_id) AS seg_docs
      |      FROM s GROUP BY 1, 2),
      |n AS (SELECT source, COUNT(DISTINCT doc_id) AS src_docs
      |      FROM d GROUP BY 1),
      |f AS (SELECT s.doc_id, s.source, s.seg_idx, s.seg,
      |        c.seg_docs * 4 < n.src_docs * 1 AS kept
      |      FROM s JOIN c USING (source, seg) JOIN n USING (source))
      |SELECT doc_id, source,
      |  COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept), '') AS clean_text,
      |  CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
      |  CAST(COUNT(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dropped
      |FROM f GROUP BY 1, 2""".stripMargin

  // ----------------------------- exact stratified split (#36e)

  /** Exact stratified 80/10/10 split by source (#36e): per-stratum
    * counts are EXACT (integer thresholds over the md5 rank), unlike
    * the binomial hash split (#36). One window shuffle; see
    * [[Sampling.stratifiedSplit]]. */
  def stratifiedSplit(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSplit(
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      "source", "doc_id", trainPct = 80, valPct = 10)

  private val stratifiedSplitSql =
    """WITH r AS (SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT doc_id, source,
      |  CASE WHEN rn <= n * 80 // 100 THEN 'train'
      |       WHEN rn <= n * 90 // 100 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM r""".stripMargin

  // ---------------- Unicode normalization (#30c, graft_unicode_normalize)

  /** NFC canonicalization gate (#30c): deterministically DECOMPOSE the
    * corpus (every 'e' → 'e' + U+0301 combining acute — the
    * crawler-variant byte split that defeats exact dedup), then
    * recompose with the native NFC expression. DuckDB builds the same
    * decomposed text (chr(769)) and recomposes with its own
    * `nfc_normalize` — two independent Unicode implementations must
    * produce identical bytes, codepoint counts, and composition
    * deltas. */
  def nfcNormalizeSound(spark: SparkSession, dir: String): DataFrame = {
    val decomposed = regexp_replace(col("text"), "e", "e\u0301") // e + combining acute
    // bounded gate corpus (dedup_simhash_sound rule): the compare
    // materializes BOTH engines' full normalized text in pandas \u2014
    // 5k docs proves the byte-level machinery at any harness scale
    Tables.documents(spark, dir).where(col("doc_id") < 5000).select(
      col("doc_id"),
      graft.functions.GraftFunctions.unicodeNormalize(decomposed, "NFC")
        .as("norm_text"),
      (length(decomposed) -
        length(graft.functions.GraftFunctions.unicodeNormalize(decomposed, "NFC")))
        .as("n_composed"))
  }

  private val nfcNormalizeSoundSql =
    """WITH d AS (SELECT doc_id,
      |    regexp_replace(text, 'e', 'e' || chr(769), 'g') AS dec
      |  FROM documents WHERE doc_id < 5000)
      |SELECT doc_id, nfc_normalize(dec) AS norm_text,
      |  CAST(length(dec) - length(nfc_normalize(dec)) AS INTEGER) AS n_composed
      |FROM d""".stripMargin

  // ------------------------------ BPE encode (#64b, graft_bpe_encode)

  /** BPE apply sound gate (#64b): encode every doc with a PLANTED
    * 4-merge table chosen so sequential rank-order replacement equals
    * the native min-rank-first apply (no merge's output feeds a
    * LOWER-rank pair), which lets DuckDB replay the merges as nested
    * space-padded string replaces over the ##-alphabet char split.
    * The word-start merges (t ##h, th ##e, i ##n) occur at most once
    * per word (a bare left symbol only exists at position 0); the
    * continuation merge (##e ##r) can chain, so its SQL replace runs
    * three passes (boundary spaces are consumed by a match — one pass
    * misses every second adjacent occurrence). */
  def bpeEncodeSound(spark: SparkSession, dir: String): DataFrame = {
    val merges = Seq("t ##h", "th ##e", "i ##n", "##e ##r")
    // bounded gate corpus (the dedup_simhash_sound rule: a verification
    // construct must stay runnable at every scale the harness uses) —
    // the DuckDB twin explodes every CHARACTER of every word, which is
    // fine at 5k docs and a 150M-row memory blowup at the 100× set.
    // The unbounded production path is `bpe_encode`.
    Tables.documents(spark, dir).where(col("doc_id") < 5000)
      .select(col("doc_id"),
        concat_ws(" ", graft.functions.GraftFunctions.bpeEncode(
          TextFunctions.normalize(col("text")), merges)).as("pieces"))
  }

  private val bpeEncodeSoundSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents WHERE doc_id < 5000),
      |w AS (SELECT doc_id, u.i AS pos, d.ws[u.i] AS word
      |      FROM d, UNNEST(generate_series(1, len(d.ws))) AS u(i)),
      |sym AS (SELECT doc_id, pos,
      |    ' ' || array_to_string(list_transform(generate_series(1, length(word)),
      |      i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
      |           ELSE '##' || substr(word, i, 1) END), ' ') || ' ' AS s
      |  FROM w WHERE length(word) > 0),
      |m1 AS (SELECT doc_id, pos, replace(s, ' t ##h ', ' th ') AS s FROM sym),
      |m2 AS (SELECT doc_id, pos, replace(s, ' th ##e ', ' the ') AS s FROM m1),
      |m3 AS (SELECT doc_id, pos, replace(s, ' i ##n ', ' in ') AS s FROM m2),
      |m4 AS (SELECT doc_id, pos,
      |    replace(replace(replace(s,
      |      ' ##e ##r ', ' ##er '), ' ##e ##r ', ' ##er '), ' ##e ##r ', ' ##er ') AS s
      |  FROM m3)
      |SELECT doc_id, string_agg(trim(s), ' ' ORDER BY pos) AS pieces
      |FROM m4 GROUP BY doc_id""".stripMargin

  /** BPE train → encode round-trip (#64b production path): 8 merges
    * trained from this very corpus ([[Bpe.trainFrom]]), applied by the
    * native expression. Rows-only by nature (the merge table is
    * runtime data, so no static SQL twin); the apply semantics are
    * gated exactly by `bpe_encode_sound` and BpeSpec's reference
    * round-trip. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = Bpe.trainFrom(docs, "text", numMerges = 8)
      .map(m => s"${m.left} ${m.right}")
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.bpeEncode(
        TextFunctions.normalize(col("text")), merges).as("p"))
      .select(col("doc_id"), size(col("p")).as("n_pieces"),
        concat_ws(" ", col("p")).as("pieces"))
  }

  // ----------------------- token-budget mixture cut (#43c)

  /** Token-budget mixture (#43c): cap every source at 800 BPE-ish
    * tokens, docs taken in deterministic md5 order — the unit training
    * mixtures are actually specified in. One window shuffle keyed by
    * source; see [[Sampling.capTokensPerSource]]. */
  def mixtureTokenBudget(spark: SparkSession, dir: String): DataFrame =
    Sampling.capTokensPerSource(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_tokens")),
      "source", "doc_id", "n_tokens", budget = 800L)

  private val mixtureTokenBudgetSql =
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
      |  FROM t)
      |SELECT doc_id, source, n_tokens FROM c WHERE cum <= 800""".stripMargin

  // ------------------- learned quality classifier (#66, perceptron)

  /** Planted integer features for the perceptron gate: every product,
    * margin, and epoch sum is an exact small integer in doubles at ANY
    * aggregation order, so two full synchronous epochs unroll in SQL
    * bit-for-bit (the pca_sound discipline applied to a LEARNER). */
  private def perceptronPlanted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      expr("CAST(doc_id % 5 - 2 AS DOUBLE)").as("f1"),
      expr("CAST(doc_id % 7 - 3 AS DOUBLE)").as("f2"),
      expr("CAST((doc_id DIV 7) % 3 - 1 AS DOUBLE)").as("f3"),
      expr("CAST(IF(doc_id % 3 = 0, 1, -1) AS DOUBLE)").as("y"))

  /** Perceptron fit sound gate (#66): two synchronous batch epochs on
    * planted integer features; returns the full weight history as
    * (epoch, feature, weight) scalar rows. Epoch 1 from w=0 updates on
    * EVERY row (margin 0 counts as misclassified); epoch 2's
    * misclassification test exercises the learned-margin path. */
  def perceptronSound(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Classify.fitPerceptron(perceptronPlanted(spark, dir),
      Seq("f1", "f2", "f3"), "y", epochs = 2)
    m.historyRows.toDF("epoch", "feature", "weight")
  }

  private val perceptronSoundSql =
    """WITH v AS (SELECT
      |    CAST(doc_id % 5 - 2 AS DOUBLE) AS f1,
      |    CAST(doc_id % 7 - 3 AS DOUBLE) AS f2,
      |    CAST((doc_id // 7) % 3 - 1 AS DOUBLE) AS f3,
      |    CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END AS DOUBLE) AS y
      |  FROM documents),
      |e1 AS (SELECT SUM(y*f1) AS a, SUM(y*f2) AS b,
      |              SUM(y*f3) AS c, SUM(y) AS d FROM v),
      |e2 AS (SELECT
      |    (SELECT a FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f1 ELSE 0 END) AS a,
      |    (SELECT b FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f2 ELSE 0 END) AS b,
      |    (SELECT c FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f3 ELSE 0 END) AS c,
      |    (SELECT d FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y ELSE 0 END) AS d
      |  FROM v)
      |SELECT 1 AS epoch, 'f1' AS feature, a AS weight FROM e1
      |UNION ALL SELECT 1, 'f2', b FROM e1
      |UNION ALL SELECT 1, 'f3', c FROM e1
      |UNION ALL SELECT 1, '__bias', d FROM e1
      |UNION ALL SELECT 2, 'f1', a FROM e2
      |UNION ALL SELECT 2, 'f2', b FROM e2
      |UNION ALL SELECT 2, 'f3', c FROM e2
      |UNION ALL SELECT 2, '__bias', d FROM e2""".stripMargin

  /** Classifier scoring on REAL per-doc quality features under fixed
    * integer weights (#66): the production scoring path — margin is a
    * fixed-association multiply-add chain over alpha/punct/stopword
    * ratios (each one IEEE division), so DuckDB reproduces it exactly;
    * keeps docs the linear filter accepts. */
  def perceptronScore(spark: SparkSession, dir: String): DataFrame = {
    val feats = Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"))
    val model = Classify.PerceptronModel(
      Seq("alpha_ratio", "punct_ratio", "stopword_ratio"),
      Seq(Array(4.0, -3.0, 2.0, -1.0)))
    Classify.score(feats, model)
      .where(col("margin") > 0.0)
      .select(col("doc_id"), col("margin"))
  }

  private val perceptronScoreSql =
    """WITH f AS (SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS alpha_ratio,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
      |  CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |    / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS stopword_ratio
      |  FROM documents)
      |SELECT doc_id,
      |  ((alpha_ratio * 4.0 + punct_ratio * -3.0) + stopword_ratio * 2.0)
      |    + -1.0 AS margin
      |FROM f
      |WHERE ((alpha_ratio * 4.0 + punct_ratio * -3.0) + stopword_ratio * 2.0)
      |    + -1.0 > 0.0""".stripMargin

  /** End-to-end learned classifier (#66): fit 3 epochs on real ratio
    * features against the weak lang='en' label, report the per-(lang,
    * predicted) decision counts — the confusion summary a filter run
    * is judged by, and never empty even when the separator lands
    * one-sided on imbalanced data. Rows-only by nature — float epoch
    * sums are deterministic per plan but not bit-pinned across
    * partitionings (the Pca/Dsir precedent); the learner's arithmetic
    * is gated exactly by `perceptron_sound` and the scoring chain by
    * `perceptron_score`. */
  def perceptronFilter(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint the feature frame ONCE: the regex ratios are the
    // expensive part, and fit's per-epoch actions plus the final
    // scoring pass would otherwise recompute them epochs+1 times
    // (measured at 100×: 71 s -> the one-scan cost). Blocks are freed
    // by the caller's Blocks.freeAll once the result is consumed.
    val feats = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"), col("lang"),
      TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"))
      .withColumn("y", when(col("lang") === "en", 1.0).otherwise(-1.0))
      .localCheckpoint()
    val model = Classify.fitPerceptron(feats,
      Seq("alpha_ratio", "punct_ratio", "stopword_ratio"), "y",
      epochs = 3, lr = 0.5)
    Classify.score(feats, model)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Averaged-perceptron sound gate (#66a): the same two planted
    * synchronous epochs as perceptron_sound, but the published vector
    * is the epoch AVERAGE — the variance-reduction step the shipped
    * filter actually uses (late epochs oscillate around the separator;
    * the mean is the stable estimator). Every epoch weight is an exact
    * integer and the average is ONE division by the epoch count, so
    * DuckDB reproduces the averaged vector bit-for-bit. */
  def perceptronAvgSound(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Classify.fitPerceptron(perceptronPlanted(spark, dir),
      Seq("f1", "f2", "f3"), "y", epochs = 2)
    (m.features :+ "__bias").zip(m.averagedWeights.toSeq)
      .toDF("feature", "weight")
  }

  private val perceptronAvgSoundSql =
    """WITH v AS (SELECT
      |    CAST(doc_id % 5 - 2 AS DOUBLE) AS f1,
      |    CAST(doc_id % 7 - 3 AS DOUBLE) AS f2,
      |    CAST((doc_id // 7) % 3 - 1 AS DOUBLE) AS f3,
      |    CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END AS DOUBLE) AS y
      |  FROM documents),
      |e1 AS (SELECT SUM(y*f1) AS a, SUM(y*f2) AS b,
      |              SUM(y*f3) AS c, SUM(y) AS d FROM v),
      |e2 AS (SELECT
      |    (SELECT a FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f1 ELSE 0 END) AS a,
      |    (SELECT b FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f2 ELSE 0 END) AS b,
      |    (SELECT c FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f3 ELSE 0 END) AS c,
      |    (SELECT d FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y ELSE 0 END) AS d
      |  FROM v)
      |SELECT 'f1' AS feature,
      |  ((SELECT a FROM e1) + (SELECT a FROM e2)) / 2 AS weight
      |UNION ALL SELECT 'f2', ((SELECT b FROM e1) + (SELECT b FROM e2)) / 2
      |UNION ALL SELECT 'f3', ((SELECT c FROM e1) + (SELECT c FROM e2)) / 2
      |UNION ALL SELECT '__bias',
      |  ((SELECT d FROM e1) + (SELECT d FROM e2)) / 2""".stripMargin

  /** Calibrated-classifier sampling (#66b): the composition the
    * upgrade exists for — a keep-PROBABILITY from the classifier's
    * margin drives the quality-weighted sampler (sample_by_quality's
    * bucket draw, with the heuristic score replaced by the learned
    * calibrated one: the CCNet/GPT-3 filter shape, where the filter
    * emits p(keep) and sampling consumes it). The link is the
    * engine-exact rational sigmoid (p = 1/2 + m/(2(1+|m|))) so the
    * emitted probability ITSELF hash-matches; fixed integer weights
    * keep the margin chain exact (perceptron_score precedent — the
    * float FIT is gated separately by perceptron_avg_sound /
    * perceptron_filter). Pure per-row scan, zero shuffle. */
  def sampleByClassifier(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint the NARROW feature frame once (the
    // quality_filter_approx / perceptron_filter lesson): p_keep is
    // referenced by the filter, the projection, and any downstream
    // agg, and each reference would otherwise re-evaluate the
    // 3-regex chain per row (measured 53 s → ~1 scan at 100×).
    // Blocks are freed by the caller's Blocks.freeAll.
    val feats = Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"))
      .localCheckpoint()
    val model = Classify.PerceptronModel(
      Seq("alpha_ratio", "punct_ratio", "stopword_ratio"),
      Seq(Array(4.0, -3.0, 2.0, -1.0)))
    Classify.scoreCalibrated(feats, model)
      .where(Sampling.bucket65536(col("doc_id")) <
             floor(col("p_keep") * 65536).cast("long"))
      .select(col("doc_id"), col("p_keep"))
  }

  private val sampleByClassifierSql =
    """WITH f AS (SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS alpha_ratio,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
      |  CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |    / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS stopword_ratio
      |  FROM documents),
      |m AS (SELECT doc_id,
      |  ((alpha_ratio * 4.0 + punct_ratio * -3.0) + stopword_ratio * 2.0)
      |    + -1.0 AS margin FROM f),
      |p AS (SELECT doc_id,
      |  0.5 + margin / (2.0 * (1.0 + abs(margin))) AS p_keep,
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) AS bucket
      |  FROM m)
      |SELECT doc_id, p_keep FROM p
      |WHERE bucket < CAST(floor(p_keep * 65536) AS BIGINT)""".stripMargin


  // ------------------------------------------------------------ registry

  val queries: Seq[Query] = Seq(
    Query("text_token_count", textTokenCount, Oracle(textTokenCountSql)),
    Query("text_lang_id", textLangId, Oracle(textLangIdSql)),
    Query("text_quality", textQuality, Oracle(textQualitySql)),
    Query("gopher_quality", gopherQuality, Oracle(gopherQualitySql)),
    Query("blocklist_filter", blocklistFilter, Oracle(blocklistFilterSql)),
    Query("text_fingerprint", textFingerprint, Oracle(textFingerprintSql)),
    Query("split_train_test", splitTrainTest, Oracle(splitTrainTestSql)),
    Query("pii_redact", piiRedact, Oracle(piiRedactSql)),
    Query("pii_redact_luhn", piiRedactLuhn, Oracle(piiRedactLuhnSql)),
    Query("vocab_top_words", vocabTopWords, Oracle(vocabTopWordsSql)),
    Query("tfidf_top_term", tfidfTopTerm, Oracle(tfidfTopTermSql)),
    Query("text_repetition", textRepetition, Oracle(textRepetitionSql)),
    Query("doc_pack", docPack, Oracle(docPackSql)),
    Query("doc_chunks", docChunks, Oracle(docChunksSql)),
    Query("source_mixture", sourceMixture, Oracle(sourceMixtureSql)),
    Query("quality_filter", qualityFilter, Oracle(qualityFilterSql)),
    Query("bpe_top_pairs", bpeTopPairs, Oracle(bpeTopPairsSql)),
    Query("lang_confusion", langConfusion, Oracle(langConfusionSql)),
    Query("sample_by_quality", sampleByQuality, Oracle(sampleByQualitySql)),
    Query("sample_priority", samplePriority, Oracle(samplePrioritySql)),
    Query("dsir_fit", dsirFit, Oracle(dsirFitSql)),
    Query("dsir_sound", dsirSound, Oracle(dsirSoundSql)),
    Query("dsir_select", dsirSelect, GatedBy("dsir_fit", "dsir_sound")),
    Query("lm_novelty", lmNovelty, Oracle(lmNoveltySql)),
    Query("lm_perplexity", lmPerplexity, GatedBy("lm_novelty")),
    Query("wordpiece_tokenize", wordpieceTokenize, Oracle(wordpieceTokenizeSql)),
    Query("bpe_train_sound", bpeTrainSound, Oracle(bpeTrainSoundSql)),
    Query("vocab_coverage", vocabCoverage, Oracle(vocabCoverageSql)),
    Query("mixture_alpha", mixtureAlpha, Oracle(mixtureAlphaSql)),
    Query("stratified_split", stratifiedSplit, Oracle(stratifiedSplitSql)),
    Query("nfc_normalize_sound", nfcNormalizeSound, Oracle(nfcNormalizeSoundSql)),
    Query("bpe_encode_sound", bpeEncodeSound, Oracle(bpeEncodeSoundSql)),
    Query("bpe_encode", bpeEncode, GatedBy("bpe_encode_sound")),
    Query("mixture_token_budget", mixtureTokenBudget, Oracle(mixtureTokenBudgetSql)),
    Query("perceptron_sound", perceptronSound, Oracle(perceptronSoundSql)),
    Query("perceptron_avg_sound", perceptronAvgSound, Oracle(perceptronAvgSoundSql)),
    Query("perceptron_score", perceptronScore, Oracle(perceptronScoreSql)),
    Query("perceptron_filter", perceptronFilter, GatedBy("perceptron_sound", "perceptron_score")),
    Query("sample_by_classifier", sampleByClassifier, Oracle(sampleByClassifierSql)),
    Query("quality_filter_approx", qualityFilterApprox, Oracle(qualityFilterApproxSql)),
    Query("bpe_train", bpeTrain, GatedBy("bpe_train_sound")),
    Query("unigram_train_sound", unigramTrainSound, Oracle(unigramTrainSoundSql)),
    Query("unigram_train", unigramTrain, GatedBy("unigram_train_sound")),
    Query("sample_per_source", samplePerSource, Oracle(samplePerSourceSql)),
    Query("doc_length_histogram", docLengthHistogram, Oracle(docLengthHistogramSql)),
    Query("mixture_rebalance", mixtureRebalance, Oracle(mixtureRebalanceSql)),
    Query("rare_token_stats", rareTokenStats, Oracle(rareTokenStatsSql)),
    Query("heavy_hitters_sound", heavyHittersSound, Oracle(heavyHittersSoundSql)),
    Query("heavy_hitters", heavyHitters, GatedBy("heavy_hitters_sound")),
    Query("pmi_top_pairs", pmiTopPairs, Oracle(pmiTopPairsSql)),
    Query("mixture_drift", mixtureDrift, Oracle(mixtureDriftSql)),
    Query("doc_length_percentile", docLengthPercentile, Oracle(docLengthPercentileSql)),
    Query("strip_boilerplate", stripBoilerplate, Oracle(stripBoilerplateSql))
  )
}
