package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines.
  *
  * Everything here is composed from built-in codegen'd functions
  * (`regexp_count`, `lower`, `trim`, `md5`, …) and graft's native
  * codegen'd expressions — no UDFs — so the ops stay inside
  * WholeStageCodegen and run at scan speed at 100 TB. The native ones
  * are the quality-stats scan and, inside [[normalize]], the
  * whitespace collapse `graft_collapse_ws`
  * ([[graft.functions.expressions.CollapseWhitespace]]), which turns
  * each run of Java-regex `\s` bytes — exactly `[ \t\n\x0B\f\r]` —
  * into one space, as `regexp_replace(x, "\\s+", " ")` does.
  *
  * Each op has an exact DuckDB-SQL twin (same regex engine semantics
  * for the patterns used: literal alternations + \b/\s/char classes,
  * which RE2 and Java regex agree on). One known gap: RE2's `\s` omits
  * `\x0B` (vertical tab), so the oracles' `regexp_replace(…, '\s+',
  * ' ', 'g')` leaves a vertical tab where graft writes a space; the
  * oracles rely on the corpus holding no `\x0B`.
  */
object TextFunctions {

  /** Canonical form for dedup/fingerprint: lowercase, trim (spaces
    * only, Spark's `trim`), then collapse each `\s` run to one space
    * natively. `lower` stays Spark's, so Unicode case mapping is
    * unchanged. */
  def normalize(text: Column): Column =
    GraftFunctions.collapseWs(lower(trim(text)))

  /** Whitespace token count — counted as \S+ runs so leading/trailing
    * space and empty strings behave identically everywhere. */
  def wsTokenCount(text: Column): Column =
    regexp_count(text, lit("\\S+"))

  /** BPE-ish token count: letter runs, single digits, single
    * punctuation marks (GPT-2 pre-tokenizer shape). */
  val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePattern))

  /** Per-language stopword-hit scores. Patterns are literal
    * alternations with word boundaries — RE2/Java-regex-identical. */
  val LangPatterns: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|of|and|to|in)\\b",
    "de" -> "\\b(der|und|die|das|ist)\\b",
    "es" -> "\\b(el|la|de|que|los)\\b",
    "fr" -> "\\b(le|la|et|les|des)\\b")

  /** N-gram/stopword language ID. CJK presence short-circuits to zh;
    * otherwise argmax over stopword scores with a deterministic
    * en>de>es>fr tie bias. */
  def langId(text: Column): Column = {
    val t = lower(text)
    val s = LangPatterns.map { case (l, p) => l -> regexp_count(t, lit(p)) }.toMap
    when(regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]")) > 0, "zh")
      .when(s("en") >= s("de") && s("en") >= s("es") && s("en") >= s("fr"), "en")
      .when(s("de") >= s("es") && s("de") >= s("fr"), "de")
      .when(s("es") >= s("fr"), "es")
      .otherwise("fr")
  }

  /** Quality components + a weighted score in [0,1]-ish. All-double
    * arithmetic in a fixed order so engines agree bit-for-bit.
    *
    * The default forms are field accesses on the native
    * [[graft.functions.expressions.TextQualityStats]] struct — ONE
    * compiled byte scan instead of 3-4 regex passes (the regex CPU was
    * 4 of the 6 slowest 100× entries, 17-19 s each). Projecting
    * several components stays one scan: subexpression elimination
    * unifies the sibling struct evaluations. QualityStatsSpec keeps
    * the original regex formulation as the oracle-semantics statement
    * and asserts native == regex bit-for-bit. */
  def qualityStats(text: Column): Column = GraftFunctions.qualityStats(text)

  def alphaRatio(text: Column): Column = qualityStats(text).getField("alpha_ratio")
  def punctRatio(text: Column): Column = qualityStats(text).getField("punct_ratio")
  def stopwordRatio(text: Column): Column = qualityStats(text).getField("stopword_ratio")
  def qualityScore(text: Column): Column = qualityStats(text).getField("quality")

  /** Whole-document fingerprint: md5 of the normalized text. */
  def fingerprint(text: Column): Column = normalizedFingerprint(normalize(text))

  /** [[fingerprint]] of text that is already [[normalize]]d. */
  def normalizedFingerprint(norm: Column): Column = md5(norm.cast("binary"))
}
