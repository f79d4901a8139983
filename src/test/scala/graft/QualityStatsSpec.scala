package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** The native TextQualityStats scan must reproduce the regex
  * formulation BIT-FOR-BIT — the driver oracle recomputes the
  * components with DuckDB regexes, so any drift is a hash mismatch.
  * Probed on the real corpus plus adversarial strings targeting every
  * boundary the byte-level scan handles specially. */
class QualityStatsSpec extends SparkSpec {
  import spark.implicits._

  // The regex formulation: the oracle-semantics statement the native
  // scan must match bit-for-bit.
  private def alphaRatioRegex(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  private def punctRatioRegex(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  private def stopwordRatioRegex(text: Column): Column =
    regexp_count(lower(text), lit(TextFunctions.LangPatterns.head._2)).cast("double") /
      greatest(TextFunctions.wsTokenCount(text), lit(1)).cast("double")

  private def qualityScoreRegex(text: Column): Column =
    alphaRatioRegex(text) * 0.5 + stopwordRatioRegex(text) * 0.3 +
      (lit(1.0) - punctRatioRegex(text)) * 0.2

  private def assertParity(df: org.apache.spark.sql.DataFrame): Unit = {
    val both = df.select(
      col("text"),
      TextFunctions.alphaRatio(col("text")).as("a_n"),
      alphaRatioRegex(col("text")).as("a_r"),
      TextFunctions.punctRatio(col("text")).as("p_n"),
      punctRatioRegex(col("text")).as("p_r"),
      TextFunctions.stopwordRatio(col("text")).as("s_n"),
      stopwordRatioRegex(col("text")).as("s_r"),
      TextFunctions.qualityScore(col("text")).as("q_n"),
      qualityScoreRegex(col("text")).as("q_r"))
    val bad = both.where(
      col("a_n") =!= col("a_r") || col("p_n") =!= col("p_r") ||
      col("s_n") =!= col("s_r") || col("q_n") =!= col("q_r"))
    val rows = bad.limit(5).collect()
    assert(rows.isEmpty, s"native/regex drift on: ${rows.mkString("; ")}")
  }

  test("native == regex on the whole sf0.001 documents corpus") {
    val docs = Tables.documents(spark, sfDir)
    assert(docs.count() > 0)
    assertParity(docs)
  }

  test("native == regex on adversarial strings") {
    val cases = Seq(
      "",                        // empty: denominators clamp to 1
      "   ",                     // whitespace-only: zero tokens
      "\t\n\r",      // every Java \s char incl. vertical tab
      "the of and to in",        // all five stopwords
      "tothe theof in2 _the the_ the2", // boundary traps: none match
      "the,of.and;to:in!",       // punctuation boundaries all match
      "THE Of AnD tO iN",        // lowering path
      "the of",             // NBSP: non-\s, non-\w -> boundary, 2 hits
      "café naïve",    // accented letters: punct per ASCII class
      "你好世界 the", // CJK: punct chars, word boundary
      "😀 the 😀", // supplementary plane (4-byte UTF-8)
      "a_b c_d the_",            // underscores are word chars
      "in",                      // exact single stopword
      "i n t h e",               // split letters: no stopwords
      "1234567890",              // digits only
      "!@#$%^&*()",              // punct only
      "the  the\tthe\nthe",      // repeated with varied separators
      "x" * 5000 + " the " + "y" * 5000) // long doc
    assertParity(cases.toDF("text"))
  }

  test("null text yields null struct and null components") {
    val df = Seq[(Integer, String)]((1, null), (2, "the end"))
      .toDF("id", "text")
      .select(col("id"), TextFunctions.qualityScore(col("text")).as("q"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).isNullAt(1))
    assert(!rows(1).isNullAt(1))
  }

  test("graft_quality_stats registers for SQL use") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_quality_stats('the cat sat.') AS s").select("s.quality")
      .collect().head.getDouble(0)
    val e = Seq("the cat sat.").toDF("text")
      .select(qualityScoreRegex(col("text"))).collect().head.getDouble(0)
    assert(r == e)
  }

  test("one projection of all four components contains a single scan (CSE)") {
    val docs = Tables.documents(spark, sfDir).select(
      TextFunctions.alphaRatio(col("text")).as("a"),
      TextFunctions.punctRatio(col("text")).as("p"),
      TextFunctions.stopwordRatio(col("text")).as("s"),
      TextFunctions.qualityScore(col("text")).as("q"))
    // Sanity that the plan stays codegen'd (the expression must not
    // fall back to interpreted projection).
    val plan = docs.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan) // '*' = inside WholeStageCodegen
    assert(docs.count() > 0)
  }
}
