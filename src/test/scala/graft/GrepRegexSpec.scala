package graft

import org.apache.spark.sql.functions._
import graft.sources.{GrepIndex, RegexGrams}

/** Regex grep over the trigram index (r17, row 39e): the
  * required-literal analysis must be superset-safe (candidates can
  * only over-include; regexp_like decides), unanalyzable patterns
  * must route through the exact scan PER PATTERN, and the combined
  * result must equal a full regexp_like scan exactly. */
class GrepRegexSpec extends SparkSpec {
  import spark.implicits._

  test("RegexGrams: branches, escapes, zero-width, quantifiers, bailouts") {
    import RegexGrams.requiredLiterals
    // alternation of pure literals concatenates through the group
    assert(requiredLiterals("merge (part|batch) window") ===
      Some(Seq(Seq("merge part window"), Seq("merge batch window"))))
    // classes/quantifiers break runs but keep surrounding literals
    assert(requiredLiterals("custom[a-z]+ line") ===
      Some(Seq(Seq("custom", " line"))))
    // no branch with a >=3-code-point run => unanalyzable
    assert(requiredLiterals("w[io]n?d[oe]w") === None)
    // starred group is optional: pure break, runs too short
    assert(requiredLiterals("a(b|c)*d") === None)
    // branch semantics are per-alternative, adjacency preserved
    assert(requiredLiterals("(foo|ba)r") ===
      Some(Seq(Seq("foor"), Seq("bar"))))
    // escaped punctuation is literal
    assert(requiredLiterals("foo\\.bar") === Some(Seq(Seq("foo.bar"))))
    // anchors and lookarounds are zero-width: adjacency preserved,
    // lookaround interiors dropped (superset-safe)
    assert(requiredLiterals("^merge part$") === Some(Seq(Seq("merge part"))))
    assert(requiredLiterals("merge(?= part)x") === Some(Seq(Seq("mergex"))))
    // + requires one copy; repetition is opaque
    assert(requiredLiterals("(abc)+def") === Some(Seq(Seq("abc", "def"))))
    // {m>=1} keeps the quantified UNIT once ('e'), then breaks
    assert(requiredLiterals("merge{2} part") ===
      Some(Seq(Seq("merge", " part"))))
    // backrefs / property classes / quoting blocks bail out
    assert(requiredLiterals("(a)\\1bcd") === None)
    assert(requiredLiterals("\\p{L}abc") === None)
    // unmodeled alphabetic escapes bail out rather than fabricating
    // a literal: "page\fbreak" must NOT require "pagefbreak" (r17
    // advice — the over-constrain direction is the forbidden one);
    // \f itself is modeled as the form-feed literal
    assert(requiredLiterals("page\\cMbreak") === None)
    assert(requiredLiterals("page\\Rbreak") === None)
    assert(requiredLiterals("page\\fbreak") ===
      Some(Seq(Seq("page\fbreak"))))
    assert(requiredLiterals("abc\\.def") === Some(Seq(Seq("abc.def"))))
    // nested classes ([a[b]c], intersection) skip as ONE class — the
    // tail must not leak into required literals (r17 advice)
    assert(requiredLiterals("[a[b]c]merge part") ===
      Some(Seq(Seq("merge part"))))
    assert(requiredLiterals("[a-z&&[aeiou]]merge part") ===
      Some(Seq(Seq("merge part"))))
    // an unpaired surrogate rejects loudly instead of silently
    // dropping the character after it from the run (r17 advice)
    assert(requiredLiterals("abc\uD83Ddef") === None)
    // alternation-branch blow-up past the cap bails out
    val wide = (1 to 8).map(_ => "(abc|def)").mkString
    assert(requiredLiterals(wide, maxBranches = 64) === None)
    // supplementary-plane literals count code points, not chars
    val astral = "😀😁😂"
    assert(requiredLiterals(astral) === Some(Seq(Seq(astral))))
  }

  test("probeRegex equals the regexp_like scan; per-pattern scan fallback; dead branches") {
    val root = java.nio.file.Files
      .createTempDirectory("grep-regex").toString + "/idx"
    val docs = (Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      unionAll Seq(
        (900001L, "päivää maailma custom line terve"),
        (900002L, "the window is wide open"))
        .toDF("doc_id", "text"))
    GrepIndex.build(spark, docs, "doc_id", "text", root, nFiles = 8)
    val pats = Seq(
      (0L, "merge (part|batch) window"), // index leg, alternation
      (1L, "custom[a-z]* line"), // index leg, class-broken runs
      (2L, "w[io]n?d[oe]w"), // unanalyzable -> exact scan leg
      (3L, "zz(qq|xx) never"), // analyzable, absent grams -> matchless
      (4L, "päivää m[a-z]+")) // multibyte literal run
    val want = docs.crossJoin(pats.toDF("pattern_id", "pattern"))
      .where(expr("regexp_like(text, pattern)"))
      .select(col("pattern_id"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(want.exists(_._1 == 1L) && want.exists(_._1 == 2L) &&
      want.exists(_._1 == 4L) && !want.exists(_._1 == 3L))
    // forced INDEX route for the analyzable patterns (the tiny-
    // vocabulary SF corpus is the degenerate regime the auto-route
    // correctly scans — the literal probe's spec discipline); the
    // unanalyzable pattern 2 rides the scan leg beside it: a split
    val (gotDf, ds) = Decision.capture(GrepIndex.probeRegex(spark, root,
      pats, scanFraction = Double.MaxValue))
    assert(gotDf.as[(Long, Long)].collect().toSet === want)
    assert(decision(ds, "grep.regex.analysis") ===
      Decision("grep.regex.analysis", "split", 4, 5))
    assert(decision(ds, "grep.route") === Decision("grep.route", "split", 4, 5))
    // auto route (scan here) and forced scan agree too
    val gotAuto = GrepIndex.probeRegex(spark, root, pats)
      .as[(Long, Long)].collect().toSet
    assert(gotAuto === want)
    // all-unanalyzable sweep: pure scan, still exact
    val (scanDf, scanDs) = Decision.capture(GrepIndex.probeRegex(spark,
      root, Seq((2L, "w[io]n?d[oe]w"))))
    assert(scanDf.as[(Long, Long)].collect().toSet === want.filter(_._1 == 2L))
    assert(decision(scanDs, "grep.route").route === "scan")
    // a lone-high-surrogate pattern compiles as a Java regex but is
    // rejected by the literal analysis (over-constrain risk, r17
    // advice) — it must route to the exact scan and match what the
    // scan matches
    val surr = Seq((6L, "window\uD83D?"))
    val wantSurr = docs.crossJoin(surr.toDF("pattern_id", "pattern"))
      .where(expr("regexp_like(text, pattern)"))
      .select(col("pattern_id"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(wantSurr.nonEmpty) // "the window is wide open" matches
    val (surrDf, surrDs) = Decision.capture(GrepIndex.probeRegex(spark,
      root, surr, scanFraction = Double.MaxValue))
    val gotSurr = surrDf.as[(Long, Long)].collect().toSet
    assert(decision(surrDs, "grep.regex.analysis") ===
      Decision("grep.regex.analysis", "scan", 0, 1))
    assert(gotSurr === wantSurr)
    // invalid regex rejected loudly, not silently empty
    intercept[java.util.regex.PatternSyntaxException] {
      GrepIndex.probeRegex(spark, root, Seq((9L, "(unclosed")))
    }
    // negative pattern ids rejected (branch keys pack id*128+ix)
    intercept[IllegalArgumentException] {
      GrepIndex.probeRegex(spark, root, Seq((-1L, "abc")))
    }
    graft.Blocks.freeAll(spark)
  }
}
