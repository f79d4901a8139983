package graft

import org.apache.spark.sql.functions._
import graft.operators.Corpus
import graft.queries.TextQueries

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  // 4-token segments over 8-token docs → 2 segments per doc, so every
  // planted repeat is exactly one segment and the expectations are
  // hand-computable.
  private val boiler = "all rights reserved legal"
  private def corpus = Seq(
    (1L, s"$boiler alpha bravo charlie delta"),
    (2L, s"$boiler echo foxtrot golf hotel"),
    (3L, s"$boiler india juliet kilo lima"),
    (4L, s"mike november oscar papa quebec romeo sierra tango"),
    (5L, s"$boiler $boiler") // both segments boilerplate → empty doc
  ).toDF("doc_id", "text")

  test("dedupLines drops corpus-frequent segments, keeps order, keeps empty docs") {
    val out = Corpus.dedupLines(corpus, "doc_id", "text",
        segTokens = 4, maxDocs = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // boilerplate segment is in 4 distinct docs (> maxDocs=2) → dropped
    // everywhere; unique tails survive verbatim and in order.
    assert(out === Array(
      (1L, "alpha bravo charlie delta", 1L, 1L),
      (2L, "echo foxtrot golf hotel", 1L, 1L),
      (3L, "india juliet kilo lima", 1L, 1L),
      (4L, "mike november oscar papa quebec romeo sierra tango", 2L, 0L),
      (5L, "", 0L, 2L)))
  }

  test("dedupLines counts distinct docs, not occurrences") {
    // a segment repeated 3× INSIDE one doc is not boilerplate
    val df = Seq(
      (1L, s"$boiler $boiler $boiler"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel")
    ).toDF("doc_id", "text")
    val out = Corpus.dedupLines(df, "doc_id", "text", 4, 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out(0) === ((1L, s"$boiler $boiler $boiler", 3L, 0L)))
    assert(out(1)._4 === 0L)
  }

  test("dedupLines is layout-independent and handles ragged tails") {
    val docs = Tables.documents(spark, sfDir)
    val a = Corpus.dedupLines(docs, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val b = Corpus.dedupLines(docs.repartition(7), "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(a === b)
    // segment accounting: kept+dropped == ceil(tokens/8) for every doc
    val expect = docs.select(col("doc_id"),
        expr("cast((size(split(regexp_replace(lower(trim(text)),'\\\\s+',' '),' ')) + 7) div 8 as long)"))
      .as[(Long, Long)].collect().toMap
    a.foreach { case (id, _, k, d) => assert(k + d === expect(id), s"doc $id") }
  }

  test("stripBoilerplate gates per source at a relative threshold") {
    // siteA: banner in 3/4 docs (≥ 1/2) → stripped from those docs;
    // siteB: the SAME banner in 1/3 docs (< 1/2) → kept there. An
    // absolute cap (dedupLines) cannot express this split: the
    // banner's corpus df is 4 either way.
    val docs = Seq(
      (1L, "siteA", s"$boiler alpha bravo charlie delta"),
      (2L, "siteA", s"$boiler echo foxtrot golf hotel"),
      (3L, "siteA", s"$boiler india juliet kilo lima"),
      (4L, "siteA", "mike november oscar papa"),
      (5L, "siteB", s"$boiler uniform victor whiskey xray"),
      (6L, "siteB", "yankee zulu one two"),
      (7L, "siteB", "three four five six")
    ).toDF("doc_id", "source", "text")
    val out = Corpus.stripBoilerplate(docs, "doc_id", "text", "source",
        segTokens = 4, num = 1, den = 2)
      .as[(Long, String, String, Long, Long)].collect().sortBy(_._1)
    assert(out === Array(
      (1L, "siteA", "alpha bravo charlie delta", 1L, 1L),
      (2L, "siteA", "echo foxtrot golf hotel", 1L, 1L),
      (3L, "siteA", "india juliet kilo lima", 1L, 1L),
      (4L, "siteA", "mike november oscar papa", 1L, 0L),
      (5L, "siteB", s"$boiler uniform victor whiskey xray", 2L, 0L),
      (6L, "siteB", "yankee zulu one two", 1L, 0L),
      (7L, "siteB", "three four five six", 1L, 0L)))
  }

  test("strip_boilerplate driver query recovers the original text exactly") {
    // the registered query plants a one-segment banner per source;
    // stripping it must reproduce the normalized original corpus
    val out = TextQueries.stripBoilerplate(spark, sfDir)
      .select(col("doc_id"), col("clean_text"))
    val orig = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.normalize(col("text")).as("t"))
    val joined = out.join(orig, "doc_id")
    assert(joined.count() > 0)
    assert(joined.where(col("clean_text") =!= col("t")).count() === 0)
  }

  test("decontaminate flags exactly the docs sharing an n-gram with eval") {
    val train = Seq(
      (10L, "one two three four five six seven eight nine"),   // contains eval gram
      (11L, "alpha bravo charlie delta echo foxtrot golf hotel"), // clean
      (12L, "zero one two three four five six seven eight")    // shares 2 grams
    ).toDF("doc_id", "text")
    val eval = Seq(
      (90L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val out = Corpus.decontaminate(train, eval, "doc_id", "text", n = 8)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    // doc 10: grams {one..eight, two..nine} → 1 hit; doc 12: grams
    // {zero..seven, one..eight} → 1 hit (eval has a single 8-gram)
    assert(out === Array(
      (10L, 1L, true), (11L, 0L, false), (12L, 1L, true)))
  }

  test("decontaminate short docs shingle to whole text; clean corpus all-false") {
    val train = Seq((1L, "tiny doc"), (2L, "another tiny")).toDF("doc_id", "text")
    val eval = Seq((9L, "tiny doc")).toDF("doc_id", "text")
    val out = Corpus.decontaminate(train, eval, "doc_id", "text", n = 8)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out === Array((1L, 1L, true), (2L, 0L, false)))
  }

  test("production xx variants equal the md5 forms on real corpus text") {
    // the digest only keys gram-equality; outputs carry no hash, so
    // the xx forms must match the md5 forms row-for-row (collisions
    // aside — none at this scale). This is the spec-level half of the
    // shared-oracle gate (decontaminate_xx/dedup_substring_xx reuse
    // their md5 twins' DuckDB SQL at the driver).
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val train = docs.where(col("doc_id") % 10 =!= 0)
    val ev = docs.where(col("doc_id") % 10 === 0)
    val md5De = Corpus.decontaminate(train, ev, "doc_id", "text", n = 8)
    val xxDe = Corpus.decontaminateXx(train, ev, "doc_id", "text", n = 8)
    assert(xxDe.exceptAll(md5De).isEmpty && md5De.exceptAll(xxDe).isEmpty)
    val md5Ex = Corpus.exciseDupSubstrings(docs, "doc_id", "text", k = 20)
    val xxEx = Corpus.exciseDupSubstringsXx(docs, "doc_id", "text", k = 20)
    assert(xxEx.exceptAll(md5Ex).isEmpty && md5Ex.exceptAll(xxEx).isEmpty)
    graft.Blocks.freeAll(spark)
  }

  test("exciseDupSubstrings cuts cross-doc passages, keeps within-doc repeats") {
    // k=10; the shared passage is 26 chars → every char of it in both
    // docs is covered by some shared 10-gram and must go; the unique
    // pre/post text must survive byte-for-byte
    val shared = "abcdefghijklmnopqrstuvwxyz"
    val docs = Seq(
      (1L, s"unique head one $shared unique tail one"),
      (2L, s"different head $shared different tail"),
      // within-doc repetition only — df by DISTINCT docs is 1 → kept
      (3L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),
      (4L, "short") // below k → untouched passthrough
    ).toDF("doc_id", "text")
    val out = Corpus.exciseDupSubstrings(docs, "doc_id", "text", k = 10)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val m = out.map(r => r._1 -> ((r._2, r._3))).toMap
    // the shared region is ' ' + passage + ' ' = 28 chars: the spaces
    // flanking the passage are identical context in both docs, so
    // grams anchored on them are corpus-duplicated too; grams
    // reaching one char further differ per doc and bound the cut
    assert(m(1L)._1 === "unique head oneunique tail one")
    assert(m(1L)._2 === 28L)
    assert(m(2L)._1 === "different headdifferent tail")
    assert(m(2L)._2 === 28L)
    assert(m(3L) === (("zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz", 0L)))
    assert(m(4L) === (("short", 0L)))
  }

  test("exciseDupSubstrings merges overlapping and adjacent dup runs") {
    // two docs identical end-to-end: every gram is dup → whole text
    // excised in both (one merged interval spanning the doc)
    val docs = Seq(
      (1L, "the entire document is duplicated verbatim"),
      (2L, "the entire document is duplicated verbatim"),
      (3L, "wholly original content that stays")
    ).toDF("doc_id", "text")
    val out = Corpus.exciseDupSubstrings(docs, "doc_id", "text", k = 10)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(out(0)._2 === "" && out(1)._2 === "")
    assert(out(0)._3 === 42L)
    assert(out(2)._2 === "wholly original content that stays")
  }

  test("exciseDupSubstrings collapse carries copy counts into the df sum") {
    // 100 copies of one text and nothing else: the gram df must come
    // from the copy WEIGHT (the collapsed group runs once) — every
    // copy excises fully even though there is only one distinct text
    val docs = (1L to 100L).map((_, "this exact document repeats one hundred times"))
      .toDF("doc_id", "text")
    val out = Corpus.exciseDupSubstrings(docs, "doc_id", "text", k = 10)
    assert(out.count() === 100)
    assert(out.where(col("clean_text") =!= "").count() === 0)
    // and a singleton text in the same corpus is untouched
    val mixed = docs.union(Seq((200L, "a one of a kind survivor document"))
      .toDF("doc_id", "text"))
    val out2 = Corpus.exciseDupSubstrings(mixed, "doc_id", "text", k = 10)
      .where(col("doc_id") === 200L).select("clean_text", "n_removed")
      .as[(String, Long)].collect()
    assert(out2 === Array(("a one of a kind survivor document", 0L)))
  }

  test("winnow matches a driver-side reference and honors the shared-substring guarantee") {
    val k = 8; val w = 4
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different sentence with the lazy dog tail here"),
      (3L, "short")).toDF("doc_id", "text")
    val got = Corpus.winnow(docs, "doc_id", "text", k, w)
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // driver-side reference implementation (60-bit md5 prefix = first
    // 15 lowercase-hex chars as base-16, the r13 digest contract)
    def md5p60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def ref(text: String): Set[Long] = {
      if (text.length < k + w - 1) Set.empty
      else {
        val hs = (0 to text.length - k).map(i => md5p60(text.substring(i, i + k)))
        (0 to hs.length - w).map(j => hs.slice(j, j + w).min).toSet
      }
    }
    assert(got.getOrElse(3L, Set.empty) === Set.empty[Long]) // too short
    assert(got(1L) === ref("the quick brown fox jumps over the lazy dog"))
    assert(got(2L) === ref("a completely different sentence with the lazy dog tail here"))
    // the winnowing guarantee: docs 1 and 2 share "the lazy dog" plus a
    // boundary char (>= k+w-1 = 11 shared chars) -> at least one common
    // selected fingerprint
    assert(got(1L).intersect(got(2L)).nonEmpty)
  }

  test("winnowXx matches a driver-side xxhash64 reference and keeps the " +
       "shared-substring guarantee") {
    val k = 8; val w = 4
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different sentence with the lazy dog tail here"),
      (3L, "short")).toDF("doc_id", "text")
    val got = Corpus.winnowXx(docs, "doc_id", "text", k, w)
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // driver-side reference: xxhash64(gram UTF-8 bytes, seed 42) — the
    // same primitive Spark's xxhash64 function uses
    def xx(s: String): Long = {
      val b = s.getBytes("UTF-8")
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    def ref(text: String): Set[Long] = {
      if (text.length < k + w - 1) Set.empty
      else {
        val hs = (0 to text.length - k).map(i => xx(text.substring(i, i + k)))
        (0 to hs.length - w).map(j => hs.slice(j, j + w).min).toSet
      }
    }
    assert(got.getOrElse(3L, Set.empty) === Set.empty[Long])
    assert(got(1L) === ref("the quick brown fox jumps over the lazy dog"))
    assert(got(2L) === ref("a completely different sentence with the lazy dog tail here"))
    assert(got(1L).intersect(got(2L)).nonEmpty)
    // multi-byte code points: the zero-copy boundary-offset walk must
    // slice the same UTF-8 byte ranges substring() would (grams are
    // CODE-POINT windows; é=2 bytes, 日=3, 🦊=4-byte surrogate pair...
    // which String.substring splits differently — use BMP chars only
    // so the driver-side reference's substring(i, i+k) stays aligned)
    val uni = "héllo wörld 日本語のテキスト abc"
    val gotU = Corpus.winnowXx(Seq((9L, uni)).toDF("doc_id", "text"),
        "doc_id", "text", k, w)
      .as[(Long, Long)].collect().map(_._2).toSet
    assert(gotU === ref(uni), "multi-byte gram slicing diverged")
  }

  test("winnowFromHashes: planted streams, boundary windows, null digest") {
    import graft.functions.GraftFunctions.winnowFromHashes
    // exactly one window; duplicates collapse; ties pick the value
    val rows = Seq(
      (1L, Seq(5L, 3L, 9L, 3L)),        // one window of 4 -> min 3
      (2L, Seq(7L, 7L, 7L, 7L, 7L)),    // two windows, same min -> {7}
      (3L, Seq(9L, 8L, 7L)),            // shorter than w -> empty
      (4L, Seq(4L, 1L, 6L, 2L, 8L)))    // mins: [4,1,6,2]=1, [1,6,2,8]=1 -> {1}
      .toDF("id", "hs")
      .select(col("id"), winnowFromHashes(col("hs"), 4).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(rows(1L) == Seq(3L))
    assert(rows(2L) == Seq(7L))
    assert(rows(3L) == Seq.empty)
    assert(rows(4L) == Seq(1L))
    // null digest: contract violation raises (not a silent drop)
    val e = intercept[Exception] {
      Seq((1L, Seq[java.lang.Long](1L, null, 3L, 4L))).toDF("id", "hs")
        .select(winnowFromHashes(col("hs"), 4)).collect()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs(e).contains("null digest"), s"got: ${msgs(e)}")
  }
}
