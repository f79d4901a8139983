package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String): Any =
    Seq(text).toDF("text").select(c.as("v")).first().get(0)

  test("token counts handle whitespace edge cases") {
    assert(one(TextFunctions.wsTokenCount(col("text")), "a  b\tc\nd") === 4)
    assert(one(TextFunctions.wsTokenCount(col("text")), "   ") === 0)
    assert(one(TextFunctions.wsTokenCount(col("text")), "") === 0)
    // BPE-ish: "don't stop-2" → don + ' + t + stop + - + 2
    assert(one(TextFunctions.bpeTokenCount(col("text")), "don't stop-2") === 6)
  }

  test("langId picks the dominant stopword language, zh on CJK") {
    assert(one(TextFunctions.langId(col("text")), "the cat of the house and dog") === "en")
    assert(one(TextFunctions.langId(col("text")), "der hund und die katze ist") === "de")
    assert(one(TextFunctions.langId(col("text")), "el perro la casa de que los") === "es")
    assert(one(TextFunctions.langId(col("text")), "le chien et les chats des") === "fr")
    assert(one(TextFunctions.langId(col("text")), "中文 text") === "zh")
  }

  test("quality score stays in [0,1] and ranks clean text above noise") {
    val clean = one(TextFunctions.qualityScore(col("text")),
      "the quick brown fox jumps over the lazy dog").asInstanceOf[Double]
    val noise = one(TextFunctions.qualityScore(col("text")),
      "@@@ ### !!! 123 %%% ^^^ &&&").asInstanceOf[Double]
    assert(clean > noise)
    assert(clean >= 0.0 && clean <= 1.0 && noise >= 0.0 && noise <= 1.0)
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    val a = one(TextFunctions.fingerprint(col("text")), "Hello   World")
    val b = one(TextFunctions.fingerprint(col("text")), "  hello world ")
    val c = one(TextFunctions.fingerprint(col("text")), "hello worlds")
    assert(a === b)
    assert(a !== c)
  }

  test("Wordpiece greedy longest-match, ## continuations, whole-word UNK") {
    import graft.operators.Wordpiece
    val vocab = Seq("the", "##re", "t", "h", "e", "r", "##h", "##e", "##r",
                    "a", "##a", "b", "##b")
    def toks(s: String): Seq[String] =
      Seq(s).toDF("text")
        .select(Wordpiece.tokenize(col("text"), vocab).as("t"))
        .as[Seq[String]].head()
    // longest match wins: "there" -> "the" + "##re", not t/h/e/r/e
    assert(toks("there") === Seq("the", "##re"))
    // continuation must use ## entries: "ab" -> a + ##b
    assert(toks("ab") === Seq("a", "##b"))
    // an unmatchable char anywhere fails the WHOLE word
    assert(toks("axb") === Seq("[UNK]"))
    assert(toks("ab axb the") === Seq("a", "##b", "[UNK]", "the"))
    // empty and whitespace-only inputs produce no tokens
    assert(toks("") === Seq.empty)
    assert(toks("   ") === Seq.empty)
  }

  test("native graft_wordpiece is identical to the HOF formulation") {
    import graft.operators.Wordpiece
    val vocab = Seq("the", "##re", "t", "h", "e", "r", "##h", "##e", "##r",
                    "a", "##a", "b", "##b")
    def both(s: String): (Seq[String], Seq[String]) = {
      val row = Seq(s).toDF("text")
        .select(Wordpiece.tokenize(col("text"), vocab).as("hof"),
                Wordpiece.tokenizeNative(col("text"), vocab).as("nat"))
        .as[(Seq[String], Seq[String])].head()
      row
    }
    for (s <- Seq("there", "ab", "axb", "ab axb the", "", "   ",
                  "There  THE\tab")) {
      val (hof, nat) = both(s)
      assert(hof === nat, s"input '$s'")
    }
    // and on real documents — every doc, full token sequences — under
    // this vocab and the production one of `wordpiece_tokenize`
    val docs = Tables.documents(spark, sfDir)
    for (v <- Seq(vocab, graft.queries.TextQueries.wpVocab)) {
      val mismatch = docs.select(
          Wordpiece.tokenize(col("text"), v).as("hof"),
          Wordpiece.tokenizeNative(col("text"), v).as("nat"))
        .where(col("hof") =!= col("nat")).count()
      assert(mismatch === 0)
    }
  }

  test("native graft_wordpiece equals the HOF past maxPieceLen and off ASCII") {
    import graft.operators.Wordpiece
    // the production vocab plus non-ASCII and supplementary-plane
    // pieces, a bare "##" and a "###" entry (whose continuation piece
    // is "#"). Both cap pieces at maxPieceLen code points: at cap 3,
    // "a\uD83D\uDE00b" (4 UTF-16 chars) is one piece, not "a\uD83D\uDE00" + "##b".
    val vocab = graft.queries.TextQueries.wpVocab ++ Seq("é", "##é", "ñandú",
      "##ü", "straße", "\uD83D\uDE00", "##\uD83D\uDE00", "a\uD83D\uDE00",
      "a\uD83D\uDE00b", "##", "###", "#", "中文", "##文")
    val words = Seq(
      // longer than maxPieceLen (8, and 3 below): the cursor must cut
      "internationalization", "abcdefghijklmnoprstuvwxyz0123456789",
      "theandingion", "qqqqqqqqqqqq", "inginginginging",
      // non-ASCII: BMP letters, pieces and [UNK]s
      "café", "ñandú", "ñandúes", "über", "straße", "中文", "中文文", "日本",
      "naïve", "\u00a0nbsp\u2003emsp",
      // supplementary plane: emoji pieces whole, inside words, and alone
      "\uD83D\uDE00", "a\uD83D\uDE00b", "x\uD83D\uDE00", "\uD83D\uDE00\uD83D\uDE00",
      "\uD835\uDC00bc", "#", "##", "###", "a##b", "a###")
    val row = words.mkString(" ")
    for (maxLen <- Seq(8, 3)) {
      val (hof, nat) = Seq(row).toDF("text")
        .select(Wordpiece.tokenize(col("text"), vocab, maxLen).as("hof"),
                Wordpiece.tokenizeNative(col("text"), vocab, maxLen).as("nat"))
        .as[(Seq[String], Seq[String])].head()
      assert(nat === hof, s"maxPieceLen $maxLen")
      // and word by word, so a mismatch names its word
      for (w <- words) {
        val (h, n) = Seq(w).toDF("text")
          .select(Wordpiece.tokenize(col("text"), vocab, maxLen).as("hof"),
                  Wordpiece.tokenizeNative(col("text"), vocab, maxLen).as("nat"))
          .as[(Seq[String], Seq[String])].head()
        assert(n === h, s"word '$w' at maxPieceLen $maxLen")
      }
    }
  }

  test("graft_collapse_ws equals the regexp_replace whitespace collapse") {
    import graft.functions.GraftFunctions
    def both(df: org.apache.spark.sql.DataFrame) = df.select(
      GraftFunctions.collapseWs(col("text")).as("nat"),
      regexp_replace(col("text"), "\\s+", " ").as("re"))
    val cases = Seq(
      // runs of every Java-regex \s byte, alone and mixed
      "a\tb", "a\nb", "a\u000Bb", "a\fb", "a\rb", "a  b", "a \t\n\u000B\f\r b",
      "\t\tlead", "trail\r\n", " x ", "a b c", "no_ws_at_all",
      // not \s: NBSP, U+2003, U+3000, U+0085 stay as they are
      "a\u00a0b", "a\u2003\u2003b", "a\u00a0 \u00a0b", "a\u3000b", "a\u0085b",
      // empty and all-whitespace
      "", " ", "  ", "\t", " \t\n\u000B\f\r ",
      // non-ASCII and surrogate pairs around runs
      "café\t\tnaïve", "中文  文本", "\uD83D\uDE00\n\n\uD83D\uDE00", "x \uD835\uDC00  y",
      "ä\u000B\u000Bö")
    val rows = both(cases.toDF("text")).as[(String, String)].collect()
    for (((nat, re), in) <- rows.zip(cases))
      assert(nat === re, s"input '${in.map(c => f"\\u${c.toInt}%04x").mkString}'")
    // null in, null out
    assert(Seq(Tuple1(null: String)).toDF("text")
      .select(GraftFunctions.collapseWs(col("text"))).head().isNullAt(0))
    // every sf0.01 document, raw and through normalize's lower(trim(…))
    val docs = Tables.documents(spark, sfDir10x)
    for (t <- Seq(col("text"), lower(trim(col("text"))))) {
      val mismatch = both(docs.select(t.as("text")))
        .where(not(col("nat") <=> col("re"))).count()
      assert(mismatch === 0)
    }
    assert(docs.select(TextFunctions.normalize(col("text")).as("n"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("r"))
      .where(not(col("n") <=> col("r"))).count() === 0)
  }

  test("graft_unicode_normalize: NFC composes, NFKC folds compatibility forms") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    def norm(s: String, form: String): String =
      Seq(Tuple1(s)).toDF("t")
        .select(GraftFunctions.unicodeNormalize(col("t"), form))
        .as[String].head()
    // decomposed e + combining acute composes to U+00E9
    assert(norm("café", "NFC") === "café")
    assert(norm("café", "NFD") === "café")
    // NFKC folds fullwidth ASCII and the fi ligature; NFC must NOT
    assert(norm("\uFF28\uFF49", "NFKC") === "Hi")
    assert(norm("\uFF28\uFF49", "NFC") === "\uFF28\uFF49")
    assert(norm("\uFB01le", "NFKC") === "file")
    // ASCII fast path is the identity
    assert(norm("plain ascii 123", "NFC") === "plain ascii 123")
    // nulls propagate; bad form fails readably
    val n = Seq(Tuple1(null: String)).toDF("t")
      .select(GraftFunctions.unicodeNormalize(col("t"), "NFC"))
      .collect().head
    assert(n.isNullAt(0))
    val bad = intercept[Exception](norm("x\u0301", "NFX"))
    assert(bad.getMessage.contains("NFX") ||
           bad.getCause != null && bad.getCause.getMessage.contains("NFX"))
  }
}
