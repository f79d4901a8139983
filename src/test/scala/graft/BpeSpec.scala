package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Wordpiece}

/** BPE training: the hand-derived Sennrich-example merge sequence,
  * dictionary correctness, and the train→wordpiece composition. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private val dict = Seq("low" -> 5L, "lower" -> 2L,
                         "newest" -> 6L, "widest" -> 3L)

  test("merge sequence matches the hand derivation, ties lex-broken") {
    val ms = Bpe.train(dict, 8)
    assert(ms.map(m => (m.merged, m.count)) === Seq(
      ("##es", 9L), ("##est", 9L), ("##ow", 7L), ("low", 7L),
      ("##ew", 6L), ("##ewest", 6L), ("newest", 6L), ("##dest", 3L)))
    // merge 1 is the (##e, ##s) vs (##s, ##t) tie at 9 — lex order
    assert(ms.head.left === "##e" && ms.head.right === "##s")
  }

  test("training stops cleanly when no pairs remain") {
    val ms = Bpe.train(Seq("ab" -> 1L), 100)
    assert(ms.map(_.merged) === Seq("ab"))
  }

  test("wordCounts builds the normalized dictionary with the cap") {
    val docs = Seq("The the  THE", "low low").toDF("text")
    val wc = Bpe.wordCounts(docs, "text")
      .as[(String, Long)].collect().toMap
    assert(wc === Map("the" -> 3L, "low" -> 2L))
    val capped = Bpe.wordCounts(docs, "text", maxWords = 1)
      .as[(String, Long)].collect().toSeq
    assert(capped === Seq("the" -> 3L))
  }

  test("learned pieces compose with wordpiece greedy tokenization") {
    // alphabet + the learned merges = a vocab; "lowest" (never seen
    // whole) should decompose into learned subwords, not characters
    val ms = Bpe.train(dict, 8)
    val alphabet = dict.flatMap(_._1.toCharArray).distinct.flatMap(c =>
      Seq(c.toString, "##" + c))
    val vocab = alphabet ++ ms.map(_.merged)
    val toks = Seq("lowest").toDF("text")
      .select(Wordpiece.tokenizeNative(col("text"), vocab).as("t"))
      .as[Seq[String]].head()
    assert(toks === Seq("low", "##est"))
  }

  private def enc(text: String, merges: Seq[String]): Seq[String] =
    Seq(Tuple1(text)).toDF("t")
      .select(graft.functions.GraftFunctions.bpeEncode(col("t"), merges).as("p"))
      .as[Seq[String]].head()

  test("bpe encode applies merges min-rank-first (hand check)") {
    val merges = Seq("t ##h", "th ##e", "i ##n", "##e ##r")
    assert(enc("the", merges) === Seq("the"))
    assert(enc("there", merges) === Seq("the", "##r", "##e"))
    assert(enc("her", merges) === Seq("h", "##er"))
    assert(enc("in the inn", merges) ===
      Seq("in", "the", "in", "##n"))
    // no merge applies: pure char split in ## space
    assert(enc("ab", Seq("x ##y")) === Seq("a", "##b"))
    assert(enc("", merges) === Seq.empty)
  }

  test("bpe encode merges a LOW-rank pair that only appears after a high-rank merge") {
    // rank0 creates '##er'; rank1 (lower priority but EARLIER-trained
    // pairs get LOWER rank — here the created pair has rank 1 > 0).
    // The interesting direction: pair (h, ##er) at rank 1 is only
    // adjacent AFTER rank 0 fires; min-rank-first still merges it.
    val merges = Seq("##e ##r", "h ##er")
    assert(enc("her", merges) === Seq("her"))
    // and the reverse order — the created pair has LOWER rank than its
    // creator — must also resolve (this is where a naive sequential
    // single pass per rank diverges from the standard apply)
    val rev = Seq("h ##er", "##e ##r")
    assert(enc("her", rev) === Seq("her"))
  }

  test("bpe encode left-to-right non-overlap for chained continuation pairs") {
    val merges = Seq("##a ##a")
    // [b,##a,##a,##a,##a,##a]: pairs (1,2),(3,4) merge; lone ##a stays
    assert(enc("baaaaa", merges) === Seq("b", "##aa", "##aa", "##a"))
  }

  test("trained merges + native encode reconstruct every word (closure)") {
    val docs = Tables.documents(spark, sfDir)
    val trained = Bpe.trainFrom(docs, "text", numMerges = 8)
    val merges = trained.map(m => s"${m.left} ${m.right}")
    val rows = docs.limit(50).select(
        graft.functions.TextFunctions.normalize(col("text")).as("norm"),
        graft.functions.GraftFunctions.bpeEncode(
          graft.functions.TextFunctions.normalize(col("text")), merges).as("p"))
      .as[(String, Seq[String])].collect()
    for ((norm, pieces) <- rows) {
      // stripping ## and rejoining piece runs must reconstruct the text
      val rebuilt = new StringBuilder
      for (p <- pieces) {
        if (p.startsWith("##")) rebuilt.append(p.substring(2))
        else { if (rebuilt.nonEmpty) rebuilt.append(' '); rebuilt.append(p) }
      }
      assert(rebuilt.toString === norm, s"reconstruction failed for '$norm'")
      // every multi-char piece is a trained merge product
      val vocab = trained.map(_.merged).toSet
      for (p <- pieces) {
        val bare = if (p.startsWith("##")) p.substring(2) else p
        assert(bare.length == 1 || vocab.contains(p) ||
               vocab.contains(bare), s"piece '$p' not from training")
      }
    }
  }

  test("native bpe encode equals the String/tuple reference on every sf0.01 doc") {
    import graft.functions.{GraftFunctions, TextFunctions}
    val docs = Tables.documents(spark, sfDir10x)
    val norm = TextFunctions.normalize(col("text"))
    // the 8 merges `bpe_encode` trains, and `bpe_encode_sound`'s table
    val trained = Bpe.trainFrom(docs, "text", numMerges = 8)
      .map(m => s"${m.left} ${m.right}")
    val planted = Seq("t ##h", "th ##e", "i ##n", "##e ##r")
    for (merges <- Seq(trained, planted)) {
      val rows = docs.select(norm.as("n"), GraftFunctions.bpeEncode(norm, merges).as("p"))
        .as[(String, Seq[String])].collect()
      assert(rows.length === docs.count())
      val bad = rows.filter { case (n, p) => p != BpeReference.encode(n, merges) }
      assert(bad.isEmpty, s"${bad.length} docs differ under $merges, first: " +
        bad.headOption.map(_._1.take(80)))
    }
  }

  test("native bpe encode equals the reference off ASCII and on duplicate ranks") {
    // non-ASCII symbols in merges, a duplicated pair (its later rank is
    // dead), chained continuation merges, a supplementary-plane char
    // (two UTF-16 symbols, each read back as "?") and a merge naming a
    // symbol that never occurs
    val merges = Seq("é ##s", "##ü ##b", "é ##s", "s ##t", "st ##r", "##a ##ß",
      "##ß ##e", "##e ##r", "##ü ##ber", "##b ##er", "中 ##文", "x ##\uD83D\uDE00",
      "##\u00e9 ##\u00e9", "##a ##a")
    val texts = Seq("éss über straße strasse", "中文 文中 中中文", "x\uD83D\uDE00 \uD83D\uDE00x",
      "éééé baaaaa ñandú", "a", "", " ", "überbüber ##b")
    for (t <- texts) {
      assert(enc(t, merges) === BpeReference.encode(t, merges), s"text '$t'")
      assert(enc(t, Seq("q ##q")) === BpeReference.encode(t, Seq("q ##q")), s"text '$t'")
    }
    // a duplicated pair keeps its first rank, which here beats the
    // competing (##b, ##c) merge
    val dup = Seq("a ##b", "##b ##c", "a ##b")
    assert(enc("abc", dup) === Seq("ab", "##c"))
    assert(BpeReference.encode("abc", dup) === Seq("ab", "##c"))
  }
}
