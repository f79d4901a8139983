package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{call_function, lit}
import graft.functions.expressions.{DotProduct, MinHashSignature, NearestCentroid, SignBucket, SimHash64}

/** Registration of graft's native Catalyst expressions into a session's
  * function registry, so they're usable from both the Column API and
  * SQL. Idempotent per session. */
object GraftFunctions {

  val DotName = "graft_dot"
  val SimHashName = "graft_simhash"
  val MinHashName = "graft_minhash"
  val SignBucketName = "graft_signbucket"
  val NearestCentroidName = "graft_nearest_centroid"
  val BloomAggName = "graft_bloom_agg"
  val MightContainName = "graft_might_contain"
  val WordpieceName = "graft_wordpiece"
  val BpeEncodeName = "graft_bpe_encode"
  val UnicodeNormalizeName = "graft_unicode_normalize"
  val CollapseWsName = "graft_collapse_ws"
  val QualityStatsName = "graft_quality_stats"
  val TermCountsName = "graft_term_counts"
  val RepetitionStatsName = "graft_repetition_stats"
  val WinnowName = "graft_winnow"
  val WinnowXxName = "graft_winnow_xx"
  val WinnowFromHashesName = "graft_winnow_from_hashes"
  val DoubleBitsName = "graft_double_bits"
  val BitsDoubleName = "graft_bits_double"
  val CharGramHashesName = "graft_char_gram_hashes"
  val CharGramMd5Name = "graft_char_gram_md5"
  val WordGramHashesName = "graft_word_gram_hashes"
  val WordShingleHashesName = "graft_word_shingle_hashes"
  val TokenSegmentsName = "graft_token_segments"
  val MultiMatchName = "graft_multi_match"
  val SortedIntersectCountName = "graft_sorted_intersect_count"
  val OrderedPairsName = "graft_ordered_pairs"

  /** Arity gate for SQL-side calls: without it a wrong argument count
    * surfaces as IndexOutOfBoundsException from inside the registry
    * instead of a readable wrong-number-of-arguments error. */
  private def arity(name: String, signature: String, n: Int,
                    c: Seq[Expression]): Seq[Expression] = {
    if (c.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n arguments — $name($signature) — got ${c.length}")
    c
  }

  /** Every function as (name, expression class, arity-checked
    * builder): [[register]] and [[graft.plans.GraftExtensions]] both
    * install this one table. */
  private[graft] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (DotName, classOf[DotProduct],
      (c0: Seq[Expression]) => { val c = arity(DotName, "vecA, vecB", 2, c0)
        DotProduct(c(0), c(1)) }),
    (SimHashName, classOf[SimHash64],
      (c0: Seq[Expression]) => { val c = arity(SimHashName, "tokenHashes", 1, c0)
        SimHash64(c(0)) }),
    (MinHashName, classOf[MinHashSignature],
      (c0: Seq[Expression]) => { val c = arity(MinHashName, "h1, h2, k", 3, c0)
        MinHashSignature(c(0), c(1), evalK(c(2))) }),
    (SignBucketName, classOf[SignBucket],
      (c0: Seq[Expression]) => { val c = arity(SignBucketName, "vec, planes", 2, c0)
        SignBucket(c(0), c(1)) }),
    (NearestCentroidName, classOf[NearestCentroid],
      (c0: Seq[Expression]) => { val c = arity(NearestCentroidName,
          "vec, ids, centroids, mode, offset", 5, c0)
        NearestCentroid(c(0), c(1), c(2), c(3), c(4)) }),
    // Spark ships tested bloom expressions but registers them only for
    // its internal runtime-filter rewrite — surface them under graft
    // names so operators (Prune.bloomSemiJoin) and SQL users can build
    // explicit scan-pruning filters. might_contain's bloom argument
    // must be foldable or a scalar subquery (Catalyst rejects plain
    // attributes), hence the subquery shape in Prune.
    (BloomAggName, classOf[BloomFilterAggregate],
      (c0: Seq[Expression]) => { val c = arity(BloomAggName,
          "key, expectedItems, numBits", 3, c0)
        new BloomFilterAggregate(c(0), c(1), c(2)) }),
    (MightContainName, classOf[BloomFilterMightContain],
      (c0: Seq[Expression]) => { val c = arity(MightContainName,
          "bloom, key", 2, c0)
        BloomFilterMightContain(c(0), c(1)) }),
    (WordpieceName, classOf[graft.functions.expressions.WordpieceTokens],
      (c0: Seq[Expression]) => { val c = arity(WordpieceName,
          "text, vocab, maxPieceLen", 3, c0)
        graft.functions.expressions.WordpieceTokens(c(0), c(1), c(2)) }),
    (BpeEncodeName, classOf[graft.functions.expressions.BpeEncodeTokens],
      (c0: Seq[Expression]) => { val c = arity(BpeEncodeName,
          "text, merges", 2, c0)
        graft.functions.expressions.BpeEncodeTokens(c(0), c(1)) }),
    (UnicodeNormalizeName, classOf[graft.functions.expressions.UnicodeNormalize],
      (c0: Seq[Expression]) => { val c = arity(UnicodeNormalizeName,
          "text, form", 2, c0)
        graft.functions.expressions.UnicodeNormalize(c(0), c(1)) }),
    (CollapseWsName, classOf[graft.functions.expressions.CollapseWhitespace],
      (c0: Seq[Expression]) => { val c = arity(CollapseWsName, "text", 1, c0)
        graft.functions.expressions.CollapseWhitespace(c(0)) }),
    (QualityStatsName, classOf[graft.functions.expressions.TextQualityStats],
      (c0: Seq[Expression]) => { val c = arity(QualityStatsName,
          "text", 1, c0)
        graft.functions.expressions.TextQualityStats(c(0)) }),
    (TermCountsName, classOf[graft.functions.expressions.TermCounts],
      (c0: Seq[Expression]) => { val c = arity(TermCountsName,
          "tokens", 1, c0)
        graft.functions.expressions.TermCounts(c(0)) }),
    (RepetitionStatsName, classOf[graft.functions.expressions.RepetitionStats],
      (c0: Seq[Expression]) => { val c = arity(RepetitionStatsName,
          "tokens", 1, c0)
        graft.functions.expressions.RepetitionStats(c(0)) }),
    (WinnowName, classOf[graft.functions.expressions.WinnowFingerprints],
      (c0: Seq[Expression]) => { val c = arity(WinnowName,
          "text, k, w", 3, c0)
        graft.functions.expressions.WinnowFingerprints(
          c(0), evalIntConst(WinnowName, "k", c(1)),
          evalIntConst(WinnowName, "w", c(2))) }),
    (WinnowXxName, classOf[graft.functions.expressions.WinnowXxFingerprints],
      (c0: Seq[Expression]) => { val c = arity(WinnowXxName,
          "text, k, w", 3, c0)
        graft.functions.expressions.WinnowXxFingerprints(
          c(0), evalIntConst(WinnowXxName, "k", c(1)),
          evalIntConst(WinnowXxName, "w", c(2))) }),
    (WinnowFromHashesName,
      classOf[graft.functions.expressions.WinnowFromHashes],
      (c0: Seq[Expression]) => { val c = arity(WinnowFromHashesName,
          "hashes, w", 2, c0)
        graft.functions.expressions.WinnowFromHashes(
          c(0), evalIntConst(WinnowFromHashesName, "w", c(1))) }),
    (DoubleBitsName, classOf[graft.functions.expressions.DoubleBits],
      (c0: Seq[Expression]) => { val c = arity(DoubleBitsName, "x", 1, c0)
        graft.functions.expressions.DoubleBits(c(0)) }),
    (BitsDoubleName, classOf[graft.functions.expressions.LongBitsDouble],
      (c0: Seq[Expression]) => { val c = arity(BitsDoubleName, "bits", 1, c0)
        graft.functions.expressions.LongBitsDouble(c(0)) }),
    (CharGramHashesName, classOf[graft.functions.expressions.CharGramHashes],
      (c0: Seq[Expression]) => { val c = arity(CharGramHashesName,
          "text, k", 2, c0)
        graft.functions.expressions.CharGramHashes(
          c(0), evalIntConst(CharGramHashesName, "k", c(1))) }),
    (CharGramMd5Name, classOf[graft.functions.expressions.CharGramMd5],
      (c0: Seq[Expression]) => { val c = arity(CharGramMd5Name,
          "text, k", 2, c0)
        graft.functions.expressions.CharGramMd5(
          c(0), evalIntConst(CharGramMd5Name, "k", c(1))) }),
    (WordGramHashesName, classOf[graft.functions.expressions.WordGramHashes],
      (c0: Seq[Expression]) => { val c = arity(WordGramHashesName,
          "text, n", 2, c0)
        graft.functions.expressions.WordGramHashes(
          c(0), evalIntConst(WordGramHashesName, "n", c(1))) }),
    (WordShingleHashesName, classOf[graft.functions.expressions.WordShingleHashes],
      (c0: Seq[Expression]) => { val c = arity(WordShingleHashesName,
          "text, n, family", 3, c0)
        graft.functions.expressions.WordShingleHashes(
          c(0), evalIntConst(WordShingleHashesName, "n", c(1)),
          evalIntConst(WordShingleHashesName, "family", c(2))) }),
    (TokenSegmentsName, classOf[graft.functions.expressions.TokenSegments],
      (c0: Seq[Expression]) => { val c = arity(TokenSegmentsName,
          "text, segTokens", 2, c0)
        graft.functions.expressions.TokenSegments(
          c(0), evalIntConst(TokenSegmentsName, "segTokens", c(1))) }),
    (MultiMatchName, classOf[graft.functions.expressions.MultiPatternHits],
      (c0: Seq[Expression]) => { val c = arity(MultiMatchName,
          "text, patterns", 2, c0)
        graft.functions.expressions.MultiPatternHits(c(0), c(1)) }),
    (SortedIntersectCountName,
      classOf[graft.functions.expressions.SortedIntersectCount],
      (c0: Seq[Expression]) => { val c = arity(SortedIntersectCountName,
          "sortedA, sortedB", 2, c0)
        graft.functions.expressions.SortedIntersectCount(c(0), c(1)) }),
    (OrderedPairsName, classOf[graft.functions.expressions.OrderedPairs],
      (c0: Seq[Expression]) => { val c = arity(OrderedPairsName,
          "xs", 1, c0)
        graft.functions.expressions.OrderedPairs(c(0)) }))

  /** The k argument must be a foldable int — accept INT/BIGINT
    * literals and constant expressions, reject the rest with a clear
    * message (a blind Literal cast threw ClassCastException on
    * `graft_minhash(a, b, 16L)`). */
  private[graft] def evalK(e: Expression): Int =
    evalIntConst(MinHashName, "k", e)

  private[graft] def evalIntConst(fn: String, arg: String, e: Expression): Int = {
    require(e.foldable, s"$fn: $arg must be a constant, got $e")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other =>
        throw new IllegalArgumentException(
          s"$fn: $arg must be an integer constant, got $other")
    }
  }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) {
        registry.registerFunction(id, new ExpressionInfo(cls.getName, name), builder)
      }
    }
  }

  /** 64-bit SimHash of an array<bigint> of token hashes (codegen'd). */
  def simhash(tokenHashes: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(SimHashName, tokenHashes)
  }

  /** k-permutation MinHash signature from two hash arrays (codegen'd). */
  def minhashSignature(h1: Column, h2: Column, k: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(MinHashName, h1, h2, lit(k))
  }

  /** Codegen'd sign-LSH bucket: bit i set iff vec · planes(i) > 0. */
  def signBucket(vec: Column, planes: Seq[Seq[Double]]): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(SignBucketName, vec, org.apache.spark.sql.functions.typedLit(planes))
  }

  /** Fused nearest-centroid argmax against a constant centroid matrix:
    * `struct<cell int, score double>` in one codegen'd loop —
    * generated-code size stays O(1) in k where the composed
    * greatest-of-k-structs form falls out of JIT past k≈16 (see
    * [[graft.functions.expressions.NearestCentroid]]). Modes:
    * `cosine` | `dot_norm` | `dot_bias`; `offset` scores against the
    * in-place subspace `vec[offset, offset+dim)`. */
  def nearestCentroid(vec: Column, centroids: Seq[(Int, Array[Float])],
                      mode: String, offset: Int = 0): Column = {
    SparkSession.getActiveSession.foreach(register)
    val sorted = centroids.sortBy(_._1)
    call_function(NearestCentroidName, vec,
      org.apache.spark.sql.functions.typedLit(sorted.map(_._1)),
      org.apache.spark.sql.functions.typedLit(sorted.map(_._2.toSeq)),
      lit(mode), lit(offset))
  }

  /** Codegen'd dot product. Registers on the active session if needed
    * (Column construction happens on the driver, so the active session
    * is always the right one). */
  def dot(a: Column, b: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(DotName, a, b)
  }

  /** Native WordPiece MaxMatch over pre-normalized text (see
    * [[graft.functions.expressions.WordpieceTokens]]). */
  def wordpiece(text: Column, vocab: Seq[String],
                maxPieceLen: Int = 8): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(WordpieceName, text,
      org.apache.spark.sql.functions.typedLit(vocab), lit(maxPieceLen))
  }

  /** Native BPE apply over pre-normalized text; `merges` are
    * "left right" pairs in rank order (see
    * [[graft.functions.expressions.BpeEncodeTokens]]). */
  def bpeEncode(text: Column, merges: Seq[String]): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(BpeEncodeName, text,
      org.apache.spark.sql.functions.typedLit(merges))
  }

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) — see
    * [[graft.functions.expressions.UnicodeNormalize]]. */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(UnicodeNormalizeName, text, lit(form))
  }

  /** Each run of Java-regex `\s` bytes becomes one space, in one byte
    * pass — see [[graft.functions.expressions.CollapseWhitespace]]. */
  def collapseWs(text: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(CollapseWsName, text)
  }

  /** All four quality components in one codegen'd scan — see
    * [[graft.functions.expressions.TextQualityStats]]. */
  def qualityStats(text: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(QualityStatsName, text)
  }

  /** Per-row term frequencies over a token array, zero-shuffle — see
    * [[graft.functions.expressions.TermCounts]]. */
  def termCounts(tokens: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(TermCountsName, tokens)
  }

  /** Duplicated 2-/3-gram fractions in one codegen'd scan — see
    * [[graft.functions.expressions.RepetitionStats]]. */
  def repetitionStats(tokens: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(RepetitionStatsName, tokens)
  }

  /** Winnowing fingerprints (distinct k-gram-md5 window minima) in one
    * codegen'd scan — see
    * [[graft.functions.expressions.WinnowFingerprints]]. */
  def winnow(text: Column, k: Int, w: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(WinnowName, text, lit(k), lit(w))
  }

  /** Winnowing fingerprints with the PRODUCTION xxhash64 digest — see
    * [[graft.functions.expressions.WinnowXxFingerprints]] for the
    * md5-vs-xx split (md5 = oracle-recomputable gate, xx = the cheap
    * digest the md5 wall at 1000× motivates). */
  def winnowXx(text: Column, k: Int, w: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(WinnowXxName, text, lit(k), lit(w))
  }

  /** Winnow a caller-provided digest stream (planted-parameter sound
    * twin) — see [[graft.functions.expressions.WinnowFromHashes]]. */
  def winnowFromHashes(hashes: Column, w: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(WinnowFromHashesName, hashes, lit(w))
  }

  /** Every k-code-point gram's xxhash64 (seed 42), zero-copy — the
    * production digest stream for dup-substring excision; see
    * [[graft.functions.expressions.CharGramHashes]]. */
  def charGramHashes(text: Column, k: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(CharGramHashesName, text, lit(k))
  }

  /** Every k-code-point gram's lowercase-hex MD5, one boundary pass —
    * the md5 EVALUATION twin of [[charGramHashes]], value-identical
    * to `transform(sequence(1, length(s)-k+1), i -> md5(substring(s,
    * i, k)))` for `length(s) >= k`; see
    * [[graft.functions.expressions.CharGramMd5]]. */
  def charGramMd5(text: Column, k: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(CharGramMd5Name, text, lit(k))
  }

  /** Every word n-gram's xxhash64 (seed 42), zero-copy via the
    * contiguous-byte-range identity — the production key stream for
    * decontamination joins; see
    * [[graft.functions.expressions.WordGramHashes]]. */
  def wordGramHashes(text: Column, n: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(WordGramHashesName, text, lit(n))
  }

  /** MinHash word-shingle hashes (family 0: token xxhash64; family 1:
    * its `xxhash64(1, token)` twin), one native pass per row — see
    * [[graft.functions.expressions.WordShingleHashes]]. */
  def wordShingleHashes(text: Column, n: Int, family: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(WordShingleHashesName, text, lit(n), lit(family))
  }

  /** Non-overlapping segTokens-token segment grid, one boundary pass —
    * value-identical to the dedupLines HOF grid; see
    * [[graft.functions.expressions.TokenSegments]]. */
  def tokenSegments(text: Column, segTokens: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(TokenSegmentsName, text, lit(segTokens))
  }

  /** All-lexicon substring occurrence counts in one Aho-Corasick text
    * pass (O(n + matches) for ANY pattern count) — see
    * [[graft.functions.expressions.MultiPatternHits]]. */
  def multiMatch(text: Column, patterns: Seq[String]): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(MultiMatchName, text, lit(patterns.toArray))
  }

  /** Distinct-intersection cardinality of two SORTED string arrays —
    * value-identical to `size(array_intersect(a, b))` for sorted
    * inputs, zero allocation per row; see
    * [[graft.functions.expressions.SortedIntersectCount]]. */
  def sortedIntersectCount(sortedA: Column, sortedB: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(SortedIntersectCountName, sortedA, sortedB)
  }

  /** Every ordered index pair (i < j) of an array as
    * `array<struct<pa, pb>>`, one flat loop — value-identical to the
    * nested transform/slice HOF expansion; see
    * [[graft.functions.expressions.OrderedPairs]]. */
  def orderedPairs(xs: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(OrderedPairsName, xs)
  }

  /** Let-binding for Column trees: evaluates `c` ONCE per row and
    * hands the result to `body` as a bound lambda VARIABLE.
    *
    * Why it exists: interpreted (non-codegen) expression evaluation
    * re-evaluates a subtree at every REFERENCE — subexpression
    * elimination is a codegen-only optimization, and nested
    * higher-order functions are CodegenFallback, so any HOF pipeline
    * that references its input k times costs k full child evaluations
    * per element. Measured r13: the streaming minhash signature's
    * shingle loop re-evaluated split+normalize(text) at every
    * element_at/size reference — ~7 references × ~50 shingles × a
    * regex normalize per document; the 62.5k-doc streaming micro-batch
    * of STREAMBENCH.md ran 20+ minutes. A HOF's INPUT child, by
    * contrast, is evaluated exactly once per row — so wrapping the
    * shared tree in a 1-element array transform is a zero-cost let.
    *
    * Use only on trees that are already interpretation-bound (inside
    * HOF pipelines): ArrayTransform is CodegenFallback, so wrapping a
    * codegen-able scalar tree would FORCE it interpreted. */
  def once(c: Column)(body: Column => Column): Column =
    org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.array(c), body), 1)

  /** Raw IEEE-754 bits of a double as bigint (order-preserving for
    * positive finite values) — see
    * [[graft.functions.expressions.DoubleBits]]. */
  def doubleBits(x: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(DoubleBitsName, x)
  }

  /** Inverse of [[doubleBits]]: bigint bit pattern back to double. */
  def bitsDouble(bits: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(BitsDoubleName, bits)
  }

  /** Cosine similarity on top of the native dot product. NULL for
    * zero-norm vectors — under ANSI mode (Spark 4 default) a plain
    * division would kill the whole job with DIVIDE_BY_ZERO on the
    * first degenerate vector. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{nullif, lit, sqrt}
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    dot(a, b) / nullif(denom, lit(0.0))
  }
}
