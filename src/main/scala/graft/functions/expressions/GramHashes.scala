package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Shared zero-copy gram plumbing — the r15 winnow lesson
  * (SCALE1000_r15_winnow.json: the 15.7× task-time win was NOT the
  * digest swap but killing the per-gram `UTF8String.substring`, which
  * re-walks code points from the string head and allocates — O(len²)
  * per document) packaged for every remaining gram site:
  *
  *  - [[CharGramHashes]] — every k-CODE-POINT gram's xxhash64, the
  *    production digest for `Corpus.exciseDupSubstrings`' dup-gram
  *    table (replaces `transform(sequence(...), i ->
  *    md5(substring(__t, i, k)))`, the exact expression the winnow A/B
  *    measured as the wall).
  *  - [[WordGramHashes]] — every word n-gram's xxhash64, the
  *    production key for `Corpus.decontaminate`'s overlap join
  *    (replaces exploded `Dedup.shingles` STRINGS built by interpreted
  *    slice+concat_ws lambdas).
  *  - [[WordShingleHashes]] — the two MinHash word-shingle hash
  *    families of `Dedup.minhashPairs`' member table and
  *    `DocsStream.nearDupPairs` (replaces `transform(toks, xxhash64)`
  *    followed by an interpreted rotl/XOR window HOF): each token
  *    hashed once in place, each window mixed in one loop.
  *  - [[TokenSegments]] — the non-overlapping `segTokens`-token
  *    segment grid of `Corpus.dedupLines`/`stripBoilerplate`,
  *    VALUE-IDENTICAL to the HOF form (segments stay strings — they
  *    are reassembled into clean_text) but built in one boundary pass.
  *
  * The word-grain forms lean on a structural fact of the normalized
  * text (single-space-separated; `split(s, " ")` semantics): a run of
  * consecutive tokens JOINED BY ONE SPACE is exactly the CONTIGUOUS
  * byte range of the input from the first token's start to the last
  * token's end — `concat_ws(" ", slice(split(s, " "), i+1, n))` never
  * needed to allocate anything. A space is one byte in UTF-8 and never
  * part of a multi-byte sequence, so the token scan is a plain byte
  * scan regardless of code-point content. Empty tokens (a leading
  * space survives `trim`+collapse when the raw text led with a tab)
  * fall out of the same arithmetic — byte-range identity holds for
  * them too, pinned in ExpressionSpec against the HOF forms.
  *
  * xxhash64 digests use seed 42 — Spark's own `xxhash64(...)` constant
  * — so every hash here is reproducible in-engine as
  * `xxhash64(gram_string)` (a WordShingleHashes family-1 token hash as
  * `xxhash64(1, token)`): that is what lets ExpressionSpec gate
  * these value-identical against composed built-ins, and what keeps
  * the md5 oracle twins meaningful (same grams, different digest).
  */
object Grams {

  /** The row as the UTF-16 chars `u.toString` decodes it to: an
    * all-ASCII row widens byte by byte, any other goes through
    * `toString` (so malformed input decodes exactly as it does there). */
  def utf16(u: UTF8String): Array[Char] = {
    val base = u.getBaseObject
    val start = u.getBaseOffset
    val n = u.numBytes()
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, start + i)
      if (b < 0) return u.toString.toCharArray
      cs(i) = b.toChar
      i += 1
    }
    cs
  }

  /** Byte offset of each code-point boundary: offs(c) = byte offset of
    * code point c, offs(numChars) = numBytes. The same
    * numBytesForFirstByte walk `numChars`/`substring` use, so gram
    * byte ranges are identical to `substring(text, i, k)`'s by
    * construction. */
  def charBoundaryOffsets(u: UTF8String, nChars: Int): Array[Int] = {
    val base = u.getBaseObject
    val start = u.getBaseOffset
    val nBytes = u.numBytes()
    val offs = new Array[Int](nChars + 1)
    var b = 0
    var c = 0
    while (b < nBytes && c < nChars) {
      offs(c) = b
      b += UTF8String.numBytesForFirstByte(Platform.getByte(base, start + b))
      c += 1
    }
    offs(c) = nBytes
    offs
  }

  /** Byte offsets of single-space token boundaries, `split(s, " ")`
    * semantics: m tokens (m = #spaces + 1, empty tokens included),
    * token t spans bytes [starts(t), starts(t+1) - 1) — each entry is
    * one past the preceding space, with starts(m) = numBytes + 1 so
    * the "- 1" uniformly strips the separator (a virtual trailing
    * space after the last token). */
  def tokenStartOffsets(u: UTF8String): Array[Int] = {
    val base = u.getBaseObject
    val start = u.getBaseOffset
    val nBytes = u.numBytes()
    var spaces = 0
    var b = 0
    while (b < nBytes) {
      if (Platform.getByte(base, start + b) == 0x20) spaces += 1
      b += 1
    }
    val starts = new Array[Int](spaces + 2)
    starts(0) = 0
    var t = 1
    b = 0
    while (b < nBytes) {
      if (Platform.getByte(base, start + b) == 0x20) { starts(t) = b + 1; t += 1 }
      b += 1
    }
    starts(t) = nBytes + 1
    starts
  }
}

/** xxhash64 (seed 42) of every k-code-point gram of `child`, as
  * `array<bigint>` — positionally aligned with the md5 form
  * `transform(sequence(1, length(s) - k + 1), i -> md5(substring(s, i,
  * k)))` it replaces (gram i hashes the same bytes; only the digest
  * differs, and a dup-gram key is a CANDIDATE key where any consistent
  * hash serves). Fewer than one gram (numChars < k) ⇒ empty array. */
case class CharGramHashes(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 2, s"gram too short to mean anything: k=$k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_char_gram_hashes expects a string column, got ${child.dataType.simpleString}")
  }

  override protected def withNewChildInternal(newChild: Expression): CharGramHashes =
    copy(child = newChild)

  /** Public so generated code can call it. */
  def doHash(u: UTF8String): ArrayData = {
    val nChars = u.numChars()
    val grams = nChars - k + 1
    if (grams < 1) return new GenericArrayData(Array.empty[Long])
    val base = u.getBaseObject
    val start = u.getBaseOffset
    val offs = Grams.charBoundaryOffsets(u, nChars)
    val hs = new Array[Long](grams)
    var i = 0
    while (i < grams) {
      hs(i) = XXH64.hashUnsafeBytes(
        base, start + offs(i), offs(i + k) - offs(i), 42L)
      i += 1
    }
    new GenericArrayData(hs)
  }

  override def nullSafeEval(input: Any): Any =
    doHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cgh", this, classOf[CharGramHashes].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = ${childGen.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = $self.doHash(${childGen.value});
         |}
       """
    ev.copy(code = code)
  }
}

/** Lowercase-hex MD5 of every k-code-point gram of `child`, as
  * `array<string>` — VALUE-IDENTICAL to the interpreted HOF
  * `transform(sequence(1, length(s) - k + 1), i -> md5(substring(s, i,
  * k)))` wherever `length(s) >= k` (pinned in ExpressionSpec), built
  * the [[CharGramHashes]] way: ONE boundary pass instead of one
  * `UTF8String.substring` re-walk per position (the O(len²)
  * winnow/r15 wall), one reused MessageDigest instead of a
  * DigestUtils allocation per gram, and zero lambda interpretation.
  * This keeps `Corpus.exciseDupSubstrings`' md5 EVALUATION form —
  * the DuckDB twin computes the same md5(substr(...)) keys — while
  * removing the expression-interpretation tax the r19 probe measured
  * at ~9 task-cpu-s per walk at sf0.1 (the native walk: ~3.4).
  * Fewer than one gram (numChars < k) ⇒ empty array. */
case class CharGramMd5(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 2, s"gram too short to mean anything: k=$k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_char_gram_md5 expects a string column, got ${child.dataType.simpleString}")
  }

  override protected def withNewChildInternal(newChild: Expression): CharGramMd5 =
    copy(child = newChild)

  private val hexDigits = "0123456789abcdef".getBytes

  /** Public so generated code can call it. */
  def doHash(u: UTF8String): ArrayData = {
    val nChars = u.numChars()
    val grams = nChars - k + 1
    if (grams < 1) return new GenericArrayData(Array.empty[AnyRef])
    // one private byte copy per ROW (not per gram): MessageDigest
    // needs a heap array, and getBytes returns the string's own array
    // when it is already exactly heap-backed.
    // Why MessageDigest and not a hand-rolled compress: HotSpot
    // intrinsifies MD5.implCompress (JDK 16+), so the JCA digest runs
    // hand-optimized assembly even before JIT warmup — the r19 batch-3
    // hand-rolled RFC 1321 port measured 2.2× WORSE warm (33.7 vs 15.3
    // task-cpu-s on dedup_substring) and ~8× worse cold, and was
    // reverted. The digest into a caller buffer (digest(buf, 0, 16))
    // avoids the per-gram 16-byte allocation the r19 probe charged to
    // this loop.
    val bytes = u.getBytes
    val offs = Grams.charBoundaryOffsets(UTF8String.fromBytes(bytes), nChars)
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = new Array[Byte](16)
    val out = new Array[UTF8String](grams)
    var i = 0
    while (i < grams) {
      md.update(bytes, offs(i), offs(i + k) - offs(i))
      md.digest(dig, 0, 16)
      val hex = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = hexDigits((dig(j) >> 4) & 0xf)
        hex(2 * j + 1) = hexDigits(dig(j) & 0xf)
        j += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[AnyRef]])
  }

  override def nullSafeEval(input: Any): Any =
    doHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cgm", this, classOf[CharGramMd5].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = ${childGen.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = $self.doHash(${childGen.value});
         |}
       """
    ev.copy(code = code)
  }
}

/** xxhash64 (seed 42) of every word n-gram of a single-space-tokenized
  * string, as `array<bigint>` — value-identical to
  * `transform(sequence(0, greatest(size(toks) - n, 0)), i ->
  * xxhash64(concat_ws(' ', slice(toks, i + 1, n))))` over
  * `toks = split(s, " ")`, by the contiguous-byte-range identity (see
  * [[Grams]]). NOT distinct — callers `array_distinct` the result,
  * mirroring `Dedup.shingles`' distinct-of-strings (distinct hashes ≡
  * distinct grams barring collisions, and every consumer feeds a
  * candidate/count pipeline where a collision costs a verify or one
  * miscount, never a verdict). Documents shorter than n tokens hash
  * their whole text (one gram), per the shingles contract. */
case class WordGramHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"bad gram width n=$n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_word_gram_hashes expects a string column, got ${child.dataType.simpleString}")
  }

  override protected def withNewChildInternal(newChild: Expression): WordGramHashes =
    copy(child = newChild)

  /** Public so generated code can call it. */
  def doHash(u: UTF8String): ArrayData = {
    val base = u.getBaseObject
    val start = u.getBaseOffset
    val starts = Grams.tokenStartOffsets(u)
    val m = starts.length - 1 // token count
    val grams = math.max(m - n + 1, 1)
    val hs = new Array[Long](grams)
    var i = 0
    while (i < grams) {
      val lastEnd = starts(math.min(i + n, m)) - 1 // strip the separator
      hs(i) = XXH64.hashUnsafeBytes(
        base, start + starts(i), lastEnd - starts(i), 42L)
      i += 1
    }
    new GenericArrayData(hs)
  }

  override def nullSafeEval(input: Any): Any =
    doHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wgh", this, classOf[WordGramHashes].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = ${childGen.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = $self.doHash(${childGen.value});
         |}
       """
    ev.copy(code = code)
  }
}

/** MinHash word-shingle hashes of a single-space-tokenized string, as
  * `array<bigint>` — VALUE-IDENTICAL to ExpressionSpec's reference
  * HOF `shingleHashes(transform(split(s, " "), t -> xxhash64(t)), n)`
  * (family 0) and its `xxhash64(1, t)` twin (family 1). Each token is hashed once, in place (seed 42, or
  * `xxhash64(1)`'s running seed for family 1 — Spark's multi-argument
  * xxhash64 chains each argument's digest into the next one's seed);
  * window i then XOR-mixes rotl(tokenHash(i + j), (n - j)·17 % 63 + 1)
  * over j < n, so "a b c" ≠ "c b a", with tail windows clamped to the
  * last token. No shingle strings and no distinct: MinHash's min is
  * duplicate-insensitive and the jaccard set-ops dedupe. Documents
  * shorter than n tokens give one window. Null text ⇒ null. */
case class WordShingleHashes(child: Expression, n: Int, family: Int)
    extends UnaryExpression {

  require(n >= 1, s"bad shingle width n=$n")
  require(family == 0 || family == 1, s"shingle-hash family is 0 or 1, got $family")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_word_shingle_hashes expects a string column, got ${child.dataType.simpleString}")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)

  private val seed: Long = if (family == 0) 42L else XXH64.hashInt(1, 42L)
  private val rotations: Array[Int] = Array.tabulate(n)(j => (n - j) * 17 % 63 + 1)

  /** Public so generated code can call it. */
  def doHash(u: UTF8String): ArrayData = {
    val base = u.getBaseObject
    val start = u.getBaseOffset
    val starts = Grams.tokenStartOffsets(u)
    val m = starts.length - 1 // token count, >= 1
    val th = new Array[Long](m)
    var t = 0
    while (t < m) {
      th(t) = XXH64.hashUnsafeBytes(
        base, start + starts(t), starts(t + 1) - 1 - starts(t), seed)
      t += 1
    }
    val windows = math.max(m - n + 1, 1)
    val hs = new Array[Long](windows)
    var i = 0
    while (i < windows) {
      var h = 0L
      var j = 0
      while (j < n) {
        h ^= java.lang.Long.rotateLeft(th(math.min(i + j, m - 1)), rotations(j))
        j += 1
      }
      hs(i) = h
      i += 1
    }
    new GenericArrayData(hs)
  }

  override def nullSafeEval(input: Any): Any =
    doHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wsh", this, classOf[WordShingleHashes].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = ${childGen.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = $self.doHash(${childGen.value});
         |}
       """
    ev.copy(code = code)
  }
}

/** The non-overlapping `segTokens`-token segment grid of a
  * single-space-tokenized string, as `array<string>` — VALUE-IDENTICAL
  * to `transform(sequence(0, greatest(ceil(m / segTokens) - 1, 0)),
  * i -> concat_ws(' ', slice(toks, i * segTokens + 1, segTokens)))`
  * (the dedupLines/stripBoilerplate grid), built in one boundary pass:
  * each segment IS a contiguous byte range. Segments reference one
  * private byte copy of the row's string (`getBytes`), not the
  * scanner's reusable buffer — one allocation per row instead of one
  * per token per segment. */
case class TokenSegments(child: Expression, segTokens: Int)
    extends UnaryExpression {

  require(segTokens >= 1, s"bad segment width segTokens=$segTokens")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_token_segments expects a string column, got ${child.dataType.simpleString}")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenSegments =
    copy(child = newChild)

  /** Public so generated code can call it. */
  def doSegment(u: UTF8String): ArrayData = {
    val bytes = u.getBytes // private copy (or the string's own array)
    val starts = Grams.tokenStartOffsets(u)
    val m = starts.length - 1
    val nSegs = (m + segTokens - 1) / segTokens
    val segs = new Array[UTF8String](nSegs)
    var j = 0
    while (j < nSegs) {
      val from = starts(j * segTokens)
      val to = starts(math.min((j + 1) * segTokens, m)) - 1
      segs(j) = UTF8String.fromBytes(bytes, from, to - from)
      j += 1
    }
    new GenericArrayData(segs.asInstanceOf[Array[AnyRef]])
  }

  override def nullSafeEval(input: Any): Any =
    doSegment(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("tsg", this, classOf[TokenSegments].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = ${childGen.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = $self.doSegment(${childGen.value});
         |}
       """
    ev.copy(code = code)
  }
}
