package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native WordPiece greedy MaxMatch over a pre-NORMALIZED text column
  * (lowercased, single-space separated — compose with
  * `TextFunctions.normalize`; the expression does not re-normalize so
  * its semantics stay byte-identical to the HOF reference
  * formulation in [[graft.operators.Wordpiece.tokenize]]).
  *
  * Why native: Spark's higher-order functions are INTERPRETED — the
  * HOF fold walks an expression tree per character (measured at
  * 100×: 208 s / 4324 CPU-seconds for 500k docs, zero shuffle, pure
  * lambda overhead). Here the whole tokenization is one compiled
  * method on a reference object, called from inside WholeStageCodegen
  * — same output, ~25× the throughput, and the vocabulary no longer
  * rides the plan as a map literal, so production 32k-100k vocabs fit
  * naturally.
  *
  * Per probe nothing is allocated: the row is decoded to UTF-16 chars once,
  * the prefix hashes of the pieces at the cursor are built once per
  * position, and each (piece, continuation) probe compares a char
  * range of the row against an open-addressed
  * [[WordpieceTokens.VocabTable]]; a match emits the vocab entry's
  * prebuilt UTF8String. Pieces are at most maxPieceLen CODE POINTS
  * long, as in the HOF's `substr`/`length`: a surrogate pair counts
  * once and is never split.
  *
  * vocab and maxPieceLen are foldable children (the NearestCentroid
  * convention), so the function also registers for SQL use.
  */
case class WordpieceTokens(text: Expression, vocab: Expression,
                           maxLen: Expression)
    extends Expression {

  // ALL arguments are children (the NearestCentroid convention): if
  // vocab/maxLen sat outside the tree, analyzer and optimizer rules
  // would never visit them, so SQL-path resolution of a non-trivial
  // vocab argument would depend on bottom-up rule ordering and fail
  // at eval with an opaque error instead of a clean analysis error.
  override def children: Seq[Expression] = Seq(text, vocab, maxLen)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WordpieceTokens =
    copy(text = newChildren(0), vocab = newChildren(1), maxLen = newChildren(2))

  override def nullable: Boolean = true
  override def foldable: Boolean = text.foldable
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = text.dataType == StringType &&
      (vocab.dataType match {
        case ArrayType(StringType, _) => vocab.foldable
        case _ => false
      }) && maxLen.dataType == IntegerType && maxLen.foldable
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "graft_wordpiece expects (string text, constant array<string> vocab, " +
        "constant int maxPieceLen), got (" +
        Seq(text, vocab, maxLen).map(_.dataType.simpleString).mkString(", ") + ")")
  }

  @transient private lazy val maxLenVal: Int = {
    val m = maxLen.eval().asInstanceOf[Int]
    require(m >= 1 && m <= 16, s"graft_wordpiece: maxPieceLen out of [1,16]: $m")
    m
  }

  @transient private lazy val table: WordpieceTokens.VocabTable = {
    val ad = vocab.eval().asInstanceOf[ArrayData]
    require(ad.numElements() > 0, "graft_wordpiece: empty vocabulary")
    WordpieceTokens.VocabTable(
      (0 until ad.numElements()).map(ad.getUTF8String(_).toString))
  }

  private val Unk = UTF8String.fromString("[UNK]")

  /** Whole-row tokenization — public so generated code can call it. */
  def doTokenize(u: UTF8String): ArrayData = {
    val s = Grams.utf16(u)
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    // per-row scratch: hash and end offset of the pieces at the cursor
    val hs = new Array[Int](maxLenVal + 1)
    val ends = new Array[Int](maxLenVal + 1)
    val len = s.length
    var start = 0
    while (start < len) {
      var end = start
      while (end < len && s(end) != ' ') end += 1
      if (end > start) tokenizeWord(s, start, end, hs, ends, out)
      start = end + 1
    }
    new GenericArrayData(out.toArray)
  }

  private def tokenizeWord(s: Array[Char], from: Int, to: Int, hs: Array[Int],
                           ends: Array[Int],
                           out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    val t = table
    val mark = out.length
    var pos = from
    while (pos < to) {
      val cont = pos != from
      // the pieces of 1..maxL code points at the cursor
      var h = 0
      var e = pos
      var maxL = 0
      while (maxL < maxLenVal && e < to) {
        val c = s(e)
        h = 31 * h + c
        e += 1
        if (Character.isHighSurrogate(c) && e < to && Character.isLowSurrogate(s(e))) {
          h = 31 * h + s(e)
          e += 1
        }
        maxL += 1
        hs(maxL) = h
        ends(maxL) = e
      }
      // longest piece first
      var l = maxL
      var hit = t.find(s, pos, ends(l) - pos, hs(l), cont)
      while (hit < 0 && l > 1) { l -= 1; hit = t.find(s, pos, ends(l) - pos, hs(l), cont) }
      if (hit < 0) { // whole-word [UNK], partial pieces dropped
        out.dropRightInPlace(out.length - mark)
        out += Unk
        return
      }
      out += t.token(hit)
      pos = ends(l)
    }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) null else doTokenize(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wp", this, classOf[WordpieceTokens].getName)
    val childGen = text.genCode(ctx)
    val code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = ${childGen.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = $self.doTokenize(${childGen.value});
         |}
       """
    ev.copy(code = code)
  }
}

object WordpieceTokens {

  /** The vocabulary as an open-addressed table keyed by (continuation
    * flag, piece chars): a word-start piece `p` is the entry `p`, a
    * continuation piece `p` is the entry `"##" + p`. [[find]] compares
    * a char range of the row in place, so a probe allocates nothing;
    * the prebuilt UTF8String of the matched entry is the token.
    * Immutable once built: expression copies on every task thread read
    * it without locking. */
  final class VocabTable private (pieces: Array[String], conts: Array[Boolean],
                                  hashes: Array[Int], tokens: Array[UTF8String],
                                  slots: Array[Int]) {
    private val mask = slots.length - 1

    def token(e: Int): UTF8String = tokens(e)

    /** The entry of piece `s[pos, pos + l)` under `cont`, or -1; `h` is
      * [[VocabTable.hashOf]] of the range. */
    def find(s: Array[Char], pos: Int, l: Int, h: Int, cont: Boolean): Int = {
      var i = VocabTable.slot(h, cont) & mask
      var e = slots(i) - 1
      while (e >= 0 && !(hashes(e) == h && conts(e) == cont && same(pieces(e), s, pos, l))) {
        i = (i + 1) & mask
        e = slots(i) - 1
      }
      e
    }

    private def same(p: String, s: Array[Char], pos: Int, l: Int): Boolean =
      p.length == l && {
        var k = 0
        while (k < l && p.charAt(k) == s(pos + k)) k += 1
        k == l
      }
  }

  object VocabTable {
    /** The polynomial hash the row side builds prefix by prefix. */
    def hashOf(s: String): Int = {
      var h = 0
      var i = 0
      while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
      h
    }

    private def slot(h: Int, cont: Boolean): Int = {
      var x = if (cont) h ^ 0x9e3779b9 else h
      x ^= x >>> 16; x *= 0x85ebca6b; x ^= x >>> 13; x *= 0xc2b2ae35; x ^ (x >>> 16)
    }

    def apply(vocab: Seq[String]): VocabTable = {
      // every entry keys its word-start form; a "##p" entry also keys
      // the continuation piece p
      val keys = vocab.distinct.flatMap { v =>
        (v, false, v) +: (if (v.length > 2 && v.startsWith("##")) Seq((v.substring(2), true, v))
                          else Nil)
      }
      var cap = 2
      while (cap < 2 * keys.length) cap <<= 1
      val slots = new Array[Int](cap)
      val hashes = keys.map(k => hashOf(k._1)).toArray
      for (e <- keys.indices) {
        var i = slot(hashes(e), keys(e)._2) & (cap - 1)
        while (slots(i) != 0) i = (i + 1) & (cap - 1)
        slots(i) = e + 1
      }
      new VocabTable(keys.map(_._1).toArray, keys.map(_._2).toArray, hashes,
        keys.map(k => UTF8String.fromString(k._3)).toArray, slots)
    }
  }
}
