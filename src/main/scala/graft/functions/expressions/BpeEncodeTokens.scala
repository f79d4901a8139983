package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE encoding over pre-NORMALIZED text (lowercased,
  * single-space separated — compose with `TextFunctions.normalize`),
  * applying a trained merge list in the ##-continuation alphabet
  * [[graft.operators.Bpe]] produces, so train → encode round-trips
  * inside the engine.
  *
  * Semantics are the standard apply (Sennrich et al. 2016 `apply_bpe`,
  * same as HF tokenizers): per word, start from characters
  * [c₀, ##c₁, …] and repeatedly merge the adjacent pair with the
  * LOWEST merge rank, all occurrences left-to-right non-overlapping,
  * until no adjacent pair has a rank. Min-rank-first (not one
  * sequential pass per rank) matters: a low-rank pair can only become
  * adjacent AFTER a higher-rank merge fires, and the standard apply
  * still merges it.
  *
  * Why native: the per-word loop is data-dependent control flow that
  * higher-order functions would interpret per symbol (the
  * graft_wordpiece lesson — 13× at 100×); here it is one compiled
  * method, called from WholeStageCodegen, that merges int symbol ids
  * in place: a word becomes one id per UTF-16 char, each rank probe is
  * one lookup of the (left id, right id) pair in the open-addressed
  * [[BpeEncodeTokens.MergeTable]] built once per expression instance,
  * and tokens are the table's prebuilt UTF8Strings. No String or tuple
  * is made per probe, and the only mutable state (the symbol buffer)
  * is local to the row, so expression copies on different threads
  * share nothing mutable. Per-word cost is O(len · merges-applied),
  * independent of the total merge-table size, so production 32k-merge
  * vocabularies ride the same code path.
  *
  * `merges` is a foldable array<string> of "left right" pairs in rank
  * order (the serialization [[graft.operators.Bpe.Merge]] prints);
  * the merged symbol is left + right-without-##.
  */
case class BpeEncodeTokens(text: Expression, merges: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(text, merges)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BpeEncodeTokens =
    copy(text = newChildren(0), merges = newChildren(1))

  override def nullable: Boolean = true
  override def foldable: Boolean = text.foldable
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = text.dataType == StringType &&
      (merges.dataType match {
        case ArrayType(StringType, _) => merges.foldable
        case _ => false
      })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "graft_bpe_encode expects (string text, constant array<string> " +
        "\"left right\" merges), got (" +
        Seq(text, merges).map(_.dataType.simpleString).mkString(", ") + ")")
  }

  @transient private lazy val table: BpeEncodeTokens.MergeTable = {
    val ad = merges.eval().asInstanceOf[ArrayData]
    BpeEncodeTokens.MergeTable((0 until ad.numElements()).map { i =>
      val s = ad.getUTF8String(i).toString
      val sp = s.indexOf(' ')
      require(sp > 0 && sp < s.length - 1,
        s"graft_bpe_encode: merge ${i} is not \"left right\": '$s'")
      (s.substring(0, sp), s.substring(sp + 1))
    })
  }

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Whole-row encode — public so generated code can call it. */
  def doEncode(u: UTF8String): ArrayData = {
    if (u.numBytes() == 0) return Empty
    val s = Grams.utf16(u)
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    // per-row scratch: the symbol ids of the word being merged
    val syms = new Array[Int](s.length)
    val len = s.length
    var start = 0
    while (start < len) {
      var end = start
      while (end < len && s(end) != ' ') end += 1
      if (end > start) encodeWord(s, start, end, syms, out)
      start = end + 1
    }
    new GenericArrayData(out.toArray)
  }

  private def encodeWord(s: Array[Char], from: Int, to: Int, syms: Array[Int],
                         out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    val t = table
    var n = to - from
    var i = 0
    while (i < n) { syms(i) = t.charSymbol(s(from + i), i > 0); i += 1 }
    var done = false
    while (!done && n > 1) {
      // the adjacent pair with the lowest rank
      var best = Int.MaxValue
      var j = 0
      while (j < n - 1) {
        val r = t.rank(syms(j), syms(j + 1))
        if (r < best) best = r
        j += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge every occurrence left to right, in place
        val merged = t.mergedOf(best)
        var w = 0
        var k = 0
        while (k < n) {
          if (k + 1 < n && t.rank(syms(k), syms(k + 1)) == best) {
            syms(w) = merged; k += 2
          } else { syms(w) = syms(k); k += 1 }
          w += 1
        }
        n = w
      }
    }
    var p = 0
    while (p < n) { out += t.token(syms(p)); p += 1 }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) null else doEncode(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpe", this, classOf[BpeEncodeTokens].getName)
    val childGen = text.genCode(ctx)
    val code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = ${childGen.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = $self.doEncode(${childGen.value});
         |}
       """
    ev.copy(code = code)
  }
}

object BpeEncodeTokens {

  /** A merge list over int symbol ids, built once per expression
    * instance and immutable afterwards. Every symbol a merge names —
    * left, right, merged — and every ASCII char in both its word-start
    * form `c` and continuation form `##c` gets an id with a prebuilt
    * UTF8String; the (left id, right id) pairs key an open-addressed
    * long → rank table. A char of the row outside that set is the
    * negative id `-(1 + c)` (word start) or `-(1 + 0x10000 + c)`
    * (continuation): no merge can name it, so it never merges. */
  final class MergeTable private (asciiIds: Array[Int],
                                  charKeys: Array[Int], charIds: Array[Int],
                                  tokens: Array[UTF8String], mergedIds: Array[Int],
                                  pairKeys: Array[Long], pairRanks: Array[Int]) {

    /** The id of char `c` as a word-start (`cont` false) or `##`
      * continuation symbol. */
    def charSymbol(c: Char, cont: Boolean): Int =
      if (c < 0x80) asciiIds(if (cont) 0x80 + c else c)
      else {
        val key = if (cont) 0x10000 + c else c.toInt
        val i = java.util.Arrays.binarySearch(charKeys, key)
        if (i >= 0) charIds(i) else -(1 + key)
      }

    /** The rank of merging `l` and `r`, or Int.MaxValue. */
    def rank(l: Int, r: Int): Int =
      if (l < 0 || r < 0) Int.MaxValue
      else {
        val r0 = pairRanks(MergeTable.slotOf(pairKeys, pairRanks, MergeTable.pairKey(l, r)))
        if (r0 >= 0) r0 else Int.MaxValue
      }

    def mergedOf(rank: Int): Int = mergedIds(rank)

    def token(id: Int): UTF8String =
      if (id >= 0) tokens(id)
      else {
        val key = -id - 1
        val c = (key & 0xffff).toChar
        UTF8String.fromString(if (key >= 0x10000) "##" + c else String.valueOf(c))
      }
  }

  object MergeTable {
    private def pairKey(l: Int, r: Int): Long = (l.toLong << 32) | (r & 0xffffffffL)

    /** The slot of `key` in the open-addressed pair table, or the
      * empty slot (rank -1) where it would go. */
    private def slotOf(keys: Array[Long], ranks: Array[Int], key: Long): Int = {
      val mask = keys.length - 1
      val x = key * 0x9e3779b97f4a7c15L
      var i = (x ^ (x >>> 32)).toInt & mask
      while (ranks(i) >= 0 && keys(i) != key) i = (i + 1) & mask
      i
    }

    /** `merges` as (left, right) in rank order; the merged symbol is
      * left + right-without-##, and the first rank of a duplicated
      * pair wins (a later duplicate is dead). */
    def apply(merges: Seq[(String, String)]): MergeTable = {
      val ids = new java.util.HashMap[String, Integer]
      val names = scala.collection.mutable.ArrayBuffer[String]()
      def idOf(sym: String): Int = {
        val id = ids.get(sym)
        if (id != null) id.intValue
        else { ids.put(sym, names.length); names += sym; names.length - 1 }
      }
      val asciiIds = new Array[Int](0x100)
      var c = 0
      while (c < 0x80) {
        asciiIds(c) = idOf(c.toChar.toString)
        asciiIds(0x80 + c) = idOf("##" + c.toChar)
        c += 1
      }
      var cap = 2
      while (cap < 2 * merges.length) cap <<= 1
      val pairKeys = new Array[Long](cap)
      val pairRanks = Array.fill(cap)(-1)
      val mergedIds = new Array[Int](merges.length)
      merges.zipWithIndex.foreach { case ((l, r), rank) =>
        val key = pairKey(idOf(l), idOf(r))
        mergedIds(rank) = idOf(l + (if (r.startsWith("##")) r.substring(2) else r))
        val i = slotOf(pairKeys, pairRanks, key)
        if (pairRanks(i) < 0) { pairKeys(i) = key; pairRanks(i) = rank }
      }
      // the non-ASCII single-char symbols some merge names, by char key
      val chars = names.zipWithIndex.collect {
        case (sym, id) if sym.length == 1 && sym.charAt(0) >= 0x80 => (sym.charAt(0).toInt, id)
        case (sym, id) if sym.length == 3 && sym.startsWith("##") && sym.charAt(2) >= 0x80 =>
          (0x10000 + sym.charAt(2), id)
      }.sortBy(_._1)
      new MergeTable(asciiIds, chars.map(_._1).toArray, chars.map(_._2).toArray,
        names.map(UTF8String.fromString).toArray,
        mergedIds, pairKeys, pairRanks)
    }
  }
}
