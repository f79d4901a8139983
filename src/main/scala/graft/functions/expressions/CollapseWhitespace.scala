package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace collapse in one pass over the UTF-8 bytes: every maximal
  * run of Java-regex `\s` bytes (`[ \t\n\x0B\f\r]`) becomes one space
  * — value-identical to `regexp_replace(text, "\\s+", " ")`, whose
  * `\s` (no UNICODE_CHARACTER_CLASS flag) is exactly that ASCII set.
  * NBSP, U+2003 and every other non-ASCII space are kept as they are.
  *
  * Byte-level is exact: the six bytes are ASCII, and UTF-8 never puts
  * an ASCII byte inside a multi-byte sequence. A row with no run to
  * rewrite (no `\s` byte but single spaces) is returned as it is, with
  * no copy; otherwise one output buffer is allocated.
  *
  * Why native: `regexp_replace` decodes the row to a Java String, runs
  * the regex matcher over it and encodes the result back, once per
  * `TextFunctions.normalize` call — the canonicalization step in front
  * of every dedup fingerprint, shingle and tokenizer.
  */
case class CollapseWhitespace(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_collapse_ws expects a string, got ${child.dataType.simpleString}")

  override protected def withNewChildInternal(newChild: Expression): CollapseWhitespace =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    CollapseWhitespace.collapse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // a static forwarder of the companion's `collapse`
    defineCodeGen(ctx, ev, c => s"${classOf[CollapseWhitespace].getName}.collapse($c)")
}

object CollapseWhitespace {

  /** Java regex `\s`: space, \t, \n, \x0B, \f, \r. */
  @inline private def isWs(b: Byte): Boolean = b == ' ' || (b >= 0x09 && b <= 0x0d)

  def collapse(u: UTF8String): UTF8String = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    // the first byte that a collapse would change: a non-space `\s`,
    // or the second byte of a run
    var i = 0
    var first = -1
    while (first < 0 && i < n) {
      val b = Platform.getByte(base, off + i)
      if (isWs(b) && (b != ' ' || (i + 1 < n && isWs(Platform.getByte(base, off + i + 1)))))
        first = i
      i += 1
    }
    if (first < 0) return u
    val out = new Array[Byte](n)
    Platform.copyMemory(base, off, out, Platform.BYTE_ARRAY_OFFSET, first)
    var w = first
    var inRun = false
    i = first
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (isWs(b)) {
        if (!inRun) { out(w) = ' '; w += 1; inRun = true }
      } else {
        out(w) = b; w += 1; inRun = false
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, w)
  }
}
