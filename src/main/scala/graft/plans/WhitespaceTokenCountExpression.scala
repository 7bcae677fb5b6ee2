package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace token count — the allocation-free twin of
  * `size(split(text, "\\s+"))`, the reference's word count
  * (`process_articles.py:74-75`). The composed form runs a regex split that
  * materializes every token as a string only to take the array's length;
  * this walks the UTF-8 bytes once and allocates nothing.
  *
  * Exactness:
  *  - Java's `\s` (no UNICODE_CHARACTER_CLASS) is exactly the six ASCII
  *    bytes space, `\t`, `\n`, U+000B, `\f`, `\r`; every byte of a
  *    multi-byte UTF-8 sequence is >= 0x80, so a byte scan never mistakes
  *    part of a wider character (NBSP, NEL, U+2028, U+3000) for whitespace;
  *  - Spark's `split` uses limit -1, so leading and trailing empty tokens
  *    count: the token count is the number of maximal whitespace runs + 1
  *    (`""` → 1, `"  "` → 2, `" a "` → 3);
  *  - null input → null, as `size(split(null))` under ANSI `size`.
  */
case class WhitespaceTokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "whitespace_token_count"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"whitespace_token_count requires STRING input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    WhitespaceTokenCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WhitespaceTokenCount.count($c)")

  override protected def withNewChildInternal(newChild: Expression): WhitespaceTokenCount =
    copy(child = newChild)
}

object WhitespaceTokenCount {
  def count(s: UTF8String): Int = {
    val n = s.numBytes()
    var runs = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      // ' ' = 0x20; '\t' '\n' U+000B '\f' '\r' = 0x09..0x0D
      val ws = b == ' ' || (b >= 0x09 && b <= 0x0D)
      if (ws && !inRun) runs += 1
      inRun = ws
      i += 1
    }
    runs + 1
  }
}
