package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Greedy sentence-packed context windows as a native codegen'd
  * expression — the hot-loop twin of the test-scope parity oracle
  * `graft.ops.OpsHofOracle.sentenceChunksHof`, whose per-doc
  * `aggregate(...)` fold is an interpreted HOF (CodegenFallback — the
  * documented repo anti-pattern for full-corpus passes). ONE pass over the
  * text: segment on `[^.!?]+[.!?]*` (a maximal non-terminator run plus its
  * trailing terminator run; unattached leading terminators are skipped,
  * exactly like `regexp_extract_all`), space-trim each sentence, drop
  * empties, then pack consecutive sentences greedily into chunks of
  * ≤ `maxTokens` whitespace tokens — a sentence is never split; an
  * over-long sentence opens its own chunk. Chunks re-join their sentences
  * with single spaces. Byte-identical to the HOF formulation (asserted
  * three-way in PipelineOpsSpec against an independent reference packer).
  */
case class SentencePack(child: Expression, maxTokens: Int)
  extends UnaryExpression with UnaryLike[Expression] {

  require(maxTokens > 0, s"need maxTokens > 0, got $maxTokens")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SentencePack.compute(input.asInstanceOf[UTF8String], maxTokens)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SentencePack.compute($c, $maxTokens)")

  override protected def withNewChildInternal(newChild: Expression): SentencePack =
    copy(child = newChild)

  override def prettyName: String = "sentence_pack"
}

object SentencePack {

  /** Referenced from generated code — must stay public. */
  def compute(text: UTF8String, maxTokens: Int): ArrayData = {
    val s = text.toString
    val len = s.length
    // sentence [start, end) offsets after the space-trim, in order
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < len) {
      if (isTerm(s.charAt(i))) i += 1 // unattached terminator: no match
      else {
        var a = i
        while (i < len && !isTerm(s.charAt(i))) i += 1
        while (i < len && isTerm(s.charAt(i))) i += 1
        var b = i
        // Spark `trim` semantics: strip 0x20 spaces only
        while (a < b && s.charAt(a) == ' ') a += 1
        while (b > a && s.charAt(b - 1) == ' ') b -= 1
        if (b > a) { starts.add(a); ends.add(b) }
      }
    }
    val nSent = starts.size
    if (nSent == 0) return new GenericArrayData(Array.empty[AnyRef])
    // greedy pack on whitespace-token counts
    val assign = new Array[Int](nSent)
    var cidx = 0
    var acc = 0L
    var k = 0
    while (k < nSent) {
      val ntok = countTokens(s, starts.get(k), ends.get(k))
      if (acc > 0 && acc + ntok > maxTokens) { cidx += 1; acc = ntok }
      else acc += ntok
      assign(k) = cidx
      k += 1
    }
    val out = new Array[AnyRef](cidx + 1)
    var c = 0
    var from = 0
    while (c <= cidx) {
      var to = from
      while (to < nSent && assign(to) == c) to += 1
      val sb = new java.lang.StringBuilder()
      var t = from
      while (t < to) {
        if (t > from) sb.append(' ')
        sb.append(s, starts.get(t), ends.get(t))
        t += 1
      }
      out(c) = UTF8String.fromString(sb.toString)
      from = to
      c += 1
    }
    new GenericArrayData(out)
  }

  private def countTokens(s: String, from: Int, to: Int): Long = {
    var n = 0L
    var i = from
    while (i < to) {
      while (i < to && isWs(s.charAt(i))) i += 1
      if (i < to) {
        n += 1
        while (i < to && !isWs(s.charAt(i))) i += 1
      }
    }
    n
  }

  private def isTerm(ch: Char): Boolean = ch == '.' || ch == '!' || ch == '?'

  private def isWs(ch: Char): Boolean =
    ch == ' ' || ch == '\t' || ch == '\n' || ch == '\u000B' ||
      ch == '\f' || ch == '\r'

  def sentencePack(text: Column, maxTokens: Int): Column =
    shims.column(SentencePack(shims.expression(text), maxTokens))
}
