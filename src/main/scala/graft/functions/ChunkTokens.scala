package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Context-window token chunking as a native codegen'd expression — the
  * hot-loop twin of the test-scope parity oracle
  * `graft.ops.OpsHofOracle.chunkTokensHof`, whose
  * `transform(sequence(...), slice/concat_ws)` formulation is an
  * interpreted HOF (CodegenFallback — the documented repo anti-pattern for
  * full-corpus passes). ONE pass over the text: tokenize on Java-`\s`
  * whitespace runs, then emit windows of `n` tokens advancing by
  * `n − overlap`, rejoined with single spaces. Semantics are byte-identical
  * to the HOF (asserted in PipelineOpsSpec's three-way parity): chunk
  * starts are 1, 1+stride, …, capped at max(nTokens − overlap, 1) so the
  * final (possibly short) tail is emitted once and no pure-overlap tail
  * appears; zero-token documents yield NO chunks.
  */
case class ChunkTokens(child: Expression, n: Int, overlap: Int)
  extends UnaryExpression with UnaryLike[Expression] {

  require(n > 0 && overlap >= 0 && overlap < n,
    s"need 0 <= overlap < n, got n=$n overlap=$overlap")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ChunkTokens.compute(input.asInstanceOf[UTF8String], n, overlap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ChunkTokens.compute($c, $n, $overlap)")

  override protected def withNewChildInternal(newChild: Expression): ChunkTokens =
    copy(child = newChild)

  override def prettyName: String = "chunk_tokens"
}

object ChunkTokens {

  /** Referenced from generated code — must stay public.
    *
    * Tokenization matches `regexp_extract_all(text, "\\S+")`: Java's `\s`
    * is exactly the six ASCII whitespace chars (no UNICODE_CHARACTER_CLASS
    * flag), so a hand scan over chars reproduces the regex split while
    * skipping the regex engine entirely. Whitespace chars are all BMP, so
    * char-level scanning never splits a surrogate pair (both halves are
    * non-whitespace and stay inside one token).
    */
  def compute(text: UTF8String, n: Int, overlap: Int): ArrayData = {
    val s = text.toString
    val len = s.length
    // token boundaries as (start, end) char offsets
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isWs(s.charAt(i))) i += 1
        ends.add(i)
      }
    }
    val nTok = starts.size
    if (nTok == 0) return new GenericArrayData(Array.empty[AnyRef])
    val stride = n - overlap
    // 0-based chunk starts: 0, stride, …, ≤ max(nTok − overlap, 1) − 1
    val maxStart = math.max(nTok - overlap, 1) - 1
    val nChunks = maxStart / stride + 1
    val out = new Array[AnyRef](nChunks)
    var c = 0
    while (c < nChunks) {
      val from = c * stride
      val to = math.min(from + n, nTok)
      val sb = new java.lang.StringBuilder(ends.get(to - 1) - starts.get(from))
      var t = from
      while (t < to) {
        if (t > from) sb.append(' ')
        sb.append(s, starts.get(t), ends.get(t))
        t += 1
      }
      out(c) = UTF8String.fromString(sb.toString)
      c += 1
    }
    new GenericArrayData(out)
  }

  private def isWs(ch: Char): Boolean =
    ch == ' ' || ch == '\t' || ch == '\n' || ch == '\u000B' ||
      ch == '\f' || ch == '\r'

  def chunkTokens(text: Column, n: Int, overlap: Int): Column =
    shims.column(ChunkTokens(shims.expression(text), n, overlap))
}
