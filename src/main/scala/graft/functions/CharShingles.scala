package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct character k-shingles of a string — the native twin of the
  * interpreted HOF chain
  * `array_distinct(transform(sequence(0, greatest(len-k, 0)), i =>
  * substr(i+1, k)))` that [[graft.ops.Dedup.shingles]] used: `sequence`,
  * `transform` and `array_distinct` are CodegenFallback, and the per-window
  * `substr` re-scans the UTF8 bytes from the start (code-point addressed) —
  * measured as a 0.3 s single-task stage on a few hundred candidate docs.
  *
  * Semantics identical by construction (OpsSpec asserts parity with the
  * HOF chain, kept in test scope as `OpsHofOracle.shinglesHof`): code-point
  * windows `[i, i+k)` for
  * `i = 0 .. len-k` (a text shorter than or equal to k chars yields one
  * shingle — the whole text, matching the clamped `substr(1, k)` of the
  * `greatest(len-k, 0) = 0` index range), first-occurrence order, distinct.
  */
case class CharShingles(child: Expression, k: Int)
  extends UnaryExpression with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    CharShingles.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharShingles.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): CharShingles =
    copy(child = newChild)

  override def prettyName: String = "char_shingles"
}

object CharShingles {

  /** Referenced from generated code — must stay public. */
  def compute(text: UTF8String, k: Int): GenericArrayData = {
    val s = text.toString
    val n = s.length
    // code-point start offsets (UTF-16 indices)
    val starts = new Array[Int](s.codePointCount(0, n) + 1)
    var cp = 0
    var i = 0
    while (i < n) {
      starts(cp) = i
      cp += 1
      i += Character.charCount(s.codePointAt(i))
    }
    starts(cp) = n
    val nCp = cp
    if (nCp <= k) {
      // the HOF form's index range collapses to [0]: one clamped shingle
      return new GenericArrayData(Array[Any](UTF8String.fromString(s)))
    }
    val seen = new java.util.LinkedHashSet[String]()
    var w = 0
    while (w + k <= nCp) {
      seen.add(s.substring(starts(w), starts(w + k)))
      w += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Column entry point. */
  def charShingles(c: Column, k: Int): Column =
    shims.column(CharShingles(shims.expression(c), k))
}
