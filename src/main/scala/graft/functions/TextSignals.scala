package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass twins of [[graft.ops.TextAnalysis.langId]] and
  * [[graft.ops.TextAnalysis.qualityScore]].
  *
  * Why: the Column formulations build four `split(lower(text), class)` +
  * `array_intersect` trees (langId) and five `regexp_extract_all` counters
  * (qualityScore) — per row that is 9+ regex executions and as many
  * materialized match arrays, and the generated code is large enough that
  * its codegen+JIT cost dominates the COLD bench stage. Each expression
  * here makes one pass over the text with primitive counters.
  *
  * Semantics are replicated EXACTLY (TextSignalsParitySpec fuzzes both
  * against the Column forms):
  *  - `lower` is [[UTF8String.toLowerCase]] — the same call Spark's
  *    `Lower` makes, so locale/Unicode case mapping cannot diverge;
  *  - langId tokens are maximal runs of the regex class `[a-zA-Zà-ÿÀ-ß]`
  *    (= ASCII letters ∪ U+00C0-U+00FF) over the lowered text; each
  *    language's score is the number of DISTINCT stopwords present
  *    (`array_intersect` semantics = a found-bitmask per language); ties
  *    resolve en>fr>de>es; no hit → "und"; NULL input → "und" (the when
  *    chain's otherwise-literal, not NULL);
  *  - qualityScore counts `\S+` runs (Java whitespace class
  *    ` \t\n\f\r`), code-point length ([[UTF8String.numChars]] — the
  *    `length()` semantics), ASCII `[.,;:!?]` and `[A-Z]` occurrences,
  *    and distinct English stopwords over `[^a-zA-Z]+`-split lowered
  *    text, then evaluates the identical double arithmetic (including the
  *    punctRatio division by `toks` — Infinity/NaN when chars > 0 and
  *    toks = 0 — and the `NaN <= 0.5 = false` comparison); NULL input →
  *    0.4 exactly as the Column chain folds.
  */
object TextSignals {

  import graft.ops.TextAnalysis.Stopwords

  private val LangOrder = Seq("en", "fr", "de", "es")

  /** token -> bitmask over the concatenated (lang, word) index space. */
  private val StopwordBits: java.util.HashMap[String, Long] = {
    val m = new java.util.HashMap[String, Long]()
    var bit = 0
    LangOrder.foreach { l =>
      Stopwords(l).foreach { w =>
        m.put(w, m.getOrDefault(w, 0L) | (1L << bit))
        bit += 1
      }
    }
    require(bit <= 64, "stopword inventory must fit one long bitmask")
    m
  }
  private val LangMasks: Array[Long] = {
    var bit = 0
    LangOrder.map { l =>
      val n = Stopwords(l).length
      val mask = ((1L << n) - 1) << bit
      bit += n
      mask
    }.toArray
  }
  private val MaxStopwordLen: Int =
    LangOrder.flatMap(Stopwords(_)).map(_.length).max

  /** Letter class of the langId split: `[a-zA-Zà-ÿÀ-ß]` = ASCII letters ∪
    * U+00C0..U+00FF.
    */
  @inline private def isLangLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= 0xC0 && c <= 0xFF)

  /** Distinct-stopword bitmask over maximal `letters`-class runs of the
    * LOWERED text.
    */
  private def stopwordMask(lowered: String, asciiOnly: Boolean): Long = {
    var mask = 0L
    val n = lowered.length
    var i = 0
    while (i < n) {
      def letter(c: Char): Boolean =
        if (asciiOnly) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        else isLangLetter(c)
      while (i < n && !letter(lowered.charAt(i))) i += 1
      val t0 = i
      while (i < n && letter(lowered.charAt(i))) i += 1
      val len = i - t0
      if (len >= 1 && len <= MaxStopwordLen)
        mask |= StopwordBits.getOrDefault(lowered.substring(t0, i), 0L)
    }
    mask
  }

  /** Referenced from generated code. Exact [[graft.ops.TextAnalysis.langId]]. */
  def langId(text: UTF8String): UTF8String = {
    if (text == null) return UTF8String.fromString("und")
    val lowered = text.toLowerCase.toString
    val mask = stopwordMask(lowered, asciiOnly = false)
    var best = 0
    val scores = new Array[Int](LangOrder.length)
    var l = 0
    while (l < LangOrder.length) {
      scores(l) = java.lang.Long.bitCount(mask & LangMasks(l))
      if (scores(l) > best) best = scores(l)
      l += 1
    }
    if (best == 0) UTF8String.fromString("und")
    else {
      var pick = 0
      while (scores(pick) != best) pick += 1
      UTF8String.fromString(LangOrder(pick))
    }
  }

  @inline private def isJavaSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Referenced from generated code. Exact
    * [[graft.ops.TextAnalysis.qualityScore]].
    */
  def qualityScore(text: UTF8String): Double = {
    if (text == null) return 0.4 // the when-chain's fold over NULL signals
    val s = text.toString
    val n = s.length
    var toks = 0L
    var nPunct = 0L
    var nUpper = 0L
    var i = 0
    var inTok = false
    while (i < n) {
      val c = s.charAt(i)
      val sp = isJavaSpace(c)
      if (!sp && !inTok) { toks += 1; inTok = true }
      else if (sp) inTok = false
      if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?') nPunct += 1
      if (c >= 'A' && c <= 'Z') nUpper += 1
      i += 1
    }
    val chars = text.numChars().toDouble
    val toksD = toks.toDouble
    val nStopEn = java.lang.Long.bitCount(
      stopwordMask(text.toLowerCase.toString, asciiOnly = true) & LangMasks(0))
    val meanWordLen = if (toks > 0) chars / toksD else 0.0
    val lengthOk = if (toks >= 5 && toks <= 10000) 1.0 else 0.0
    val wordLenOk = if (meanWordLen >= 2.5 && meanWordLen <= 12.0) 1.0 else 0.0
    val punctRatio = if (chars > 0) nPunct.toDouble / toksD else 0.0
    val punctOk = if (punctRatio <= 0.5) 1.0 else 0.0
    val stopOk = if (nStopEn >= 2) 1.0 else 0.0
    val upperRatio = if (chars > 0) nUpper.toDouble / chars else 0.0
    val caseOk = if (upperRatio <= 0.3) 1.0 else 0.0
    (lengthOk + wordLenOk + punctOk + stopOk + caseOk) / 5.0
  }
}

/** `lang_id(text)` — see [[TextSignals.langId]]. */
case class LangIdExpr(child: Expression)
  extends UnaryExpression with UnaryLike[Expression] {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    TextSignals.langId(child.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val in = if (child.nullable) s"${childGen.isNull} ? null : ${childGen.value}"
             else childGen.value
    ev.copy(code = code"""
      |${childGen.code}
      |UTF8String ${ev.value} = graft.functions.TextSignals.langId($in);
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
  override def prettyName: String = "lang_id"
}

/** `quality_score(text)` — see [[TextSignals.qualityScore]]. */
case class QualityScoreExpr(child: Expression)
  extends UnaryExpression with UnaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    TextSignals.qualityScore(child.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val in = if (child.nullable) s"${childGen.isNull} ? null : ${childGen.value}"
             else childGen.value
    ev.copy(code = code"""
      |${childGen.code}
      |double ${ev.value} = graft.functions.TextSignals.qualityScore($in);
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): QualityScoreExpr =
    copy(child = newChild)
  override def prettyName: String = "quality_score"
}

object TextSignalsCols {
  def langId(c: Column): Column = shims.column(LangIdExpr(shims.expression(c)))
  def qualityScore(c: Column): Column =
    shims.column(QualityScoreExpr(shims.expression(c)))
}
