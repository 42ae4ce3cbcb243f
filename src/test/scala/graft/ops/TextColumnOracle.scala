package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis.{Stopwords, nChars, nPunct, nUpper, tokenCount}

/** The Column formulations of [[TextAnalysis.langId]] and
  * [[TextAnalysis.qualityScore]] over built-in functions — the parity
  * oracles of the native single-pass expressions
  * ([[graft.functions.TextSignals]]).
  */
object TextColumnOracle {

  /** Per-language stopword hit count (distinct hits — `array_intersect`). */
  def langScore(text: Column, lang: String): Column =
    size(array_intersect(
      split(lower(text), "[^a-zA-Zà-ÿÀ-ß]+"),
      typedLit(Stopwords(lang))))

  def langIdColumns(text: Column): Column = {
    val langs = Seq("en", "fr", "de", "es")
    val scores = langs.map(l => langScore(text, l))
    val best = scores.reduce((a, b) => greatest(a, b))
    langs.zip(scores).foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  def nStopwordsEn(text: Column): Column =
    size(array_intersect(split(lower(text), "[^a-zA-Z]+"), typedLit(Stopwords("en"))))

  def qualityScoreColumns(text: Column): Column = {
    val toks = tokenCount(text).cast("double")
    val chars = nChars(text).cast("double")
    val meanWordLen = when(toks > 0, chars / toks).otherwise(lit(0.0))
    val lengthOk = when(toks.between(5, 10000), 1.0).otherwise(0.0)
    val wordLenOk = when(meanWordLen.between(2.5, 12.0), 1.0).otherwise(0.0)
    val punctRatio = when(chars > 0, nPunct(text).cast("double") / toks).otherwise(lit(0.0))
    val punctOk = when(punctRatio <= 0.5, 1.0).otherwise(0.0)
    val stopOk = when(nStopwordsEn(text) >= 2, 1.0).otherwise(0.0)
    val upperRatio = when(chars > 0, nUpper(text).cast("double") / chars).otherwise(lit(0.0))
    val caseOk = when(upperRatio <= 0.3, 1.0).otherwise(0.0)
    (lengthOk + wordLenOk + punctOk + stopOk + caseOk) / 5.0
  }
}
