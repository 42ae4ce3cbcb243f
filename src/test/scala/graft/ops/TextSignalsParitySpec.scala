package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The native single-pass langId / qualityScore expressions
  * ([[graft.functions.TextSignals]]) must agree with the original Column
  * formulations bit for bit — on the corpus, on adversarial edge cases,
  * and on fuzzed unicode strings.
  */
class TextSignalsParitySpec extends SparkTestBase {

  /** Whitespace-only non-empty text makes the COLUMN form evaluate
    * 0.0/0.0, which Spark 4's ANSI mode raises as DIVIDE_BY_ZERO — the
    * native expression instead returns the IEEE result's fold (0.2).
    * Real corpora never contain such rows (the pre-round-9 bench would
    * have crashed); the sweep compares only where the Column form is
    * defined and pins the native value on the remainder.
    */
  private def wsOnly(t: String): Boolean =
    t != null && t.nonEmpty && t.forall(c =>
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r')

  private def paritySweep(texts0: Seq[String]): Unit = {
    import spark.implicits._
    val texts = texts0.filterNot(wsOnly)
    val wsTexts = texts0.filter(wsOnly)
    if (wsTexts.nonEmpty) {
      val natives = wsTexts.toDF("text")
        .select(TextAnalysis.qualityScore(col("text"))).collect()
      natives.foreach(r => assert(r.getDouble(0) == 0.2,
        s"whitespace-only native score: ${r.getDouble(0)}"))
    }
    val df = (texts.map(Option(_)) :+ None).toDF("text")
    val rows = df.select(
      TextAnalysis.langId(col("text")).as("lid_native"),
      TextColumnOracle.langIdColumns(col("text")).as("lid_col"),
      TextAnalysis.qualityScore(col("text")).as("q_native"),
      TextColumnOracle.qualityScoreColumns(col("text")).as("q_col"),
      col("text")).collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"langId mismatch on ${Option(r.getString(4)).map(_.take(80))}: " +
          s"native=${r.getString(0)} column=${r.getString(1)}")
      val qn = r.getDouble(2)
      val qc = if (r.isNullAt(3)) Double.NaN else r.getDouble(3)
      assert(java.lang.Double.compare(qn, qc) == 0 || (qn.isNaN && qc.isNaN),
        s"qualityScore mismatch on ${Option(r.getString(4)).map(_.take(80))}: " +
          s"native=$qn column=$qc")
    }
  }

  test("edge cases: null, empty, whitespace, ties, unicode, huge ratios") {
    paritySweep(Seq(
      "", " ", "  \t\n\f\r ", " ", "the", "THE AND OF",
      "le la les de des et est", "der die das und", "el la los las de y",
      // tie between en and fr through shared stopword-count
      "the la", "de", "DE la THE and", "a.b,c;d:e!f?g",
      "ALLCAPS SHOUTING TEXT!!!", "àÀßÿþ der die das", "x" * 9000,
      ("word " * 20).trim, "énorme À LA une pour dans qui",
      "the the the the and and of of", "...,,,;;;:::!!!???",
      "tİtle ı straße", // Turkish dotted I, dotless i, sharp s
      "emoji 😀 and the of to in is", "tab\tsep\ttokens the and of",
      "der-die-das_und", "the9and0of", "12345 67890 the and of to is"))
  }

  test("corpus parity at sf0.001") {
    val texts = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq
    paritySweep(texts)
  }

  test("fuzzed strings") {
    val rnd = new scala.util.Random(42)
    val alphabets = Seq(
      "abcdefghijklmnopqrstuvwxyz ABCDEFGHIJKLMNOPQRSTUVWXYZ .,;:!?\t\n",
      "the and of to in is that la le les der die das el los ",
      "àâäèéêëîïôöùûüÿÀÂÄÈÉÊËÎÏÔÖÙÛÜß abz ",
      "  　 ab 12")
    val texts = (1 to 400).map { i =>
      val a = alphabets(i % alphabets.length)
      val len = rnd.nextInt(120)
      (0 until len).map(_ => a.charAt(rnd.nextInt(a.length))).mkString
    }
    paritySweep(texts)
  }
}
