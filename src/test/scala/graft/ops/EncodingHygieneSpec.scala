package graft.ops

import graft.SparkTestBase
import graft.functions.NfcNormalize
import org.apache.spark.sql.functions._

/** All non-ASCII fixture characters are constructed from code points so no
  * editor / tooling normalization can silently change what the test feeds
  * the engine (a raw decomposed literal is one save-hook away from being
  * composed).
  */
class EncodingHygieneSpec extends SparkTestBase {

  private def cp(c: Int): String = new String(Character.toChars(c))

  private val Acute = cp(0x0301)     // combining acute
  private val Ring = cp(0x030A)      // combining ring above
  private val Overline = cp(0x0305)  // combining overline: never composes
  private val EAcute = cp(0x00E9)    // precomposed e-acute
  private val ARing = cp(0x00C5)     // precomposed A-ring
  private val Fffd = cp(0xFFFD)      // replacement char
  private val Emoji = cp(0x1F600)    // astral-plane grinning face

  test("nfc: composes decomposed sequences, matches java.text.Normalizer, leaves NFC text unchanged") {
    val session = spark
    import session.implicits._
    val decomposed = s"cafe$Acute A$Ring"
    val noCompose = s"a$Overline"
    val texts = Seq(decomposed, noCompose, "plain ascii", s"de${Acute}ja vu")
    val got = texts.toDF("t")
      .select(col("t"), NfcNormalize.nfcNormalize(col("t")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    texts.foreach { t =>
      val exp = java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
      assert(got(t) == exp, s"input codepoints ${t.codePoints.toArray.toSeq}")
    }
    assert(got(decomposed) == s"caf$EAcute $ARing")
    assert(got(decomposed).length == decomposed.length - 2)
    assert(got(noCompose) == noCompose)
  }

  test("nfc: astral-plane characters survive (no surrogate splitting)") {
    val session = spark
    import session.implicits._
    val text = s"ok $Emoji e${Acute}nd"
    val out = Seq(text).toDF("t")
      .select(NfcNormalize.nfcNormalize(col("t"))).collect()(0).getString(0)
    assert(out == s"ok $Emoji ${EAcute}nd", out.codePoints.toArray.toSeq.toString)
  }

  test("nfc: null-safe and codegen (no CodegenFallback in the projection)") {
    val session = spark
    import session.implicits._
    val df = Seq(Some(EAcute), None).toDF("t")
      .select(NfcNormalize.nfcNormalize(col("t")).as("n"))
    val rows = df.collect()
    assert(rows(0).getString(0) == EAcute && rows(1).isNullAt(0))
    assert(!df.queryExecution.executedPlan.toString.contains("Fallback"),
      df.queryExecution.executedPlan.toString)
  }

  test("stripMarkup: tags removed, entities decoded once, inequalities untouched") {
    val session = spark
    import session.implicits._
    val cases = Seq(
      ("""<p class="x">hi <b>there</b></p>""", "hi there"),
      ("a < b and c<d stay", "a < b and c<d stay"), // no tag head char
      ("1 &lt; 2 &amp; 3 &gt; 2", "1 < 2 & 3 > 2"),
      ("&amp;lt; is the TEXT &lt;", "&lt; is the TEXT <"), // one decode level
      ("<!DOCTYPE html><br/>x", "x"),
      ("say &quot;hi&quot; to &#39;em", "say \"hi\" to 'em"))
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.stripMarkup(col("t"))).collect().map(_.getString(0))
    cases.zip(got).foreach { case ((in, exp), g) =>
      assert(g == exp, s"input [$in]: got [$g] want [$exp]")
    }
    // 4 real tags (<a>, </a>, <em>, </em>); the bare "< 5" must not count
    val n = Seq("<a href=\"u\">x</a> < 5 <em>y</em>").toDF("t")
      .select(TextAnalysis.markupTagCount(col("t"))).collect()(0).getInt(0)
    assert(n == 4, s"n_tags=$n")
  }

  test("decodeEntitiesExtended: named table, numeric dec/hex, non-recursion, passthrough of junk") {
    val session = spark
    import session.implicits._
    def cp(i: Int) = new String(Character.toChars(i))
    val cases = Seq(
      // named: typography + symbols + Latin-1 letters
      ("A&mdash;B&hellip;C", "A" + cp(0x2014) + "B" + cp(0x2026) + "C"),
      ("caf&eacute; &copy;2026 &frac12;", "caf" + cp(0xE9) + " " + cp(0xA9) + "2026 " + cp(0xBD)),
      ("a&nbsp;b", "a" + cp(0xA0) + "b"),
      // numeric decimal, hex (upper/lower x and digits), astral plane
      ("&#65;&#x42;&#X63;", "ABc"),
      ("&#x1F600;", cp(0x1F600)),
      // NON-recursive single pass: double-escapes decode one level
      ("&amp;lt; stays", "&lt; stays"),
      ("&amp;#52; stays", "&#52; stays"),
      // junk passes through byte-for-byte
      ("&unknown; &#xD800; &#55296; &#8; & &; &#; x &waytoolong12345;",
        "&unknown; &#xD800; &#55296; &#8; & &; &#; x &waytoolong12345;"),
      // every occurrence decodes, not just the first
      ("&lt;&lt;&gt;&gt;", "<<>>"),
      ("no entities at all", "no entities at all"))
    val df = cases.map(_._1).toDF("t")
      .select(TextAnalysis.decodeEntitiesExtended(col("t")).as("d"))
    val got = df.collect().map(_.getString(0))
    cases.zip(got).foreach { case ((in, exp), g) =>
      assert(g == exp, s"input [$in]: got [$g] want [$exp]")
    }
    // null-safe + codegen (no CodegenFallback)
    val n = Seq(Option.empty[String]).toDF("t")
      .select(TextAnalysis.decodeEntitiesExtended(col("t")).as("d")).collect()
    assert(n(0).isNullAt(0))
    assert(!df.queryExecution.executedPlan.toString.contains("Fallback"),
      df.queryExecution.executedPlan.toString)
  }

  test("charHist: exact counts, sorted-histogram digest, entropy vs a driver reference") {
    val session = spark
    import session.implicits._
    def cp(i: Int) = new String(Character.toChars(i))
    val astral = cp(0x1F600)
    val rows = Seq("aab", "aaaa", "ab" + astral + astral + "b", "")
      .toDF("t").select(TextAnalysis.charHist(col("t")).as("h"))
      .select(col("h.n_chars"), col("h.n_distinct"), col("h.top_count"),
        col("h.hist_md5"), col("h.entropy"))
    val got = rows.collect()
    // "aab": histogram a:2,b:1 — md5 of "97:2,98:1"
    assert(got(0).getLong(0) == 3L && got(0).getLong(1) == 2L && got(0).getLong(2) == 2L)
    def ref(pairs: (Int, Long)*): String = {
      val s = pairs.sortBy(_._1).map(p => s"${p._1}:${p._2}").mkString(",")
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    }
    assert(got(0).getString(3) == ref(97 -> 2L, 98 -> 1L))
    val h3 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) / math.log(2)
    assert(math.abs(got(0).getDouble(4) - h3) < 1e-12, got(0).getDouble(4).toString)
    // uniform single char: entropy exactly 0
    assert(got(1).getLong(1) == 1L && got(1).getDouble(4) == 0.0)
    // astral chars count as ONE code point each (never split surrogates)
    assert(got(2).getLong(0) == 5L && got(2).getLong(1) == 3L)
    assert(got(2).getString(3) == ref(97 -> 1L, 98 -> 2L, 0x1F600 -> 2L))
    // empty text: zeros, entropy 0, digest of the empty histogram string
    assert(got(3).getLong(0) == 0L && got(3).getDouble(4) == 0.0)
    // null-safe + codegen
    val n = Seq(Option.empty[String]).toDF("t")
      .select(TextAnalysis.charHist(col("t")).as("h")).collect()
    assert(n(0).isNullAt(0))
    assert(!rows.queryExecution.executedPlan.toString.contains("Fallback"))
  }

  test("scriptCounts + dominantScript: per-script exact counts, flood flips dominance, ties break latin-first") {
    val session = spark
    import session.implicits._
    def cp(i: Int) = new String(Character.toChars(i))
    val cyr = cp(0x430) // а
    val han = cp(0x4E00)
    val cases = Seq(
      "plain latin words 123",
      "mix " + cyr * 10,          // latin 3 < cyrillic 10
      cyr * 4 + han * 4,          // tie cyr/han → cyrillic (Scripts order)
      "abc" + cyr * 3,            // tie latin/cyr → latin first
      "12345 .,!?")               // no script chars at all
    val got = cases.toDF("t").select(
        TextAnalysis.scriptCounts(col("t")).as("sc"),
        TextAnalysis.dominantScript(col("t")).as("d"))
      .select(col("sc.n_latin"), col("sc.n_cyrillic"), col("sc.n_han"),
        col("sc.n_digit"), col("sc.n_total"), col("d")).collect()
    assert(got(0).getLong(0) == 15L && got(0).getLong(3) == 3L &&
      got(0).getString(5) == "latin")
    assert(got(1).getLong(1) == 10L && got(1).getString(5) == "cyrillic")
    assert(got(2).getLong(1) == 4L && got(2).getLong(2) == 4L &&
      got(2).getString(5) == "cyrillic")
    assert(got(3).getString(5) == "latin")
    assert(got(4).getString(5) == "none" && got(4).getLong(4) == 10L)
  }

  test("readability: vowel groups, words, sentences on hand-counted prose") {
    val session = spark
    import session.implicits._
    // "The cat sat. It purred!" -> words 5, sentences 2,
    // vowel groups: e, a, a, i, u, e (y in no run here) = 6
    val df = Seq("The cat sat. It purred!", "").toDF("t")
      .select(TextAnalysis.tokenCount(col("t")).as("w"),
        size(TextAnalysis.sentenceArray(col("t"))).as("s"),
        TextAnalysis.vowelGroupCount(col("t")).as("v"))
    val rows = df.collect()
    assert((rows(0).getInt(0), rows(0).getInt(1), rows(0).getInt(2)) == ((5, 2, 6)),
      rows(0).toString)
  }

  test("nfc: non-string input rejected at analysis time, not with a runtime ClassCastException") {
    val session = spark
    import session.implicits._
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("n").select(NfcNormalize.nfcNormalize(col("n"))).collect()
    }
    assert(e.getMessage.contains("nfc_normalize"), e.getMessage)
  }

  test("badCharCount + stripControlChars: exact over seeded damage; tab/LF/CR preserved") {
    val session = spark
    import session.implicits._
    // damage: NUL, BS, VT, DEL, U+FFFD (5 hits); tab/LF/CR must survive
    val dirty = s"a${cp(0x00)}b${cp(0x08)}c${cp(0x0B)}d${cp(0x7F)}e${Fffd}f\tg\nh\ri"
    val got = Seq(dirty).toDF("t")
      .select(TextAnalysis.badCharCount(col("t")).as("n"),
        TextAnalysis.stripControlChars(col("t")).as("s"))
      .collect()(0)
    assert(got.getInt(0) == 5, s"n_bad=${got.getInt(0)}")
    assert(got.getString(1) == "abcdef\tg\nh\ri", got.getString(1))
  }
}
