package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Adversarial-input robustness for the native parsers and bounded
  * aggregates — a validation engine's binary walkers run over UNTRUSTED
  * crawl bytes, so "never throws, nulls the garbage" is part of their
  * contract, not just the happy path the format oracles pin. Generator
  * style per CurationPropertySpec (scalacheck Gen driven directly).
  */
class FuzzRobustnessSpec extends SparkTestBase {

  private def genCases[A](g: Gen[A], n: Int, seed: Long = 600L): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed + i)))

  private val ftyp16 = "00000010" + "66747970" + "69736F6D" + "00000000"
  private val mvhdTail = "00000074" + "6D6F6F76" + "0000006C" + "6D766864" +
    "00" + "000000" + "00000000" + "00000000" + "000003E8" + "00002710"
  private val jpegHdr = "FFD8FF" + "E000104A46494600" + "0" * 18 + // APP0
    "FFC0" + "0011" + "08" + "0100" + "0200" + "0" * 20 // SOF0 256x512-ish

  test("binary walkers: random bytes, truncations, and bit flips never throw; garbage nulls") {
    val session = spark
    import session.implicits._
    val hexChar = Gen.oneOf("0123456789ABCDEF".toSeq)
    val randHex = Gen.chooseNum(0, 60)
      .flatMap(n => Gen.listOfN(n * 2, hexChar).map(_.mkString))
    val valid = Gen.oneOf(ftyp16 + mvhdTail, jpegHdr)
    val truncated = for {
      v <- valid; cut <- Gen.chooseNum(0, v.length / 2)
    } yield v.dropRight(cut * 2)
    val flipped = for {
      v <- valid
      pos <- Gen.chooseNum(0, v.length - 1)
      c <- hexChar
    } yield v.updated(pos, c)
    val payloads = genCases(Gen.oneOf(randHex, truncated, flipped), 600)
      .filter(_.length % 2 == 0)
    // one batched evaluation of EVERY walker over every payload — an
    // exception anywhere fails the job
    val rows = payloads.toDF("hx").select(unhex(col("hx")).as("b"))
      .select(
        Multimodal.sniffFormat(col("b")).as("fmt"),
        Multimodal.imageDims(col("b")).as("dims"),
        Multimodal.mp4Meta(col("b")).as("mp4"),
        Multimodal.mp3Meta(col("b")).as("mp3"),
        Multimodal.wavSampleRate(col("b")).as("wav"))
      .collect()
    assert(rows.length == payloads.length)
    // parsed values, when present, are sane (never negative/garbage)
    rows.foreach { r =>
      if (!r.isNullAt(1)) {
        val d = r.getStruct(1)
        if (!d.isNullAt(0)) assert(d.getLong(0) >= 0 && d.getLong(0) <= 0xFFFFFFFFL)
      }
      if (!r.isNullAt(2)) {
        val m = r.getStruct(2)
        assert(m.getLong(1) >= 0, s"negative timescale from $r")
      }
      if (!r.isNullAt(4)) assert(r.getLong(4) >= 0)
    }
    // the untouched valid payloads still parse (the fuzz must not pass
    // vacuously because everything nulls)
    val ok = Seq(ftyp16 + mvhdTail, jpegHdr).toDF("hx")
      .select(unhex(col("hx")).as("b"))
      .select(Multimodal.mp4Meta(col("b")).as("mp4"),
        Multimodal.imageDims(col("b")).as("dims")).collect()
    assert(!ok(0).isNullAt(0) && ok(0).getStruct(0).getLong(1) == 1000L)
    assert(!ok(1).isNullAt(1) && ok(1).getStruct(1).getLong(0) == 512L)
  }

  test("Mp4Meta: crafted largesize near 2^63 cannot wrap the offset negative (r6 ADVICE)") {
    val session = spark
    import session.implicits._
    // ftyp, then a size==1 box whose largesize is 2^63-16: `off += hop`
    // used to wrap negative, bypass the `off + 8 > len` guard, and index
    // the array at a negative position after toInt. Also plant the same
    // shape as a moov CHILD for the second walk, and a largesize chosen so
    // two hops land exactly at Long.MinValue.
    val evil1 = ftyp16 + "00000001" + "66726565" + "7FFFFFFFFFFFFFF0" + "00" * 24
    val evil2 = ftyp16 + "00000018" + "6D6F6F76" + // moov size 24
      "00000001" + "66726565" + "7FFFFFFFFFFFFFF0" + "00" * 8 // evil child
    val evil3 = ftyp16 + "00000001" + "66726565" + "4000000000000000" +
      "00000001" + "66726565" + "4000000000000000" + "00" * 16
    val rows = Seq(evil1, evil2, evil3).toDF("hx")
      .select(Multimodal.mp4Meta(unhex(col("hx"))).as("m")).collect()
    rows.foreach(r => assert(r.isNullAt(0), s"adversarial payload parsed: $r"))
  }

  test("TopK.topKByScore: NaN scores never occupy a slot and never perturb the result") {
    val session = spark
    import session.implicits._
    // NaN rows FIRST in arrival order: a heap that admitted them while
    // under k and never displaced them (`>` vs NaN is always false) would
    // steal top-k slots arrival-order-dependently.
    val rows = Seq.tabulate(5)(i => (0, 1000L + i, Double.NaN)) ++
      Seq.tabulate(20)(i => (0, i.toLong, i.toDouble))
    val got = rows.toDF("g", "id", "s").repartition(1) // arrival order preserved
      .groupBy("g")
      .agg(graft.functions.TopK.topKByScore(col("s"), col("id"), 6).as("t"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](1)
      .map(x => (x.getLong(0), x.getDouble(1)))
    assert(got == Seq.tabulate(20)(i => (i.toLong, i.toDouble))
      .sortBy { case (id, s) => (-s, id) }.take(6), got.toString)
    assert(!got.exists(p => p._2.isNaN))
  }

  test("DecodeEntities: numeric references are digits-only — leading '+' passes through (r6 ADVICE)") {
    val session = spark
    import session.implicits._
    val cases = Seq(
      "&#+65;" -> "&#+65;",   // '+' accepted by parseInt but not by HTML
      "&#x+41;" -> "&#x+41;", // same in hex
      "&#-65;" -> "&#-65;",
      "&# 65;" -> "&# 65;",
      "&#65;" -> "A",         // the honest decode still works
      "&#x41;" -> "A",
      "&#X41;" -> "A")
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.decodeEntitiesExtended(col("t"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (exp, g) => assert(g == exp, s"got [$g] want [$exp]") }
  }

  test("DecodeEntities: never throws on entity soup; '&'-free identity; never grows the string") {
    val session = spark
    import session.implicits._
    val soupChar = Gen.frequency(
      6 -> Gen.alphaNumChar, 3 -> Gen.oneOf('&', ';', '#'),
      1 -> Gen.oneOf('x', '<', '>', ' '))
    val soup = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, soupChar).map(_.mkString))
    val cases = genCases(soup, 800)
    val got = cases.toDF("t")
      .select(col("t"), TextAnalysis.decodeEntitiesExtended(col("t")).as("d"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    got.foreach { case (in, out) =>
      // every named/numeric decode replaces >= 4 chars with <= 2 UTF-16
      // units, so output never exceeds input
      assert(out.length <= in.length, s"[$in] grew to [$out]")
      if (!in.contains('&')) assert(out == in, s"'&'-free [$in] changed to [$out]")
    }
  }

  test("CharHist: structural invariants over random unicode strings") {
    val session = spark
    import session.implicits._
    // code-point constructed (raw non-ASCII literals are fragile in this
    // toolchain): é, б, a CJK char, space, and a LONE HIGH SURROGATE —
    // the last must not crash the code-point walk
    val anyChar = Gen.frequency(
      5 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(0xE9.toChar, 0x431.toChar, 0x4E8C.toChar, ' '),
      1 -> Gen.const(0xD83D.toChar))
    val strs = genCases(
      Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, anyChar).map(_.mkString)), 500)
    val got = strs.toDF("t").select(col("t"),
        TextAnalysis.charHist(col("t")).as("h"))
      .select(col("t"), col("h.n_chars"), col("h.n_distinct"),
        col("h.top_count"), col("h.entropy")).collect()
    got.foreach { r =>
      val (s, n, d, top, ent) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(n == s.codePointCount(0, s.length).toLong, s"n_chars for [$s]")
      assert(d <= n && top <= n)
      assert(ent >= -1e-12, s"negative entropy for [$s]")
      if (d > 0) assert(ent <= math.log(d.toDouble) / math.log(2.0) + 1e-9,
        s"entropy above log2(distinct) for [$s]")
    }
  }

  // ------------------------------------------------------------------
  // string-parser surface (round-6 verdict item 6): the URL/entity/markup
  // parsers run over untrusted crawl text — never throw, stay idempotent
  // where the contract says so, and degrade deterministically on inputs
  // they don't model (userinfo, IPv6) rather than crashing
  // ------------------------------------------------------------------

  test("canonicalizeUrl: idempotent and total over adversarial URLs; host invariants hold") {
    val session = spark
    import session.implicits._
    val label = Gen.oneOf("example", "EXAMPLE", "Xn--Caf", "shop3", "bad-ads", "127", "a")
    val host = for {
      n <- Gen.chooseNum(1, 4)
      ls <- Gen.listOfN(n, label)
      dot <- Gen.oneOf("", ".", "..") // multi-dot: the r7 fuzz-found fix
    } yield ls.mkString(".") + dot
    val adversarial = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HtTpS")
      user <- Gen.oneOf("", "user@", "user:pass@", "a%40b@")
      h <- Gen.oneOf(host, Gen.oneOf("[::1]", "[2001:db8::1]", "", "..", "%65x.com"))
      port <- Gen.oneOf("", ":80", ":443", ":8080", ":0", ":pass", ":")
      path <- Gen.oneOf("", "/", "/A/b%20c", "/x?q=1&r=2", "/x?q=?", "/x#f", "#f", "/#", "??", "/x;y=1")
    } yield s"$scheme://$user$h$port$path"
    val urls = genCases(adversarial, 700)
    val got = urls.toDF("u").select(
        col("u"),
        UrlOps.canonicalizeUrl(col("u")).as("c1"),
        UrlOps.canonicalizeUrl(UrlOps.canonicalizeUrl(col("u"))).as("c2"),
        UrlOps.hostOf(col("u")).as("h"))
      .collect()
    got.foreach { r =>
      val (u, c1, c2, h) = (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
      assert(c1 == c2, s"canon not idempotent: [$u] -> [$c1] -> [$c2]")
      assert(!c1.contains("#"), s"fragment survived canon: [$u] -> [$c1]")
      // only the scheme's OWN default drops: :443 on http is non-default
      val defPort = if (c1.startsWith("https://")) ":443" else ":80"
      assert(!c1.endsWith(defPort), s"default port survived: [$u] -> [$c1]")
      assert(h == h.toLowerCase && !h.endsWith(".") && !h.exists(_.isWhitespace),
        s"host invariant broke: [$u] -> [$h]")
    }
  }

  test("registrableDomain: dot-boundary suffix of its host, <= 3 labels, idempotent") {
    val session = spark
    import session.implicits._
    val label = Gen.oneOf("news", "bbc", "spam", "x", "co", "uk", "com", "gov", "ac")
    val hosts = genCases(for {
      n <- Gen.chooseNum(1, 5)
      ls <- Gen.listOfN(n, label)
    } yield ls.mkString("."), 600)
    val got = hosts.toDF("h").select(col("h"),
        UrlOps.registrableDomain(col("h")).as("d"),
        UrlOps.registrableDomain(UrlOps.registrableDomain(col("h"))).as("dd"))
      .collect()
    got.foreach { r =>
      val (h, d, dd) = (r.getString(0), r.getString(1), r.getString(2))
      assert(h == d || h.endsWith("." + d), s"not a dot-boundary suffix: [$h] -> [$d]")
      assert(d.split("\\.", -1).length <= 3, s"too many labels: [$h] -> [$d]")
      assert(d == dd, s"not idempotent: [$h] -> [$d] -> [$dd]")
    }
    // the PSL pivot itself: 3 labels under a two-part suffix, 2 otherwise
    val pivots = Seq("news.bbc.co.uk" -> "bbc.co.uk", "a.b.example.com" -> "example.com",
      "co.uk" -> "co.uk", "x.co" -> "x.co").toDF("h", "exp")
      .select(col("exp"), UrlOps.registrableDomain(col("h")).as("d")).collect()
    pivots.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("extractUrls: total over URL soup; every match is schemeful, whitespace-free, in-text") {
    val session = spark
    import session.implicits._
    val soup = genCases(for {
      n <- Gen.chooseNum(0, 6)
      parts <- Gen.listOfN(n, Gen.oneOf(
        "see http://a.com.", "(https://b.co.uk/x)", "https://", "http:/x",
        "text", "https://c.com/p?q=1!", "HTTPS://D.COM", "x http://e.com,y",
        "http://f.com/" + "a" * 50, "<https://g.com>"))
    } yield parts.mkString(" "), 500)
    val got = soup.toDF("t")
      .select(col("t"), UrlOps.extractUrls(col("t")).as("us")).collect()
    got.foreach { r =>
      val (t, us) = (r.getString(0), r.getSeq[String](1))
      us.foreach { u =>
        assert(t.contains(u), s"extracted [$u] not a substring of [$t]")
        assert(u.toLowerCase.startsWith("http"), s"schemeless extract [$u]")
        assert(!u.exists(_.isWhitespace) && !".,;:!?)]".contains(u.last),
          s"boundary leak [$u]")
      }
    }
  }

  test("DecodeEntities: strictly ONE layer — double-escaped entities decode to the inner escape") {
    val session = spark
    import session.implicits._
    val cases = Seq(
      "&amp;lt;" -> "&lt;",     // NOT "<": non-recursive by contract
      "&amp;amp;" -> "&amp;",
      "&amp;#65;" -> "&#65;",
      "&amp;&lt;" -> "&<",      // distinct entities each decode once
      "&lt;&amp;gt;" -> "<&gt;")
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.decodeEntitiesExtended(col("t"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (exp, g) => assert(g == exp, s"[$g] != [$exp]") }
  }

  test("stripMarkup: total on pathological nesting; no complete tag survives; whitespace collapsed") {
    val session = spark
    import session.implicits._
    val cases = Seq(
      "<div>" * 2000 + "deep" + "</div>" * 2000,
      "<" * 500 + "lonely",
      "a < b > c <i>keep</i>",
      "<!-- <b>comment</b> --> after",
      "<a href='x>y'>link</a>",
      "<<<>>>",
      "<p>&amp;lt;still&amp;gt;</p>",
      ("<script>if (a<b && c>d) {}</script>" * 100))
    val got = cases.toDF("t")
      .select(TextAnalysis.stripMarkup(col("t"))).collect().map(_.getString(0))
    got.foreach { s =>
      assert(java.util.regex.Pattern.compile(TextAnalysis.MarkupTagRx).matcher(s).find() == false,
        s"complete tag survived: [$s]")
      assert(!s.contains("  ") && s == s.trim, s"whitespace not collapsed: [$s]")
    }
    assert(got(2) == "a < b > c keep") // bare angle prose survives
    assert(got(6) == "&lt;still&gt;")  // amp-last chain: one decode layer
  }

  test("TopK.kSmallest: equals sorted.take(k) per group over random multisets and partitionings") {
    val session = spark
    import session.implicits._
    val rows = genCases(for {
      g <- Gen.chooseNum(0, 5)
      v <- Gen.chooseNum(-1000L, 1000L)
    } yield (g, v), 900)
    val got = rows.toDF("g", "v").repartition(17)
      .groupBy("g")
      .agg(graft.functions.TopK.kSmallest(col("v"), 7).as("ks"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    rows.groupBy(_._1).foreach { case (g, vs) =>
      val exp = vs.map(_._2).sorted.take(7)
      assert(got(g) == exp, s"group $g: ${got(g)} != $exp")
    }
  }

  test("TopK.topKByScore: equals the (score desc, id asc) window top-k per group over random data") {
    val session = spark
    import session.implicits._
    val rows = genCases(for {
      g <- Gen.chooseNum(0, 4)
      id <- Gen.chooseNum(0L, 500L)
      s <- Gen.oneOf(Gen.chooseNum(-5.0, 5.0), Gen.oneOf(1.0, 2.0)) // ties!
    } yield (g, id, s), 800).distinct
    val got = rows.toDF("g", "id", "s").repartition(13)
      .groupBy("g")
      .agg(graft.functions.TopK.topKByScore(col("s"), col("id"), 6).as("t"))
      .collect().map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getDouble(1)))).toMap
    rows.groupBy(_._1).foreach { case (g, vs) =>
      val exp = vs.map(v => (v._2, v._3)).distinct
        .sortBy { case (id, s) => (-s, id) }.take(6)
      assert(got(g) == exp, s"group $g: ${got(g)} != $exp")
    }
  }

  test("TopK.topKByScore: signed zeros, NaN and NULL rows match the (score desc, id) window top-k") {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.expressions.Window
    // zeros dominate so the k-th slot usually falls among -0.0/0.0 ties,
    // which a `score DESC, id` sort breaks on id alone
    val rows = genCases(for {
      g <- Gen.chooseNum(0, 4)
      id <- Gen.frequency(9 -> Gen.chooseNum(0L, 300L).map(Option(_)), 1 -> Gen.const(None))
      s <- Gen.frequency(
        4 -> Gen.const(Some(-0.0)), 4 -> Gen.const(Some(0.0)),
        1 -> Gen.const(Some(Double.NaN)), 1 -> Gen.const(None),
        1 -> Gen.chooseNum(-3.0, 3.0).map(Option(_)))
    } yield (g, id, s), 400)
    val df = rows.toDF("g", "id", "s").repartition(7)
    val got = df.groupBy("g")
      .agg(graft.functions.TopK.topKByScore(col("s"), col("id"), 6).as("t"))
      .collect().map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getDouble(1)))).toMap
    val exp = df.filter(col("id").isNotNull && col("s").isNotNull && !isnan(col("s")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("g").orderBy(col("s").desc, col("id"))))
      .filter(col("rk") <= 6).orderBy("g", "rk").collect()
      .groupBy(_.getInt(0)).map { case (g, rs) =>
        g -> rs.toSeq.map(r => (r.getLong(1), r.getDouble(2))) }
    assert(got.keySet == exp.keySet, s"groups ${got.keySet} != ${exp.keySet}")
    // not vacuous: some group ranks a -0.0 row above a 0.0 row (smaller id)
    def negZero(s: Double) = s == 0.0 && 1.0 / s < 0
    assert(exp.values.exists { e =>
      val n = e.indexWhere(p => negZero(p._2))
      n >= 0 && e.drop(n).exists(p => p._2 == 0.0 && !negZero(p._2))
    }, s"no -0.0 ahead of 0.0 in $exp")
    exp.foreach { case (g, e) => assert(got(g) == e, s"group $g: ${got(g)} != $e") }
  }

  test("weightedTopKPerStratum: agg path equals the window-rank selection per stratum") {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = genCases(for {
      lang <- Gen.oneOf("en", "fr", "de")
      w <- Gen.chooseNum(1.0, 50.0)
    } yield (lang, w), 600).zipWithIndex
      .map { case ((l, w), i) => (i.toLong, l, w) }
      .toDF("doc_id", "lang", "w").repartition(9)
    val viaAgg = Sampling.weightedTopKPerStratum(docs, "doc_id", "w", "lang", 11)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val viaWin = docs.withColumn("k", Sampling.aresKey(col("doc_id"), col("w")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("k").desc, col("doc_id"))))
      .filter(col("rk") <= 11).select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaAgg == viaWin, s"agg=$viaAgg\nwin=$viaWin")
    // no window in the agg plan (the skew guarantee is structural)
    val plan = Sampling.weightedTopKPerStratum(docs, "doc_id", "w", "lang", 11)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window leaked:\n$plan")
    assert(plan.contains("collect_top_k"), plan)
  }

  test("freq_sketch: no-false-negatives guarantee holds over random skewed streams and partitionings") {
    val session = spark
    import session.implicits._
    import org.apache.datasketches.frequencies.ErrorType
    val maxMapSize = 8
    val items = genCases(Gen.frequency(
      5 -> Gen.const("heavy0"), 3 -> Gen.const("heavy1"),
      4 -> Gen.chooseNum(0, 400).map(i => s"tail$i")), 1200)
    val sk = graft.stats.FreqStats.sketchOf(items.toDF("term").repartition(11)
      .agg(graft.stats.FreqSketchAgg.freq_sketch(col("term"), maxMapSize))
      .collect()(0).getAs[Array[Byte]](0))
    assert(sk.getNumActiveItems <= maxMapSize * 3 / 4)
    val bound = sk.getMaximumError
    assert(bound > 0L, "the stream must overflow the counter map")
    val hh = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .map(r => r.getItem -> (r.getLowerBound, r.getUpperBound)).toMap
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    truth.filter(_._2 > bound).foreach { case (item, n) =>
      assert(hh.contains(item), s"$item (n=$n > bound=$bound) missing from $hh")
      val (lb, ub) = hh(item)
      assert(lb <= n && n <= ub && ub - lb <= bound,
        s"$item bounds [$lb, $ub] miss $n or exceed $bound")
    }
  }
}
