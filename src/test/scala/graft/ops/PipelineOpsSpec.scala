package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PipelineOpsSpec extends SparkTestBase {

  test("sessionize: gap threshold segments per key, micros precision") {
    val session = spark
    import session.implicits._
    // user 1: events at 0s, 10s, 2000s (gap>30min? no — use gapSec=60):
    // 0s,10s | 2000s ; user 2: single event
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:10")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:33:20")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 05:00:00"))
    ).toDF("user_id", "ts")
    val out = Sessions.sessionize(df, gapSec = 60L)
      .orderBy("user_id", "sid").collect()
    assert(out.length == 3)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 1L && out(0).getLong(4) == 2L)
    assert(out(1).getLong(0) == 1L && out(1).getLong(1) == 2L && out(1).getLong(4) == 1L)
    assert(out(2).getLong(0) == 2L && out(2).getLong(1) == 1L && out(2).getLong(4) == 1L)
    // a sub-gap burst 0.5s apart stays one session (micros, not seconds)
    val burst = Seq(
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00.2")),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00.7"))
    ).toDF("user_id", "ts")
    assert(Sessions.sessionize(burst, gapSec = 1L).count() == 1)
  }

  test("WordNgrams native expression ≡ the HOF Column formulation") {
    val session = spark
    import session.implicits._
    // the HOF reference semantics the native expression must match
    def hof(t: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
      val toks = split(t, "\\s+")
      val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
      array_distinct(transform(idx, i => array_join(slice(toks, i + 1, lit(n)), " ")))
    }
    val texts = Seq("a b c d e", " leading space", "trailing ", "", "one",
      "a a a a a a", "x  y\tz", "exactly four words here", "repeat repeat repeat")
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "t")
    for (n <- Seq(2, 3, 5, 13)) {
      val diff = df.select(
          graft.functions.WordNgrams.wordNgrams(col("t"), n).as("a"),
          hof(col("t"), n).as("b"))
        .filter(!(col("a") <=> col("b"))).count()
      assert(diff == 0, s"native vs HOF ngrams differ at n=$n")
    }
    // multiplicity twin: same grams without the distinct, order preserved
    def hofAll(t: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
      val toks = split(t, "\\s+")
      val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
      transform(idx, i => array_join(slice(toks, i + 1, lit(n)), " "))
    }
    for (n <- Seq(2, 3, 5)) {
      val diff = df.select(
          graft.functions.WordNgrams.allWordNgrams(col("t"), n).as("a"),
          hofAll(col("t"), n).as("b"))
        .filter(!(col("a") <=> col("b"))).count()
      assert(diff == 0, s"native vs HOF all-ngrams differ at n=$n")
    }
  }

  test("repetition signals: top-gram tie-break, duplicated-gram coverage") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      // "b c" ×2 beats "a b" ×1... both 2-grams with cnt 2: "b c" and "c b"?
      // b c b c b: grams = b c, c b, b c, c b → tie cnt=2; winner is the
      // lexicographically GREATEST gram "c b"
      (1L, "b c b c b"),
      (2L, "x y z"), // all grams unique → dup 0; top = greatest gram "y z"
      (3L, "one"), // shorter than n: whole sequence is the single gram
      (4L, "p q r p q r p q r")) // 3-gram "p q r" ×3... dup3 counts it
      .toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.repetitionSignals(docs)
      .collect().map(x => x.getLong(0) ->
        ((x.getString(2), x.getLong(3), x.getLong(4)))).toMap
    // doc 1 3-grams: "b c b" ×2, "c b c" ×1 → dup = 2 × 5 = 10
    assert(r(1L) == (("c b", 2 * 3, 10L)), r(1L).toString)
    assert(r(2L) == (("y z", 3, 0L)), r(2L).toString)
    assert(r(3L) == (("one", 3, 0L)), r(3L).toString)
    // doc 4: 2-grams p q(×3), q r(×3), r p(×2) → tie at 3, "q r" wins;
    // 3-grams: p q r ×3 (15 chars), q r p ×2 (10), r p q ×2 (10) → 35
    assert(r(4L) == (("q r", 3 * 3, 35L)), r(4L).toString)
  }

  test("decontamination: n-gram overlap flags exactly the leaky docs") {
    val session = spark
    import session.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words then the quick brown fox jumps over something"), // 5-gram overlap
      (2L, "a completely different sentence with no shared passages at all"),
      (3L, "fox jumps over the lazy end of this one")                     // 5-gram overlap
    ).toDF("doc_id", "text")
    val hits = Decontamination.contaminated(corpus, bench, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(1L, 3L), s"got $hits")
    assert(hits(1L) == 2L) // "the quick brown fox jumps", "quick brown fox jumps over"
    val kept = Decontamination.clean(corpus, bench, n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("fuzzy decontamination: near-dup benchmark matches flagged, verbatim-free dissimilar docs kept") {
    val session = spark
    import session.implicits._
    val base = "the quick brown fox jumps over the lazy dog and keeps on running through the quiet field tonight"
    val corpus = Seq(
      (1L, base),                                     // near-dup of bench 100
      (2L, "a completely different document about spark physical plans and shuffles with nothing shared"),
      (3L, base.replace("quick", "rapid")
        .replace("lazy", "idle").replace("field", "plain")
        .replace("fox", "cat").replace("dog", "hen")) // heavily edited → below 0.9
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "q " + base)).toDF("bench_id", "text")
    val pairs = Decontamination.nearDupContaminated(corpus, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 100L)), pairs.toSeq.toString)
    assert(pairs.head._3 >= 0.9 && pairs.head._3 < 1.0)
    val kept = Set(1L, 2L, 3L) -- pairs.map(_._1)
    assert(kept == Set(2L, 3L), s"got $kept")
    // the benchmark side broadcasts: the corpus must never shuffle for
    // the candidate join
    val plan = Decontamination.nearDupContaminated(corpus, bench)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark join not broadcast:\n$plan")
  }

  test("dedupSentencesInDoc: first occurrence kept in order; distinct sentences untouched") {
    val session = spark
    import session.implicits._
    val got = Seq(
      "Buy now! Great deal. Buy now! The end.",
      "One. Two. Three.",
      "Same. Same. Same.",
      "").toDF("t")
      .select(TextAnalysis.dedupSentencesInDoc(col("t")).as("d"))
      .collect().map(_.getString(0))
    assert(got(0) == "Buy now! Great deal. The end.")
    assert(got(1) == "One. Two. Three.")
    assert(got(2) == "Same.")
    assert(got(3) == "")
  }

  test("QualityClassifier.calibration: exact bin x label counts, negative scores floor correctly") {
    val session = spark
    import session.implicits._
    val scored = Seq((1L, 12L, true), (2L, 7L, true), (3L, -3L, false),
      (4L, -11L, false), (5L, 0L, true)).toDF("doc_id", "score", "lbl")
    val got = QualityClassifier.calibration(scored, col("lbl"), binWidth = 5L)
      .collect().map(r => (r.getLong(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    // floor semantics: 12→2, 7→1, 0→0, -3→-1, -11→-3
    assert(got == Map((2L, true) -> 1L, (1L, true) -> 1L, (0L, true) -> 1L,
      (-1L, false) -> 1L, (-3L, false) -> 1L), s"got $got")
  }

  test("md5 sampling: deterministic, engine-portable bucket fraction") {
    val session = spark
    import session.implicits._
    val df = (0L until 10000L).toDF("doc_id")
    val a = Sampling.md5Sample(df, "doc_id", 26).collect().map(_.getLong(0)).toSet
    val b = Sampling.md5Sample(df, "doc_id", 26).collect().map(_.getLong(0)).toSet
    assert(a == b) // pure function of the key
    assert(math.abs(a.size / 10000.0 - 26.0 / 256) < 0.02) // ≈10.2%
    // buckets nest: a smaller sample is a subset of a larger one
    val small = Sampling.md5Sample(df, "doc_id", 13).collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(a))
  }

  test("stratified md5 sampling: per-stratum fractions, nested, 256 = keep-all") {
    val session = spark
    import session.implicits._
    val df = (0L until 9000L).map(i => (i, Seq("en", "fr", "de")((i % 3).toInt)))
      .toDF("doc_id", "lang")
    val kept = Sampling.md5SampleStratified(df, "doc_id", "lang",
      Map("en" -> 128, "fr" -> 26), defaultBuckets256 = 0)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(kept("en") / 3000.0 - 0.5) < 0.04, kept.toString)
    assert(math.abs(kept.getOrElse("fr", 0L) / 3000.0 - 26.0 / 256) < 0.03, kept.toString)
    assert(!kept.contains("de")) // default 0 drops the stratum entirely
    // per-stratum samples nest within the flat sample, and 256 keeps all
    val flat = Sampling.md5Sample(df, "doc_id", 26).collect().map(_.getLong(0)).toSet
    val frIds = Sampling.md5SampleStratified(df, "doc_id", "lang",
      Map("fr" -> 26), 0).collect().map(_.getLong(0)).toSet
    assert(frIds.subsetOf(flat))
    assert(Sampling.md5SampleStratified(df, "doc_id", "lang",
      Map("en" -> 256), 256).count() == 9000L)
  }

  test("native CharNgrams ≡ the HOF formulation (repo convention for codegen exprs)") {
    val session = spark
    import session.implicits._
    // incl. an astral-plane char: windows advance by CODE POINT on both
    // sides (a UTF-16 implementation would emit half-surrogate grams)
    val df = Seq("hello world", "a", "", "  spaced   out  ", "ab", "a😀b")
      .toDF("t")
      .select(LmQuality.canonical(col("t")).as("c"))
    val hof = df.select(
      when(length(col("c")) >= 2,
        transform(sequence(lit(1), length(col("c")) - 1),
          i => col("c").substr(i, lit(2))))
        .otherwise(array().cast("array<string>")).as("g"))
      .collect().map(_.getSeq[String](0))
    val native = df.select(
      graft.functions.CharNgrams.charNgrams(col("c"), 2).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(native.toSeq == hof.toSeq, s"native=$native hof=$hof")
  }

  test("LM quality: exact smoothed bigram probs; reference-like text outranks gibberish") {
    val session = spark
    import session.implicits._
    // exact check: corpus "aab" → bigrams aa, ab; ctx 'a' total 2,
    // branches 2 → logp(aa) = logp(ab) = log(2/4)
    val tiny = LmQuality.train(Seq("aab").toDF("text"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(tiny.keySet == Set("aa", "ab"))
    assert(math.abs(tiny("aa") - math.log(0.5)) < 1e-12)
    // gram multiplicity matters: "aaab" has aa twice → p(aa|a) > p(ab|a)
    val m2 = LmQuality.train(Seq("aaab").toDF("text"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m2("aa") > m2("ab"))

    // behavioral: train on English-like prose, score prose vs gibberish
    val ref = Seq.tabulate(50)(i =>
      s"the quick brown fox jumps over the lazy dog number $i and then " +
        "returns home to rest with the other animals in the barn").toDF("text")
    val model = LmQuality.train(ref)
    val scored = LmQuality.score(Seq(
        (1L, "the brown dog rests in the barn with the fox"),
        (2L, "zq xj qzkxj wvq zzkq jqx vkzj qqq xjz")).toDF("doc_id", "text"),
      model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(1L) > scored(2L) + 1.0,
      s"prose ${scored(1L)} should clearly outrank gibberish ${scored(2L)}")
  }

  test("token chunking: stride windows with overlap, short tail, tiny docs") {
    val session = spark
    import session.implicits._
    def chunksOf(text: String, n: Int, ov: Int): Seq[String] =
      Seq(text).toDF("t")
        .select(explode(TextAnalysis.chunkTokens(col("t"), n, ov)).as("c"))
        .collect().map(_.getString(0)).toSeq
    // 10 tokens, n=4, overlap=1 → starts 1,4,7: full coverage, shared edges
    val t10 = (1 to 10).map(i => s"w$i").mkString(" ")
    assert(chunksOf(t10, 4, 1) == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    // 11 tokens → short tail chunk, no pure-overlap tail
    val t11 = (1 to 11).map(i => s"w$i").mkString(" ")
    assert(chunksOf(t11, 4, 1) == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10", "w10 w11"))
    // shorter than one window → the whole text as one chunk
    assert(chunksOf("a b c", 4, 1) == Seq("a b c"))
    // zero tokens → NO chunks (not one empty-string chunk)
    assert(chunksOf("", 4, 1).isEmpty)
    assert(chunksOf("   ", 4, 1).isEmpty)
    // every token appears in some chunk (coverage property)
    assert(chunksOf(t11, 4, 1).flatMap(_.split(" ")).toSet ==
      (1 to 11).map(i => s"w$i").toSet)
  }

  test("token chunking: parametric parity with a reference implementation") {
    val session = spark
    import session.implicits._
    // plain-Scala reference of the documented semantics
    def ref(tokens: Seq[String], n: Int, ov: Int): Seq[String] =
      if (tokens.isEmpty) Nil
      else (1 to math.max(tokens.size - ov, 1) by (n - ov))
        .map(s => tokens.slice(s - 1, s - 1 + n).mkString(" "))
    val cases = for {
      len <- Seq(0, 1, 2, 3, 7, 16, 31, 64)
      n <- Seq(1, 2, 4, 16)
      ov <- Seq(0, 1, n - 1) if ov >= 0 && ov < n
    } yield (len, n, ov)
    val inputs = cases.map { case (len, n, ov) =>
      ((1 to len).map(i => s"t$i").mkString(" "), n, ov)
    }
    inputs.groupBy(c => (c._2, c._3)).foreach { case ((n, ov), group) =>
      val got = group.map(_._1).toDF("t")
        .select(col("t"), TextAnalysis.chunkTokens(col("t"), n, ov).as("c"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
      group.foreach { case (text, _, _) =>
        val want = ref(text.split(" ").filter(_.nonEmpty).toSeq, n, ov)
        assert(got(text) == want, s"len=${text.split(" ").count(_.nonEmpty)} n=$n ov=$ov: ${got(text)} != $want")
      }
    }
  }

  test("token chunking: native expression ≡ the HOF formulation (repo convention)") {
    val session = spark
    import session.implicits._
    // mixed whitespace kinds, runs, leading/trailing, surrogate pairs, and
    // a non-break space (U+00A0 — NOT Java \s, must stay inside a token)
    val texts = Seq(
      "a\tb\nc\r\nd  ef\fg",
      "  leading and trailing   ",
      "emoji 😀😁 pair 😀mid😁token x",
      "nbsp a b stays one token",
      "single", "", " \t\n ", (1 to 40).map("w" + _).mkString(" "))
    for ((n, ov) <- Seq((4, 1), (3, 0), (5, 4), (1, 0))) {
      val both = texts.toDF("t").select(
          TextAnalysis.chunkTokens(col("t"), n, ov).as("native"),
          OpsHofOracle.chunkTokensHof(col("t"), n, ov).as("hof"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n ov=$ov: native ${r.getSeq[String](0)} != hof ${r.getSeq[String](1)}")
      }
    }
  }

  test("PII redaction scrubs emails, IPs, and +phones; leaves prose intact") {
    val session = spark
    import session.implicits._
    val rows = Seq(
      "write to jane.doe+spam@mail.example.org today",
      "server at 10.0.255.7 rebooted, call +44 (0)20 7946-0958 now",
      "no identifiers here, just 1234 plain digits and v1.2 notation")
      .toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("r"))
      .collect().map(_.getString(0))
    assert(rows(0) == "write to <EMAIL> today", rows(0))
    assert(rows(1) == "server at <IP> rebooted, call <PHONE> now", rows(1))
    // plain digit runs and version-ish dots survive (phone needs `+`, IP
    // needs a dotted QUAD)
    assert(rows(2) == "no identifiers here, just 1234 plain digits and v1.2 notation", rows(2))
  }

  test("distinct-word ratio: repetition scores low, diverse text scores 1") {
    val session = spark
    import session.implicits._
    val r = Seq("spam spam spam spam", "all words here are different", "", "   ")
      .toDF("text")
      .select(TextAnalysis.distinctWordRatioE6(col("text")).as("r"))
      .collect().map(_.getLong(0))
    assert(r(0) == 250000L) // 1 distinct / 4 words
    assert(r(1) == 1000000L)
    assert(r(2) == 1000000L && r(3) == 1000000L) // empty-text guard
  }

  test("weighted sampling (A-ES): deterministic, weight-proportional inclusion") {
    val session = spark
    import session.implicits._
    // 2000 light (w=1) + 200 heavy (w=50) ids: heavy mass = 10000 vs 2000,
    // so a k=300 sample should be dominated by heavy ids
    val df = ((0L until 2000L).map(i => (i, 1.0)) ++
      (10000L until 10200L).map(i => (i, 50.0))).toDF("doc_id", "w")
    val a = Sampling.weightedTopK(df, "doc_id", "w", 300)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.weightedTopK(df, "doc_id", "w", 300)
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.size == 300) // pure function of (key, weight)
    val heavy = a.count(_ >= 10000L)
    // E[heavy kept] ≈ 200·(1 - (1-10000/12000)^?) — loosely: nearly all 200
    // heavy ids survive, light ids fill the rest
    assert(heavy > 180, s"heavy=$heavy")
    // equal weights degrade to the uniform md5 sample ordering
    val uni = df.withColumn("w", lit(1.0))
    val k1 = Sampling.weightedTopK(uni, "doc_id", "w", 50).collect().map(_.getLong(0)).toSet
    val k2 = Sampling.weightedTopK(uni, "doc_id", "w", 100).collect().map(_.getLong(0)).toSet
    assert(k1.subsetOf(k2)) // top-k nests in top-2k
    // zero/negative weights are a caller error worth surfacing early
    val keys = df.select(Sampling.aresKey(col("doc_id"), col("w")).as("k"))
      .collect().map(_.getDouble(0))
    assert(keys.forall(k => k > 0.0 && k < 1.0))
    // weight = 0 (u^Inf = 0) and weight < 0 (u^neg > 1, outranks every
    // valid row) must get a NULL key and never enter the sample
    val bad = ((0L until 10L).map(i => (i, 1.0)) ++
      Seq((100L, 0.0), (101L, -2.0))).toDF("doc_id", "w")
    val badKeys = bad.select(col("doc_id"),
      Sampling.aresKey(col("doc_id"), col("w")).as("k")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(badKeys(100L).isEmpty && badKeys(101L).isEmpty)
    val kept = Sampling.weightedTopK(bad, "doc_id", "w", 12)
      .collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 10L).toSet, s"bad-weight rows leaked: $kept")
  }

  test("shardFillReport: exact rollup of the packing, signed overflow") {
    val session = spark
    import session.implicits._
    val docs = (0L until 200L).map(i => (i, ("tok " * ((i % 17) + 1).toInt).trim))
      .toDF("doc_id", "text")
    val packed = Sampling.packIntoShards(docs, tokensPerShard = 40L, nBuckets = 4)
    val ref = packed.collect()
      .map(r => (r.getLong(1), r.getLong(3)) -> r.getLong(2)).toSeq
      .groupBy(_._1).map { case (k, vs) =>
        k -> ((vs.size.toLong, vs.map(_._2).sum, vs.map(_._2).sum - 40L)) }
    val got = Sampling.shardFillReport(packed, 40L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == ref, s"got $got\nref $ref")
    assert(got.values.map(_._1).sum == 200L) // every doc accounted for
  }

  test("packIntoShards: start-offset shard assignment vs an independent per-bucket reference") {
    val session = spark
    import session.implicits._
    val docs = (0L until 200L).map(i => (i, ("tok " * ((i % 17) + 1).toInt).trim))
      .toDF("doc_id", "text")
    val got = Sampling.packIntoShards(docs, tokensPerShard = 40L, nBuckets = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // reference: same md5 bucket, cumulative start offset in id order
    def refBucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 6), 16) % 4
    }
    val exp = (0L until 200L).map(i => (i, refBucket(i), (i % 17) + 1))
      .groupBy(_._2).flatMap { case (_, ds) =>
        var cum = 0L
        ds.sortBy(_._1).map { case (id, b, n) =>
          val start = cum; cum += n
          id -> ((b, n, start / 40L))
        }
      }.toMap
    assert(got == exp, s"first diffs: ${(got.toSet -- exp.toSet).take(3)}")
    // every shard's token mass stays within budget + one straddling doc
    val byShard = got.values.groupBy(v => (v._1, v._3)).view
      .mapValues(_.map(_._2).sum).toMap
    assert(byShard.values.forall(_ <= 40L + 17L), s"over-full shard: $byShard")
  }

  // independent greedy packer: the oracle for sentenceChunks
  private def refPack(sents: Seq[String], maxTokens: Int): Seq[(Long, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var cidx = 0L; var acc = 0L; var cur = scala.collection.mutable.ArrayBuffer.empty[String]
    for (s <- sents) {
      val ntok = s.split("\\s+").count(_.nonEmpty).toLong
      if (acc > 0 && acc + ntok > maxTokens) {
        out += ((cidx, cur.mkString(" "))); cur.clear(); cidx += 1; acc = ntok
      } else acc += ntok
      cur += s
    }
    if (cur.nonEmpty) out += ((cidx, cur.mkString(" ")))
    out.toSeq
  }

  test("sentence segmentation: terminators kept, trims, drops empties") {
    val session = spark
    import session.implicits._
    val r = Seq((1L, "One two. Three four!  Five?? Six...")).toDF("doc_id", "text")
    val rows = TextAnalysis.sentences(r).collect()
      .map(x => (x.getInt(1), x.getString(2)))
    assert(rows.toList == List((0, "One two."), (1, "Three four!"),
      (2, "Five??"), (3, "Six...")))
  }

  test("sentence-packed chunking: never splits a sentence; greedy boundaries exact") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "One two three. Four five. Six seven eight nine. Ten."),
      (2L, "a b c d e f g. h i."), // over-long head sentence gets its own chunk
      (3L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.sentenceChunks(docs, maxTokens = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(x => (x._1, x._2))
    assert(got.toList == List(
      (1L, 0L, "One two three. Four five."),
      (1L, 1L, "Six seven eight nine. Ten."),
      (2L, 0L, "a b c d e f g."), // 7 tokens > 5 but acc was 0 → own chunk
      (2L, 1L, "h i."),
      (3L, 0L, "solo")))
  }

  test("sentence dedup: boilerplate (≥K docs) dropped, docs reassembled in order") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "Unique alpha one. SHARED FOOTER here. More unique text."),
      (2L, "Different beta words. shared   footer HERE."), // same fp after canon
      (3L, "shared footer here."), // all-boilerplate doc drops out entirely
      (4L, "Nothing in common.")).toDF("doc_id", "text")
    val out = TextAnalysis.sentenceDedup(docs, minDocFreq = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(out.toList == List(
      (1L, "Unique alpha one. More unique text.", 2L),
      (2L, "Different beta words.", 1L),
      (4L, "Nothing in common.", 1L)))
    // below the threshold nothing is boilerplate
    assert(TextAnalysis.sentenceDedup(docs, minDocFreq = 4).count() == 4)
  }

  test("sentence-packed chunking: parametric parity with a reference packer") {
    val session = spark
    import session.implicits._
    val texts = Seq(
      (1L, "alpha beta gamma. delta. epsilon zeta eta theta iota kappa. mu nu! xi? " +
        "omicron pi rho sigma. tau upsilon. phi chi psi omega. a b c d e f g h i j k."),
      (2L, "just one long sentence with quite a few words and no terminator at all"),
      (3L, "x. y. z. w. v. u. t. s. r. q. p. o. n. m."),
      (4L, ""))
    val docs = texts.toDF("doc_id", "text")
    for (m <- Seq(1, 3, 5, 8, 100)) {
      val got = TextAnalysis.sentenceChunks(docs, m).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(x => (x._2, x._3)).toSeq).toMap
      val want = texts.map { case (id, t) =>
        id -> refPack(TextAnalysisRefSegment.segment(t), m)
      }.filter(_._2.nonEmpty).toMap
      assert(got == want, s"maxTokens=$m\ngot:  $got\nwant: $want")
      // native codegen expression ≡ the interpreted HOF fold (repo
      // convention for codegen exprs), exact including chunk indices
      val hof = OpsHofOracle.sentenceChunksHof(docs, m).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(x => (x._2, x._3)).toSeq).toMap
      assert(hof == got, s"maxTokens=$m: HOF diverged from native")
    }
  }
}

/** Independent segmentation twin used by the parity test. */
object TextAnalysisRefSegment {
  def segment(t: String): Seq[String] =
    "[^.!?]+[.!?]*".r.findAllIn(t).map(_.trim).filter(_.nonEmpty).toSeq
}
