package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class RankingSpec extends SparkTestBase {

  test("termCounts/docFrequencies: canonical tokens, exact tf and df") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "The cat sat. the CAT!"),  // canonical: "the cat sat. the cat!"
      (2L, "a cat"),
      (3L, "   ")).toDF("doc_id", "text")
    val tc = Ranking.termCounts(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // "cat!" ≠ "cat" (punctuation is part of the token; canonicalization
    // only lowercases and collapses whitespace)
    assert(tc == Map((1L, "the") -> 2L, (1L, "cat") -> 1L, (1L, "sat.") -> 1L,
      (1L, "cat!") -> 1L, (2L, "a") -> 1L, (2L, "cat") -> 1L), s"got $tc")
    val df = Ranking.docFrequencies(Ranking.termCounts(docs)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df("cat") == 2L && df("the") == 1L, s"got $df")
  }

  test("tfidf: rarer term outweighs common term at equal tf; tf scales linearly") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "common rare"), (2L, "common other"), (3L, "common more")
    ).toDF("doc_id", "text")
    val scored = Ranking.tfidf(docs, 3L).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(scored((1L, "rare")) > scored((1L, "common")),
      s"df=1 must outweigh df=3 at tf=1: $scored")
    // exact formula check: tf·(ln((N+1)/(df+1))+1)
    val exp = 1.0 * (math.log(4.0 / 2.0) + 1.0)
    assert(scored((1L, "rare")) == exp, s"${scored((1L, "rare"))} != $exp")
  }

  test("bm25 + topTerms: saturation in tf, length normalization, stable tie-break") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "x x x x y"),          // tf(x)=4 in a 5-token doc
      (2L, "x y z w v"),          // tf(x)=1 in a 5-token doc
      (3L, "q q q q q q q q q q") // long doc of a unique term
    ).toDF("doc_id", "text")
    val n = docs.count()
    val tc = Ranking.termCounts(docs)
    val avgLen = tc.agg(sum("tf")).collect()(0).getLong(0).toDouble / n
    val scored = Ranking.bm25(docs, n, avgLen)
    val byKey = scored.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(5)).toMap
    // more occurrences score higher, but sublinearly (k1 saturation)
    assert(byKey((1L, "x")) > byKey((2L, "x")))
    assert(byKey((1L, "x")) < 4.0 * byKey((2L, "x")),
      "bm25 must saturate below linear tf scaling")
    // topTerms: rank 1 for doc 1 is x; ties (same tf/df) break on term asc
    val top = Ranking.topTerms(scored, 2, score = "bm25")
      .filter(col("doc_id") === 2L).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getInt(6)))
    // doc 2: all terms tf=1; x and y have df=2 (lower idf), v/w/z df=1 tie
    // on score → term asc picks v then w
    assert(top.toSeq == Seq(("v", 1), ("w", 2)), s"got ${top.toSeq}")
  }

  test("heavyHitterTerms: MG prefilter + exact verify equals the full group-count at the bound") {
    val session = spark
    import session.implicits._
    // 3 heavy terms (600/500/450 occurrences) in a sea of 2000 singletons,
    // spread over 16 partitions so the sketch actually MERGES partials;
    // N = 3550, maxMapSize = 64 → error bound ε·N = 3.5/64·N ≈ 194
    val words = Seq.fill(600)("alpha") ++ Seq.fill(500)("beta") ++
      Seq.fill(450)("gamma") ++ (0 until 2000).map(i => s"noise$i")
    val docs = words.grouped(25).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(16)
    val got = Ranking.heavyHitterTerms(docs, minCount = 300L, maxMapSize = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("alpha" -> 600L, "beta" -> 500L, "gamma" -> 450L),
      s"got $got")
    // counts are TRUE counts (verify pass), not sketch estimates
    assert(got.values.sum == 1550L)
    // raising the threshold past a heavy term's count drops exactly it
    val strict = Ranking.heavyHitterTerms(docs, minCount = 460L, maxMapSize = 64)
      .collect().map(_.getString(0)).toSet
    assert(strict == Set("alpha", "beta"), s"got $strict")
  }

  test("heavyHitterTerms: refuses a minCount at or below the sketch's maximum error") {
    val session = spark
    import session.implicits._
    // 300 distinct terms overflow an 8-counter map, so the sketch's
    // maximum error is positive and a term seen once could be missed
    val docs = (0 until 30).map(d => (d.toLong, (0 until 10).map(i => s"t${d * 10 + i}").mkString(" ")))
      .toDF("doc_id", "text").repartition(4)
    val e = intercept[IllegalArgumentException](
      Ranking.heavyHitterTerms(docs, minCount = 1L, maxMapSize = 8))
    assert(e.getMessage.contains("maximum error") && e.getMessage.contains("maxMapSize=8"),
      e.getMessage)
  }
}
