package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class QualityClassifierSpec extends SparkTestBase {

  /** Reference bucket computation — same md5-prefix form, computed
    * independently of Spark so the exact-set asserts below hold even when
    * terms collide in a bucket.
    */
  private def refBucket(term: String, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(term.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 6), 16) % d
  }

  private def refTokens(text: String): Seq[String] =
    text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq

  test("hashBucket matches the independent md5-prefix reference for arbitrary terms") {
    val session = spark
    import session.implicits._
    val terms = Seq("the", "cat", "Straße", "123", "x!?")
    val got = terms.toDF("t")
      .select(col("t"), QualityClassifier.hashBucket(col("t"), 64).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.foreach(t => assert(got(t) == refBucket(t, 64), s"term $t"))
  }

  test("diversityLabel: repetitive false, diverse true, empty true") {
    val session = spark
    import session.implicits._
    val docs = Seq((1L, "a a a a b"), (2L, "a b c d"), (3L, "  "))
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        QualityClassifier.diversityLabel(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true), s"got $got")
  }

  test("train: exact bucket weights and term counts vs a reference computation (collision-safe)") {
    val session = spark
    import session.implicits._
    val rows = Seq(
      (1L, "Good clear varied prose", true),
      (2L, "spam spam spam spam", false),
      (3L, "more good words here", true))
    val docs = rows.map(r => (r._1, r._2)).toDF("doc_id", "text")
    val labels = rows.flatMap { case (_, text, lbl) =>
      refTokens(text).map(t => refBucket(t, 64) -> (if (lbl) 1L else -1L))
    }
    val expW = labels.groupBy(_._1).map { case (b, ws) => b -> ws.map(_._2).sum }
    val expN = labels.groupBy(_._1).map { case (b, ws) => b -> ws.size.toLong }
    val model = QualityClassifier.train(docs,
        QualityClassifier.diversityLabel(col("text")), 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(model.view.mapValues(_._1).toMap == expW, s"weights: $model")
    assert(model.view.mapValues(_._2).toMap == expN, s"n_terms: $model")
  }

  test("score: per-doc weight sums with zero for model-absent buckets; model side broadcast") {
    val session = spark
    import session.implicits._
    // model covers only the buckets of "good" (+5) and "spam" (-3);
    // "unseen" must contribute exactly 0
    val model = Seq(refBucket("good", 64) -> 5L, refBucket("spam", 64) -> -3L)
      .toDF("bucket", "weight")
    val docs = Seq(
      (1L, "good good unseen"),
      (2L, "spam good"),
      (3L, "unseen unseen")).toDF("doc_id", "text")
    val scored = QualityClassifier.score(docs, model, 64)
    val got = scored.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got == Map(
      1L -> ((3L, 10L, true)),
      2L -> ((2L, 2L, true)),
      3L -> ((2L, 0L, false))), s"got $got")
    val plan = scored.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"model join not broadcast:\n$plan")
  }

  test("confusion: exact quadrant counts on a hand-built scored frame") {
    val session = spark
    import session.implicits._
    // (pred, label): TP, TP, FP, FN, TN
    val scored = Seq(
      (1L, 3L, 5L, true, true), (2L, 3L, 4L, true, true),
      (3L, 3L, 9L, true, false), (4L, 3L, -2L, false, true),
      (5L, 3L, -7L, false, false))
      .toDF("doc_id", "n_tokens", "score", "pred", "lbl")
    val got = QualityClassifier.confusion(scored, col("lbl"))
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(got == Map((true, true) -> 2L, (true, false) -> 1L,
      (false, true) -> 1L, (false, false) -> 1L), s"got $got")
  }

  test("end-to-end: train on labeled slice separates held-out docs with the same vocabularies") {
    val session = spark
    import session.implicits._
    val train = Seq(
      (10L, "lucid cogent varied rich text"),
      (11L, "nuanced detailed careful writing"),
      (20L, "buy buy buy buy buy"),
      (21L, "click click click click")).toDF("doc_id", "text")
    val model = QualityClassifier.train(train,
      QualityClassifier.diversityLabel(col("text")), 64)
    val heldOut = Seq(
      (1L, "cogent nuanced rich writing"),
      (2L, "buy click buy click buy")).toDF("doc_id", "text")
    val got = QualityClassifier.score(heldOut, model, 64)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got == Map(1L -> true, 2L -> false), s"got $got")
  }
}
