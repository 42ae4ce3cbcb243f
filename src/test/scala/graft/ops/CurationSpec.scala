package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkTestBase {

  private def cp(c: Int): String = new String(Character.toChars(c))

  test("curate: hygiene applied, quality-failures dropped, dup collapses to min id") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (4L, "<p>Solid varied sentence with" + cp(0x08) + " enough words</p>"),
      (9L, "  solid VARIED sentence with enough words  "), // dup of 4 post-clean
      (2L, "too short"),                                   // < 5 tokens
      (3L, "spam spam spam spam spam spam"),               // fails diversity
      (7L, "another keeper with plenty of distinct words &amp; one entity"))
      .toDF("doc_id", "text")
    val got = Curation.curate(docs, minTokens = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == Set(4L, 7L), s"kept: ${got.keySet}")
    assert(got(4L) == "Solid varied sentence with enough words", got(4L))
    assert(got(7L) == "another keeper with plenty of distinct words & one entity", got(7L))
  }

  test("curate plan: the dedup window's exchange is the ONLY shuffle") {
    val session = spark
    import session.implicits._
    val p = tempDir("graft-curate").toString + "/d"
    (0L until 40L).map(i => (i, s"doc $i has several distinct words here"))
      .toDF("doc_id", "text").repartition(4).write.mode("overwrite").parquet(p)
    val old = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val n = Curation.curate(spark.read.parquet(p)).queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.size
      assert(n == 1, s"expected exactly the fingerprint-window exchange, got $n")
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("curationFunnel: stage counts reconcile and n_kept equals the pipeline's row count") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // kept
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1 → dropped
      (3L, "too short"),                           // n_short
      (4L, "spam spam spam spam spam spam spam"),  // low diversity
      (5L, "one two three four five six seven")    // kept
    ).toDF("doc_id", "text")
    val f = Curation.curationFunnel(docs).collect()(0)
    assert(f.getLong(0) == 5)                      // n_input
    assert(f.getLong(1) == 1, f.toString)          // n_short
    assert(f.getLong(2) == 1, f.toString)          // n_low_diversity
    assert(f.getLong(3) == 3, f.toString)          // n_quality
    assert(f.getLong(4) == 2, f.toString)          // n_kept
    assert(f.getLong(5) == 1, f.toString)          // n_dup_dropped
    assert(f.getLong(4) == Curation.curate(docs).count())
    // reconciliation identity holds by construction
    assert(f.getLong(0) == f.getLong(1) + f.getLong(2) + f.getLong(3))
  }

  test("nearDupKeepBy: each component keeps its best-scoring member, ties to the smaller id") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L),  // component {1,2,3}: 2 wins (30, tie → min id)
      (7L, 5L), (8L, 5L),               // component {7,8}: 7 wins (tie)
      (9L, 99L)                         // no pairs → kept
    ).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDupKeepBy(docs, pairs, "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 7L, 9L), kept.toString)
    // contrast: min-id keep would retain 1, not 2
    val minId = Dedup.nearDupKeep(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 7L, 9L))
  }
}
