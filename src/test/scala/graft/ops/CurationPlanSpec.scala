package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Physical-plan assertions for the curation operators added in round 5 —
  * the scale claims in their scaladocs must be visible in the plan:
  *  - packIntoShards: ONE shuffle (the bucket window), nothing else;
  *  - QualityClassifier.score: the model joins as a BROADCAST, and the
  *    two aggregations (model build, per-doc sum) are the only shuffles;
  *  - the row-local chain (stripMarkup → nfc → signals) is a pure
  *    projection: ZERO shuffles end-to-end.
  *
  * executedPlan with AQE disabled: AdaptiveSparkPlanExec hides child
  * nodes from collect(), and sparkPlan predates exchange insertion.
  */
class CurationPlanSpec extends SparkTestBase {

  // executedPlan (with AQE off): sparkPlan predates EnsureRequirements,
  // so exchanges do not exist in it yet
  private def shuffles(df: DataFrame): Int = withSQLConf(
    "spark.sql.adaptive.enabled" -> "false") {
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }.size
  }

  private def broadcastJoins(df: DataFrame): Int = withSQLConf(
    "spark.sql.adaptive.enabled" -> "false") {
    df.queryExecution.executedPlan.collect { case j: BroadcastHashJoinExec => j }.size
  }

  private def withSQLConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // parquet-backed (multi-partition) input: a single-partition local
  // relation trivially satisfies every clustering and hides the exchanges
  // these tests exist to count
  private lazy val docsPath = {
    val session = spark
    import session.implicits._
    val p = tempDir("graft-cur").toString + "/docs"
    (0L until 50L).map(i => (i, s"some text $i with words")).toDF("doc_id", "text")
      .repartition(4).write.mode("overwrite").parquet(p)
    p
  }

  private def docs = spark.read.parquet(docsPath)

  test("packIntoShards: exactly one exchange (the per-bucket window), no global sort") {
    val plan = Sampling.packIntoShards(docs, 100L, 4)
    assert(shuffles(plan) == 1, plan.queryExecution.sparkPlan.toString)
    assert(!plan.queryExecution.sparkPlan.toString.contains("rangepartitioning"),
      "a global ordering would be a scale bug")
  }

  test("classifier score: broadcast model join; shuffles only for the two aggregations") {
    val model = QualityClassifier.train(docs,
      QualityClassifier.diversityLabel(col("text")), 64)
    val scored = QualityClassifier.score(docs, model, 64)
    assert(broadcastJoins(scored) == 1,
      scored.queryExecution.sparkPlan.toString)
    assert(shuffles(scored) == 2, // model groupBy(bucket) + per-doc sum
      scored.queryExecution.sparkPlan.toString)
  }

  test("row-local hygiene chain (markup strip + nfc + signals) is shuffle-free") {
    val chain = docs.select(col("doc_id"),
      TextAnalysis.stripMarkup(TextAnalysis.nfc(col("text"))).as("clean"),
      TextAnalysis.badCharCount(col("text")).as("bad"),
      TextAnalysis.markupTagCount(col("text")).as("tags"),
      TextAnalysis.vowelGroupCount(col("text")).as("v"))
    assert(shuffles(chain) == 0, chain.queryExecution.sparkPlan.toString)
  }

  test("urlMentions: extraction is row-local") {
    assert(shuffles(UrlOps.urlMentions(docs)) == 0,
      "extraction itself must be row-local")
  }
}
