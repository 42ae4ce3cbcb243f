package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan assertions for the round-7 sampling operators — the
  * 100 TB contracts, not just the outputs:
  *  - [[Sampling.leakSafeSplit]] is ONE row-local projection: no exchange,
  *    no window, no join anywhere in the plan;
  *  - [[Similarity.diversitySample]] never plans a Window (the per-cluster
  *    cap is the bounded k-smallest aggregate) and shuffles only the
  *    winner-selection aggregation — the corpus-sized semi-join side moves
  *    zero rows.
  */
class SamplingPlanSpec extends SparkTestBase {

  private def plan(df: DataFrame) = {
    df.collect() // AQE finalizes the executed plan
    df.queryExecution.executedPlan
  }

  test("leakSafeSplit plans zero exchanges, windows, joins") {
    val session = spark
    import session.implicits._
    val df = (0L until 100L).map(i => (i, s"d$i.example")).toDF("doc_id", "grp")
    val p = plan(Sampling.leakSafeSplit(df, "grp", 64))
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty, p.toString)
    assert(p.collect { case w: WindowExec => w }.isEmpty, p.toString)
    assert(!p.toString.contains("Join"), p.toString)
  }

  test("diversitySample: no Window; only the winner aggregation shuffles") {
    val session = spark
    import session.implicits._
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = (0L until 200L)
      .map(i => (i, Seq((i % 2).toDouble, ((i + 1) % 2).toDouble)))
      .toDF("vec_id", "embedding")
    val p = plan(Similarity.diversitySample(df, cents, 5))
    assert(p.collect { case w: WindowExec => w }.isEmpty, p.toString)
    // one shuffle: the partial→final k-smallest aggregation by cluster
    // (local test data plans the tiny input sides as in-memory scans; the
    // corpus side reaches the semi-join without an exchange)
    val shuffles = p.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"${shuffles.size} shuffles:\n$p")
    assert(p.toString.contains("collect_top_k"), p.toString)
  }
}
