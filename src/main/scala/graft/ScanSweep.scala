package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit sweep over every `SparkEntry.queries` entry: runs each query
  * against a testdata dir and records TWO scan counts —
  *
  *  - `plan_scans`: `FileScan parquet` nodes in the RETURNED frame's final
  *    (post-AQE) executed plan — what the per-round BENCH.md sweep always
  *    recorded;
  *  - `exec_scans` / `jobs`: the scans EXECUTED, summed over EVERY
  *    QueryExecution the query triggered, via a QueryExecutionListener
  *    ([[ScanAudit]]; a cache's scans count once, when it is built) —
  *    this is the audit the returned-plan form cannot do: a query that
  *    builds its result on the driver (suggest/verify report frames, plan
  *    collects, localCheckpoints) runs real corpus scans inside `collect()`
  *    calls whose plans never appear in the returned frame. A 0-plan-scan
  *    query with nonzero exec_scans is exactly that shape, now visible.
  *
  * Usage: `runMain graft.ScanSweep <sfDir> [q_a,q_b,...]`. Prints one JSON
  * line per query plus a distribution summary; results are recorded in
  * BENCH.md per round. Queries are audited sequentially so listener counts
  * attribute cleanly.
  */
object ScanSweep {

  /** Sums EXECUTED scan counts over every QueryExecution an action
    * triggers. A cached relation's plan shows its FileScan in every query
    * that reads the cache, but the scan runs once, when the first reader
    * builds the cache: its scans count for the first query this audit
    * sees reading it, and 0 after.
    */
  final class ScanAudit extends QueryExecutionListener {
    val scans = new java.util.concurrent.atomic.AtomicLong(0)
    val execs = new java.util.concurrent.atomic.AtomicLong(0)
    // cache builders already counted, by identity; touched only on the
    // listener bus thread
    private val builtCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def reset(): Unit = { scans.set(0); execs.set(0) }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      execs.incrementAndGet()
      scans.addAndGet(executedScans(qe.executedPlan, builtCaches.add).toLong)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Parquet FileScans in a FINAL (post-AQE) physical plan and its
    * subqueries; a cached relation's plan is entered only when `firstRead`
    * accepts its cache builder, and a reused exchange or subquery runs
    * nothing again.
    */
  private def executedScans(plan: SparkPlan, firstRead: AnyRef => Boolean): Int = plan match {
    case a: AdaptiveSparkPlanExec => executedScans(a.executedPlan, firstRead)
    case q: QueryStageExec => executedScans(q.plan, firstRead)
    case _: ReusedExchangeExec | _: ReusedSubqueryExec => 0
    case m: InMemoryTableScanExec =>
      if (firstRead(m.relation.cacheBuilder)) executedScans(m.relation.cachedPlan, firstRead)
      else 0
    case p =>
      val self = p match {
        case f: FileSourceScanExec if f.relation.fileFormat.isInstanceOf[ParquetFileFormat] => 1
        case _ => 0
      }
      self + (p.children ++ p.subqueries).map(executedScans(_, firstRead)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = graft.engine.SparkBoot.local()
    val audit = new ScanAudit
    spark.listenerManager.register(audit)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_.contains(name))) {
      audit.reset()
      val df = fn(spark, sfDir)
      df.collect()
      org.apache.spark.sql.graft.shims.waitForListeners(spark)
      val planScans = executedScans(df.queryExecution.executedPlan, _ => true)
      val (execScans, jobs) = (audit.scans.get(), audit.execs.get())
      results += ((name, planScans, execScans, jobs))
      println(s"""{"query":"$name","plan_scans":$planScans,"exec_scans":$execScans,"query_executions":$jobs}""")
    }
    val byPlan = results.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (n, rs) => s""""$n":${rs.size}""" }.mkString(",")
    val hidden = results.filter(r => r._2 == 0 && r._3 > 0).map(_._1)
    println(s"""{"sweep_summary":{"queries":${results.size},"plan_scan_distribution":{$byPlan},"driver_built_with_hidden_scans":[${hidden.map("\"" + _ + "\"").mkString(",")}]}}""")
    spark.stop()
  }
}
