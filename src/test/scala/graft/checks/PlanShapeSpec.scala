package graft.checks

import graft.SparkTestBase
import graft.datagen.DocGen
import graft.engine.Pipeline
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Physical-plan assertions — the scale properties the engine claims must
  * be visible in the executed plan, not just believed:
  *  - nested-schema pruning: class projection reads exactly two span
  *    subfields (the native SpanClass expression takes the subfield arrays,
  *    not the struct — a struct-typed child would read all four);
  *  - predicate pushdown: point lookups reach the parquet scan;
  *  - exchange reuse: the shared subplans (distinct-refs, class table,
  *    qualified counts) materialize once in the full violations plan.
  */
class PlanShapeSpec extends SparkTestBase {

  private lazy val docsPath = {
    val p = tempDir("graft-plan").toString + "/docs"
    DocGen.documents(spark, 2000L).toDF().write.mode("overwrite").parquet(p)
    p
  }

  // sparkPlan, not executedPlan: AQE wraps plans containing exchanges in
  // AdaptiveSparkPlanExec, which hides the scan nodes from collect()
  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }

  test("class projection prunes the parquet ReadSchema to spans.kind + spans.text") {
    val docs = spark.read.parquet(docsPath)
    val ctx = CheckContext(spark, docs, DocGen.schema)
    val rs = scans(ctx.docsCls).head.metadata("ReadSchema")
    assert(rs.contains("kind") && rs.contains("text"), rs)
    assert(!rs.contains("media_ref") && !rs.contains("offset"),
      s"class projection must not read unrelated span subfields: $rs")
  }

  test("distinct-kinds pass reads only spans.kind") {
    val docs = spark.read.parquet(docsPath)
    val ctx = CheckContext(spark, docs, DocGen.schema)
    val rs = scans(ctx.distinctKinds).head.metadata("ReadSchema")
    assert(rs.contains("kind") && !rs.contains("text") && !rs.contains("media_ref"), rs)
  }

  test("point lookup pushes the doc_id predicate into the scan") {
    val docs = spark.read.parquet(docsPath)
    val q = docs.filter(col("doc_id") === DocGen.docId(7))
    val pushed = scans(q).head.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(doc_id"), s"filter not pushed: $pushed")
  }

  test("violations plan shares its mid-frames via the columnar cache") {
    // Round-9: the composed pass's shared subplans (the wide scan,
    // distinct kinds, distinct refs, the restriction ref frame, the
    // qualified counts) are explicit columnar caches — ReuseExchange was
    // measured NOT to dedupe them at runtime under AQE (each branch
    // re-materialized its own copy). Every multiply-consumed frame must
    // appear as an InMemoryTableScan in the composed plan; the per-check
    // single-query plans (asserted elsewhere in this spec) stay cache-free.
    val docs = spark.read.parquet(docsPath)
    val plan = Pipeline.violations(spark, docs, DocGen.schema)
      .queryExecution.executedPlan.toString
    val cached = "InMemoryTableScan".r.findAllIn(plan).length
    assert(cached >= 5, s"expected >=5 cache reads in the composed plan, got $cached")
    // and the single-check plan must NOT silently pick up a stale cache
    val single = graft.checks.CheckUriExistence
      .run(CheckContext(spark, docs, DocGen.schema))
      .queryExecution.executedPlan.toString
    assert(!single.contains("InMemoryTableScan"),
      "per-check plan must scan parquet, not a composed-pass cache")
  }

  test("sessionize reads only (key, ts) from the source; ONE exchange (the key)") {
    val p = tempDir("graft-plan-ev").toString + "/events"
    spark.range(1000).selectExpr("id AS event_id",
      "timestamp_micros(CAST(1700000000000000 + id * 1e7 AS LONG)) AS ts",
      "id % 20 AS user_id", "'x' AS event_type", "CAST(id AS DOUBLE) AS value")
      .write.mode("overwrite").parquet(p)
    val q = graft.ops.Sessions.sessionize(spark.read.parquet(p), "user_id", "ts", 60L)
    val rs = scans(q).head.metadata("ReadSchema")
    assert(rs.contains("user_id") && rs.contains("ts"), rs)
    assert(!rs.contains("event_type") && !rs.contains("value"),
      s"sessionize must not read payload columns: $rs")
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      // one hash exchange on the session key; the groupBy(key, sid) after
      // the window is partition-local (key ⊆ grouping key), no re-shuffle
      val exchanges = q.queryExecution.executedPlan.toString.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1, s"expected 1 exchange, got $exchanges")
    }
  }

  test("top-k-per-group reads only the three involved columns") {
    // SparkEntry queries read <dir>/documents.parquet
    val p = tempDir("graft-plan-doc").toString + "/documents.parquet"
    spark.range(500).selectExpr("id AS doc_id", "'t' AS text",
      "CAST(id % 3 AS STRING) AS lang", "'s' AS source", "id * 7 AS n_chars")
      .write.mode("overwrite").parquet(p)
    val q = graft.SparkEntry.queries("q_rank_per_group")(spark,
      new java.io.File(p).getParent)
    val rs = scans(q).head.metadata("ReadSchema")
    assert(rs.contains("lang") && rs.contains("n_chars") && rs.contains("doc_id"), rs)
    assert(!rs.contains("text") && !rs.contains("source"),
      s"rank query must not read the text payload: $rs")
  }

  private def withSQLConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
