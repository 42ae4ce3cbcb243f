package graft.engine

import graft.SparkTestBase
import graft.checks.{CheckContext, CheckUriExistence}
import graft.datagen.DocGen

class LayoutSpec extends SparkTestBase {

  test("bucketed corpus: universe side of the referential join reads without a shuffle") {
    val docs = DocGen.documents(spark, 2000L).toDF()
    spark.sql("DROP TABLE IF EXISTS graft_docs_bucketed")
    // a previously failed write can leave an orphaned managed location
    val loc = new java.io.File("spark-warehouse/graft_docs_bucketed")
    if (loc.exists) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    Layout.writeBucketed(docs, "graft_docs_bucketed", 4)

    val bucketed = Layout.readBucketed(spark, "graft_docs_bucketed")
    val viol = CheckUriExistence.run(CheckContext(spark, bucketed, DocGen.schema))

    // correctness unchanged vs the unbucketed corpus
    val expected = CheckUriExistence.run(CheckContext(spark, docs, DocGen.schema))
      .collect().map(_.toString).toSet
    assert(viol.collect().map(_.toString).toSet == expected)
    assert(expected.nonEmpty)

    // plan evidence: the universe (right/build) side scan is bucketed —
    // "Bucketed: true" appears and no Exchange feeds it
    val plan = viol.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"expected a bucketed scan in:\n$plan")
  }

  test("bucketed universe joins with NO exchange on the universe side (broadcast off)") {
    // force the shuffle join path — with broadcast on, a tiny test universe
    // would be broadcast and the assertion would prove nothing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = Layout.readBucketed(spark, "graft_docs_bucketed")
      val viol = CheckUriExistence.run(CheckContext(spark, bucketed, DocGen.schema))
      viol.collect()
      val whole = viol.queryExecution.executedPlan.toString
      // AQE prints Final + Initial plans; only the final one executed
      val plan =
        if (whole.contains("== Initial Plan ==")) whole.take(whole.indexOf("== Initial Plan =="))
        else whole
      // exactly TWO hash exchanges, both on the probe side (the shared
      // distinct-refs aggregate + the join-key repartition). The universe
      // side reads pre-hashed buckets with NO exchange — the full-corpus
      // shuffle this layout removes is the scale-killer at 10^12 docs
      // (unbucketed, the same plan shows 3).
      val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 2, s"expected 2 exchanges (probe side only), got $exchanges in:\n$plan")
      assert(plan.contains("Bucketed: true"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("ValidatorApp reads a bucketed corpus via data.bucketedTable, same violations") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("graft-bt").toString
    val docs = DocGen.documents(spark, 2000L).toDF()
    docs.write.mode("overwrite").parquet(s"$tmp/docs")
    val base = ValidatorConfig(
      documentsPath = s"$tmp/docs", snapshotId = "bt-snap",
      checkKeys = Seq("kinds-defined", "uri-existence", "datatype"),
      schema = DocGen.schema, xmlOut = None, jsonOut = None,
      manifestPath = None, nBuckets = 8)
    ValidatorApp.run(spark, base, s"$tmp/outPath")
    // same run, corpus read from the bucketed catalog table instead
    ValidatorApp.run(spark,
      base.copy(documentsPath = "", bucketedTable = Some("graft_docs_bucketed")),
      s"$tmp/outTable")
    val a = ValidatorApp.readViolations(spark, s"$tmp/outPath")
      .na.fill("<null>", Seq("value")).groupBy("check", "checkId", "kind", "value").count()
    val b = ValidatorApp.readViolations(spark, s"$tmp/outTable")
      .na.fill("<null>", Seq("value")).groupBy("check", "checkId", "kind", "value").count()
    val diff = a.join(b, Seq("check", "checkId", "kind", "value"), "full")
      .filter(!(a("count") <=> b("count"))).count()
    assert(diff == 0, s"bucketed-table run differs from parquet-path run on $diff keys")
  }
}
