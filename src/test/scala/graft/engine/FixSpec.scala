package graft.engine

import graft.SparkTestBase
import graft.checks.{CheckContext, CheckUriExistence}
import graft.datagen.DocGen
import org.apache.spark.sql.functions._

class FixSpec extends SparkTestBase {

  test("uri fix: dangling refs removed, type spans kept, check goes green") {
    val n = 3000L
    val docs = DocGen.documents(spark, n).toDF()
    val before = CheckUriExistence.run(CheckContext(spark, docs, DocGen.schema))
    val badCount = before.count()
    assert(badCount > 0)

    val tmp = tempDir("graft-fix").toString
    val log = Fix.fixDanglingRefs(spark, docs, DocGen.schema, s"$tmp/fixed")

    // fix log matches the plant: one med:link deletion per dangling doc
    val logged = log.collect()
    assert(logged.nonEmpty)
    assert(logged.forall(_.getString(1) == "med:link"))
    val expectedDocs = (0L until n).filter(_ % 97 == 0).map(DocGen.docId).toSet
    assert(logged.map(_.getString(0)).toSet == expectedDocs)

    // re-check over the new snapshot: zero dangling refs
    val fixed = spark.read.parquet(s"$tmp/fixed")
    val after = CheckUriExistence.run(CheckContext(spark, fixed, DocGen.schema))
    assert(after.count() == 0)

    // docs count unchanged; type spans never dropped
    assert(fixed.count() == n)
    val typeless = fixed.filter(
      !exists(col("spans"), s => s.getField("kind") === "type")).count()
    assert(typeless == 0)

    // untouched docs keep exact span sequences
    val untouchedBefore = docs.filter(!col("doc_id").isin(expectedDocs.toSeq: _*))
    val untouchedAfter = fixed.filter(!col("doc_id").isin(expectedDocs.toSeq: _*))
    val mismatch = untouchedBefore.alias("a").join(untouchedAfter.alias("b"), "doc_id")
      .filter(size(col("a.spans")) =!= size(col("b.spans"))).count()
    assert(mismatch == 0)
  }

  test("join-path fix handles 120k dangling refs with no driver materialization") {
    val session = spark
    import session.implicits._
    val n = 120000L
    // every doc carries one dangling ref + a type span + a keeper span
    val docs = spark.range(n).map { i =>
      graft.model.Document(s"doc:$i", Seq(
        graft.model.Span("type", "class:Article", null, 0),
        graft.model.Span("med:link", null, s"missing:$i", 1),
        graft.model.Span("txt:title", s"t$i", null, 2)))
    }.toDF()
    val bad = spark.range(n).select(concat(lit("missing:"), col("id")).as("value"))

    val fixed = Fix.applyUriFixJoin(spark, docs, bad)
    assert(fixed.count() == n)
    // all dangling spans dropped, everything else intact and ordered
    val badRows = fixed.filter(size(col("spans")) =!= 2).count()
    assert(badRows == 0)
    val orderBroken = fixed.filter(
      element_at(col("spans"), 1).getField("kind") =!= "type" ||
        element_at(col("spans"), 2).getField("kind") =!= "txt:title").count()
    assert(orderBroken == 0)

    val log = Fix.uriFixLog(spark, docs, bad)
    assert(log.count() == n)
  }
}
