package graft.engine

import graft.SparkTestBase
import graft.datagen.DocGen
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Cross-feature integration: the features land one spec each elsewhere;
  * this run combines them — ANNOTATED corpus (span-datatype seam, strict
  * default) read from a BUCKETED catalog table, with a manifest PARTIAL
  * RESUME and the URI fix — because interactions are where regressions
  * hide (e.g. the fix must rebuild 5-field spans, the resume filter must
  * compose with a catalog read, strict -100 rows must survive the rollup).
  */
class IntegrationSpec extends SparkTestBase {

  test("annotated + bucketed + partial resume + fix compose") {
    val tmp = tempDir("graft-integ").toString
    val n = 2000L
    val docs = DocGen.annotatedDocuments(spark, n).toDF()

    spark.sql("DROP TABLE IF EXISTS graft_integ_bucketed")
    val loc = new java.io.File("spark-warehouse/graft_integ_bucketed")
    if (loc.exists) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    Layout.writeBucketed(docs, "graft_integ_bucketed", 4)

    val cfg = ValidatorConfig(
      documentsPath = "", snapshotId = "integ-snap",
      checkKeys = Seq("kinds-defined", "classes-defined", "uri-existence",
        "object-range", "domain", "datatype", "cardinality", "some", "only"),
      schema = DocGen.schema, xmlOut = None, jsonOut = None,
      manifestPath = Some(s"$tmp/manifest.jsonl"), nBuckets = 8,
      fixOut = Some(s"$tmp/fixed"),
      bucketedTable = Some("graft_integ_bucketed"))

    ValidatorApp.run(spark, cfg, s"$tmp/out")

    // strict-mode -100 rows flow through the default pipeline on the
    // annotated corpus (m=31 / m=19 annotation plants)
    val run1 = ValidatorApp.readViolations(spark, s"$tmp/out")
    assert(run1.filter(col("checkId") === "DATATYPE-PROPERTIES-DATATYPE-100").count() > 0)

    // the fix rebuilt the snapshot WITH the 5th span field intact
    val fixed = spark.read.parquet(s"$tmp/fixed")
    assert(fixed.count() == n)
    val spanFields = fixed.schema("spans").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    assert(spanFields.contains("datatype"), spanFields.mkString(","))

    // partial resume over the bucketed table
    val mf = java.nio.file.Paths.get(s"$tmp/manifest.jsonl")
    Files.write(mf, new java.util.ArrayList(Files.readAllLines(mf).subList(0, 4)))
    ValidatorApp.run(spark, cfg, s"$tmp/out")

    // union-of-runs ≡ a fresh full validation over the annotated corpus
    val union = ValidatorApp.readViolations(spark, s"$tmp/out")
      .filter(col("docId").isNotNull).na.fill("<null>", Seq("value"))
      .groupBy("check", "checkId", "docId", "kind", "value").count()
    val fresh = Pipeline.violations(spark, docs, cfg.schema)
      .filter(col("docId").isNotNull).na.fill("<null>", Seq("value"))
      .groupBy("check", "checkId", "docId", "kind", "value").count()
    val mismatch = fresh.join(union,
        Seq("check", "checkId", "docId", "kind", "value"), "full")
      .filter(!(fresh("count") <=> union("count"))).count()
    assert(mismatch == 0, s"union-of-runs differs on $mismatch keys")

    // scale shape of the union reader (round-3 verdict item 4): the winning
    // run comes from the tiny verdicts table via a broadcast join — NO
    // window (and its full shuffle+sort) over the violations corpus
    val readerPlan = ValidatorApp.readViolations(spark, s"$tmp/out")
      .queryExecution.executedPlan.toString
    assert(!readerPlan.contains("Window"), s"violations reader still windows:\n$readerPlan")
    assert(readerPlan.contains("BroadcastHashJoin"), s"winner join not broadcast:\n$readerPlan")
  }
}
