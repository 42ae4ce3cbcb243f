package graft.checks

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.datagen.DocGen

/** Every shared-mode projection (derived from the one wide native-scan
  * cache) must equal its per-check HOF-derived twin row for row — the
  * contract that makes the composed pass's single-scan restructure a pure
  * optimization. PipelineGoldenSpec asserts the end result; this spec
  * pins each intermediate so a drift is attributed to the right frame.
  */
class SharedScanParitySpec extends SparkTestBase {

  private lazy val docs = {
    val p = tempDir("graft-ssp").toString + "/docs"
    DocGen.documents(spark, 3000).toDF()
      .write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case s: Seq[_] => s.toList
      case x => x
    }).map(_.toList: Seq[Any]).toSet

  test("shared-mode projections equal the per-check forms") {
    val plain = CheckContext(spark, docs, DocGen.schema)
    val shared = plain.copy(sharedOpt = Some(plain.buildSharedScan(Nil)))
    assert(rows(shared.docsCls) == rows(plain.docsCls), "docsCls drift")
    assert(rows(shared.distinctKinds) == rows(plain.distinctKinds),
      "distinctKinds drift")
    assert(rows(shared.distinctTypeClasses) == rows(plain.distinctTypeClasses),
      "distinctTypeClasses drift")
    assert(rows(shared.distinctRefs) == rows(plain.distinctRefs),
      "distinctRefs drift")
    assert(rows(shared.restrictionRefTargets) == rows(plain.restrictionRefTargets),
      "restrictionRefTargets drift")
    assert(rows(shared.qualifiedCounts) == rows(plain.qualifiedCounts),
      "qualifiedCounts drift")
  }

  test("null-spans and null-field docs project identically") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spanType = ArrayType(StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", IntegerType))))
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("spans", spanType)))
    val data = Seq(
      Row("d0", null),
      Row("d1", Seq()),
      Row("d2", Seq(Row(null, null, null, 0))),
      Row("d3", Seq(Row("type", null, null, 0), Row("type", "class:B", null, 1))),
      Row("d4", Seq(Row(null, "x", "doc:9", 0), Row("med:link", null, "doc:7", 1))))
    val p = tempDir("graft-ssp2").toString + "/d"
    spark.createDataFrame(
      spark.sparkContext.parallelize(data), schema)
      .write.mode("overwrite").parquet(p)
    val d = spark.read.parquet(p)
    val plain = CheckContext(spark, d, DocGen.schema)
    val shared = plain.copy(sharedOpt = Some(plain.buildSharedScan(Nil)))
    assert(rows(shared.docsCls) == rows(plain.docsCls))
    assert(rows(shared.distinctTypeClasses) == rows(plain.distinctTypeClasses))
    assert(rows(shared.distinctRefs) == rows(plain.distinctRefs))
  }
}
