package graft.engine

import graft.SparkTestBase
import graft.checks.{CheckContext, CheckDocIdUnique}
import graft.datagen.DocGen
import graft.model.{Document, Span}
import org.apache.spark.sql.functions._

class SkewSpec extends SparkTestBase {

  test("salted duplicate-key detection: exact counts, hot key included") {
    val session = spark
    import session.implicits._
    // hot key "h" x 10000, "d" x 2, 1000 unique keys
    val df = (Seq.fill(10000)("h") ++ Seq("d", "d") ++
      (0 until 1000).map(i => s"u$i")).toDF("k")
    val dups = Skew.duplicateKeys(df, "k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dups == Map("h" -> 10000L, "d" -> 2L))
  }

  test("doc-id uniqueness check: planted duplicate found, clean corpus green") {
    val session = spark
    import session.implicits._
    val clean = DocGen.documents(spark, 2000L).toDF()
    assert(CheckDocIdUnique.run(CheckContext(spark, clean, DocGen.schema)).count() == 0)

    val dup = Seq(
      Document("doc:x", Seq(Span("type", "class:Post", null, 0))),
      Document("doc:x", Seq(Span("type", "class:Page", null, 0)))).toDF()
    val rows = CheckDocIdUnique.run(CheckContext(spark, clean.unionByName(dup),
      DocGen.schema)).collect()
    assert(rows.length == 1 && rows(0).getString(2) == "doc:x" && rows(0).getString(4) == "2")
  }
}
