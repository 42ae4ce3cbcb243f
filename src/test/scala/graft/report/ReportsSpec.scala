package graft.report

import graft.SparkTestBase

class ReportsSpec extends SparkTestBase {

  private def violDf = {
    val session = spark
    import session.implicits._
    Seq(
      ("URI-EXISTENCE-100", "error", null: String, "med:link", "doc:missing:1", "exists"),
      ("URI-EXISTENCE-100", "error", null: String, "med:link", "doc:<&>", "exists"),
      ("DATATYPE-PROPERTIES-DATATYPE-50", "warning", null: String, "txt:note", null: String, null: String),
      ("OWL-RESTRICTION-MAX-101", "error", "doc:000000000438", "med:image", "3", "at most 2")
    ).toDF("checkId", "severity", "docId", "kind", "value", "expected")
  }

  test("XML report: reference envelope, escaped, deterministic") {
    val x = Reports.xml(violDf, Seq("ds:a"), Seq("onto:x"))
    assert(x.startsWith("<checks>\n"))
    assert(x.endsWith("</checks>\n"))
    assert(x.contains("<dataset>ds:a</dataset>"))
    assert(x.contains("<id>URI-EXISTENCE-100</id>"))
    assert(x.contains("doc:&lt;&amp;&gt;")) // escaping
    assert(x.contains("<warning>") && x.contains("<id>DATATYPE-PROPERTIES-DATATYPE-50</id>"))
    // well-formed: parses
    scala.xml.XML.loadString(x)
    // deterministic
    assert(x == Reports.xml(violDf, Seq("ds:a"), Seq("onto:x")))
  }

  test("JSON report: reference envelope, valid JSON") {
    val j = Reports.json(violDf, Seq("ds:a"), Seq("onto:x"))
    assert(j.startsWith("{\n  \"checks\": ["))
    assert(j.contains("\"validationErrors\""))
    assert(j.contains("\"id\": \"OWL-RESTRICTION-MAX-101\""))
    assert(j.contains("\"record\": \"doc:000000000438\""))
    // must be machine-parseable (the reference's writer can emit broken
    // JSON via its comma logic, dvt:183-190 — ours must not)
    val parsed = ujsonLikeParse(j)
    assert(parsed)
  }

  private def ujsonLikeParse(s: String): Boolean = {
    // No JSON lib on the classpath — validate via the JDK Nashorn-free
    // route: Spark's from_json over the struct we expect.
    import org.apache.spark.sql.functions._
    val session = spark
    import session.implicits._
    val df = Seq(s).toDF("j")
      .select(from_json(col("j"), org.apache.spark.sql.types.StructType.fromDDL(
        "checks array<struct<name:string,validationErrors:array<struct<id:string>>>>")).as("p"))
    val row = df.collect()(0)
    !row.isNullAt(0) && row.getStruct(0).getSeq[Any](0).nonEmpty
  }

  private def fixLogDf = {
    val session = spark
    import session.implicits._
    Seq(("doc:000000000007", "med:link", Seq("doc:missing:1", "doc:<&>")),
      ("doc:000000000003", "med:link", Seq("doc:missing:2")))
      .toDF("doc_id", "kind", "deleted_refs")
  }

  test("one collected row set renders byte-identically to xml/json, with fixes and a cap") {
    val (ds, onto) = (Seq("ds:a", "ds:b"), Seq("onto:x"))
    for ((cap, fixLog) <- Seq((100000, None), (100000, Some(fixLogDf)), (1, Some(fixLogDf)))) {
      val rows = Reports.collect(violDf, cap, fixLog)
      assert(Reports.renderXml(rows, ds, onto) == Reports.xml(violDf, ds, onto, cap, fixLog))
      assert(Reports.renderJson(rows, ds, onto) == Reports.json(violDf, ds, onto, cap, fixLog))
      assert(rows.rows.groupBy(_.getString(0)).values.forall(_.size <= cap))
      assert(rows.fixes.size == fixLog.map(_ => math.min(cap, 3)).getOrElse(0))
    }
    // the cap keeps the FIRST rows of the (docId, kind, value) order, and
    // the fix block renders under URI-EXISTENCE
    val capped = Reports.collect(violDf, 1, Some(fixLogDf))
    assert(capped.rows.map(_.getString(4)) == Seq(null, "3", "doc:<&>"))
    assert(capped.fixes == Seq(("doc:000000000003", "med:link", "doc:missing:2")))
    val x = Reports.renderXml(capped, ds, onto)
    assert(x.contains("<fixes>") && x.contains("<subject>doc:000000000003</subject>"))
    assert(!x.contains("doc:missing:1"))
    assert(ujsonLikeParse(Reports.renderJson(capped, ds, onto)))
  }

  test("severity totals: one groupBy equals the two filtered counts") {
    import org.apache.spark.sql.functions.col
    val noWarnings = violDf.filter(col("severity") =!= "warning")
    val none = violDf.limit(0)
    for (df <- Seq(violDf, noWarnings, none)) {
      val want = (df.filter(col("severity") === "error").count(),
        df.filter(col("severity") === "warning").count())
      assert(Reports.severityTotals(df) == want)
    }
    assert(Reports.severityTotals(violDf) == ((3L, 1L)))
    assert(Reports.severityTotals(noWarnings) == ((3L, 0L)))
    assert(Reports.severityTotals(none) == ((0L, 0L)))
  }

  test("checkName strips the numeric code") {
    assert(Reports.checkName("URI-EXISTENCE-100") == "URI-EXISTENCE")
    assert(Reports.checkName("OWL-RESTRICTION-MAX-101") == "OWL-RESTRICTION-MAX")
    assert(Reports.checkName("DATATYPE-PROPERTIES-DATATYPE-50") == "DATATYPE-PROPERTIES-DATATYPE")
  }
}
