package graft.streaming

import graft.SparkTestBase
import graft.datagen.DocGen
import graft.model.{Document, Span}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingValidatorSpec extends SparkTestBase {

  test("stateless checks stream: planted datatype violation surfaces per micro-batch") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Document]

    val out = StreamingValidator.violationStream(spark, stream.toDF(), DocGen.schema)
    val q = out.writeStream.format("memory").queryName("sv_viols")
      .outputMode("append").start()
    try {
      stream.addData(
        Document("doc:a", Seq(
          Span("type", "class:Article", null, 0),
          Span("txt:title", "T", null, 1),
          Span("txt:date", "2020-01-01T00:00:00Z", null, 2),
          Span("txt:lang", "en", null, 3),
          Span("txt:count", "not-a-number", null, 4))), // planted
        Document("doc:b", Seq(
          Span("type", "class:Post", null, 0),
          Span("txt:count", "17", null, 1))))
      q.processAllAvailable()
      val rows = spark.table("sv_viols").collect()
      val dt = rows.filter(_.getString(0) == "DATATYPE-PROPERTIES-DATATYPE-101")
      assert(dt.length == 1 && dt(0).getString(2) == "doc:a" && dt(0).getString(4) == "not-a-number")
      // doc:a is an Article missing med:image MAX? no - but score/flag/uri missing
      // is fine; no false datatype positives on doc:b:
      assert(!rows.exists(r => r.getString(2) == "doc:b" &&
        r.getString(0).startsWith("DATATYPE")))
    } finally q.stop()
  }

  test("annotated stream: strict-mode datatype mismatch (-100) surfaces per micro-batch") {
    import graft.model.{AnnotatedDocument, AnnotatedSpan}
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[AnnotatedDocument]
    val xsd = graft.model.SchemaDef.XSD

    val out = StreamingValidator.violationStream(spark, stream.toDF(), DocGen.schema)
    val q = out.writeStream.format("memory").queryName("sv_strict")
      .outputMode("append").start()
    try {
      stream.addData(
        AnnotatedDocument("doc:s1", Seq(
          AnnotatedSpan("type", "class:Post", null, 0, null),
          // asserted integer vs declared unsignedInt: NOT whitelisted → -100
          AnnotatedSpan("txt:count", "17", null, 1, xsd + "integer"),
          // asserted integer vs boolean: whitelisted coercion → lexical only
          AnnotatedSpan("txt:flag", "true", null, 2, xsd + "integer"))))
      q.processAllAvailable()
      val rows = spark.table("sv_strict").collect()
      val m100 = rows.filter(_.getString(0) == "DATATYPE-PROPERTIES-DATATYPE-100")
      assert(m100.length == 1 && m100(0).getString(3) == "txt:count")
      assert(!rows.exists(r => r.getString(0).startsWith("DATATYPE") &&
        r.getString(3) == "txt:flag"))
    } finally q.stop()
  }
}
