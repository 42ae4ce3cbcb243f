package graft.engine

import graft.SparkTestBase
import graft.datagen.DocGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental validation: violationsDelta over (prev snapshot, prev core,
  * cur snapshot) must equal a from-scratch validation of cur row-for-row —
  * including the corpus-dependent effects of REMOVING a referenced doc and
  * the carried-forward rows of untouched docs.
  */
class PipelineDeltaSpec extends SparkTestBase {

  private val N = 3000L

  // doc_id is the "doc:%012d" urn — derive the numeric id for the plants
  private val num = substring(col("doc_id"), 5, 12).cast("long")

  private def prevDocs = DocGen.documents(spark, N).toDF()

  /** cur = prev − removed (doc_id % 97 == 3)
    *           ± changed (doc_id % 91 == 5, not removed: every span text
    *             gets a '!' suffix — flips datatype/range verdicts)
    *           + added   (fresh ids N..N+199 from the same generator)
    */
  private def curDocs: DataFrame = {
    val changedSpans = transform(col("spans"), s => struct(
      s.getField("kind").as("kind"),
      concat(coalesce(s.getField("text"), lit("")), lit("!")).as("text"),
      s.getField("media_ref").as("media_ref"),
      s.getField("offset").as("offset")))
    prevDocs
      .filter(num % 97 =!= 3)
      .withColumn("spans",
        when(num % 91 === 5, changedSpans).otherwise(col("spans")))
      .unionByName(DocGen.documentsRange(spark, N, N + 200, N + 200).toDF())
  }

  private def key(r: org.apache.spark.sql.Row): String =
    (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")

  test("snapshotDiff: statuses match the planted arithmetic") {
    val diff = Pipeline.snapshotDiff(prevDocs, curDocs)
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val removed = (0L until N).count(_ % 97 == 3).toLong
    val changed = (0L until N).count(i => i % 91 == 5 && i % 97 != 3).toLong
    assert(diff("removed") == removed, diff.toString)
    assert(diff("changed") == changed, diff.toString)
    assert(diff("added") == 200L, diff.toString)
    assert(diff("unchanged") == N - removed - changed, diff.toString)
  }

  test("snapshotDiff: NULL spans digest to NULL — presence comes from the per-side counts") {
    // doc 13: spans NULL in BOTH snapshots → unchanged (not "added");
    // doc 11: spans non-null → NULL → changed (not "removed")
    val prevN = prevDocs.withColumn("spans",
      when(num === 13, lit(null)).otherwise(col("spans")))
    val curN = prevN.withColumn("spans",
      when(num === 11, lit(null)).otherwise(col("spans")))
    val rows = Pipeline.snapshotDiff(prevN, curN)
      .withColumn("n", num).filter(col("n").isin(11, 13))
      .select("n", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(11L) == "changed", rows.toString)
    assert(rows(13L) == "unchanged", rows.toString)
    // and a null-spans doc dropped between snapshots still reads removed
    val curGone = curN.filter(num =!= 13)
    val gone = Pipeline.snapshotDiff(curN, curGone)
      .withColumn("n", num).filter(col("n") === 13)
      .select("status").collect().map(_.getString(0)).toSeq
    assert(gone == Seq("removed"), gone.toString)
  }

  test("snapshotDiff: a separator inside a field is a change, and the NULL-offset order is total") {
    val session = spark
    import session.implicits._
    import graft.model.{Document, Span}
    val odd = DocGen.docId(N + 500)
    def with1(spans: Span*): DataFrame =
      prevDocs.unionByName(Seq(Document(odd, spans)).toDF())
    // joined with 0x01 separators both read "txt:count␁abc␁1…"; the cur
    // span fails unsignedInt, so reading the doc "unchanged" would carry
    // its prior (violation-free) core rows forward
    val prev = with1(Span("txt:count\u0001abc", "1", null, 0)).localCheckpoint()
    val cur = with1(Span("txt:count", "abc\u00011", null, 0)).localCheckpoint()
    def status(p: DataFrame, c: DataFrame): Seq[String] = Pipeline.snapshotDiff(p, c)
      .filter(col("doc_id") === odd).select("status").collect().map(_.getString(0)).toSeq
    assert(status(prev, cur) == Seq("changed"))
    val prevCore = Pipeline.rowLocalCore(spark, prev, DocGen.schema)
    val (delta, _) = Pipeline.violationsDelta(spark, prev, prevCore, cur, DocGen.schema)
    def rows(df: DataFrame) = df.filter(col("docId") === odd).collect().map(key).sorted.toSeq
    val full = rows(Pipeline.violations(spark, cur, DocGen.schema))
    assert(full.exists(_.contains("DATATYPE")), s"fixture must fire a datatype row: $full")
    assert(rows(delta) == full)

    // NULL offsets sort first, the rest by offset: [2, NULL, 1] and
    // [1, NULL, 2] over the same spans are one sequence (a comparator
    // returning 0 against NULL is no total order and keeps both orders)
    val (a, n, b) = (Span("txt:title", "a", null, 2), Span("txt:note", "n", null, 0),
      Span("txt:title", "b", null, 1))
    def nullOff(spans: Span*): DataFrame = with1(spans: _*)
      .withColumn("spans", when(col("doc_id") === odd, transform(col("spans"), s =>
        s.withField("offset", when(s.getField("kind") === "txt:note", lit(null))
          .otherwise(s.getField("offset"))))).otherwise(col("spans")))
    assert(status(nullOff(a, n, b), nullOff(b, n, a)) == Seq("unchanged"))
    assert(status(nullOff(a, n, b), nullOff(n, a, b)) == Seq("unchanged"))
    assert(status(nullOff(a, n, b), nullOff(a, b, n)) == Seq("unchanged"))
  }

  test("snapshotDiff: an annotated span's datatype is part of the compared sequence") {
    // strict-mode DATATYPE verdicts read the annotation, so a datatype-only
    // edit must re-validate the doc
    val prev = DocGen.annotatedDocuments(spark, 200L).toDF()
    val edited = DocGen.docId(5)
    val cur = prev.withColumn("spans", when(col("doc_id") === edited,
      transform(col("spans"), s => s.withField("datatype", lit("xsd:other"))))
      .otherwise(col("spans")))
    val changed = Pipeline.snapshotDiff(prev, cur).filter(col("status") =!= "unchanged")
      .select("doc_id", "status").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(changed == Seq((edited, "changed")), changed.toString)
  }

  test("violationsDelta refuses duplicated doc_ids instead of double-counting") {
    val prev = prevDocs.localCheckpoint()
    val dupCur = curDocs.unionByName(curDocs.filter(num === 7)).localCheckpoint()
    val prevCore = Pipeline.rowLocalCore(spark, prev, DocGen.schema)
    val ex = intercept[IllegalArgumentException] {
      val (v, _) = Pipeline.violationsDelta(spark, prev, prevCore, dupCur, DocGen.schema)
      v.count()
    }
    assert(ex.getMessage.contains("doc_id-unique"), ex.getMessage)
  }

  test("violationsDelta == from-scratch validation of cur, row for row") {
    val prev = prevDocs.localCheckpoint()
    val cur = curDocs.localCheckpoint()
    val prevCore = Pipeline.rowLocalCore(spark, prev, DocGen.schema).localCheckpoint()
    val (delta, core) =
      Pipeline.violationsDelta(spark, prev, prevCore, cur, DocGen.schema)
    val full = Pipeline.violations(spark, cur, DocGen.schema)

    def multiset(df: DataFrame) =
      df.collect().map(key).groupBy(identity).view.mapValues(_.size).toMap
    val (d, f) = (multiset(delta), multiset(full))
    val onlyD = d.filter { case (k, n) => f.getOrElse(k, 0) != n }
    val onlyF = f.filter { case (k, n) => d.getOrElse(k, 0) != n }
    assert(onlyD.isEmpty && onlyF.isEmpty,
      s"delta-only: ${onlyD.take(5)}\nfull-only: ${onlyF.take(5)}")

    // the returned core is exactly the from-scratch row-local core of cur
    val fullCore = multiset(Pipeline.rowLocalCore(spark, cur, DocGen.schema))
    assert(multiset(core) == fullCore)

    // and the delta genuinely carried rows (some unchanged doc has a
    // violation) AND genuinely re-ran the corpus side (a removed doc that
    // was referenced surfaces as a dangling ref on a surviving doc)
    val carriedCount = core.join(
      Pipeline.snapshotDiff(prev, cur).filter(col("status") === "unchanged")
        .select(col("doc_id").cast("string").as("docId")),
      Seq("docId"), "left_semi").count()
    assert(carriedCount > 0, "fixture has no unchanged-doc violations to carry")
  }

  test("a removed referenced doc surfaces as a NEW dangling ref without its referrer changing") {
    val prev = prevDocs.localCheckpoint()
    val cur = curDocs.localCheckpoint()
    val prevCore = Pipeline.rowLocalCore(spark, prev, DocGen.schema)
    val (delta, _) =
      Pipeline.violationsDelta(spark, prev, prevCore, cur, DocGen.schema)
    val removedIds = prev.filter(num % 97 === 3)
      .select(col("doc_id").cast("string")).collect().map(_.getString(0)).toSet
    // dangling refs in delta pointing at removed docs, raised on docs that
    // did NOT change — only the corpus-wide referential re-run can produce
    // these
    val urisInDelta = delta.filter(col("check") === "URI-EXISTENCE")
      .select("docId", "value").collect()
    val newDangling = urisInDelta.filter(r =>
      removedIds.exists(id => r.getString(1) != null && r.getString(1).endsWith(id)))
    assert(newDangling.nonEmpty,
      "no dangling ref onto a removed doc — fixture or referential re-run broken")
  }
}
