package graft.checks

import graft.SparkTestBase
import graft.datagen.DocGen
import graft.engine.{Manifest, Pipeline}
import graft.model.SchemaDef
import org.apache.spark.sql.functions._

/** Golden end-to-end test (FIXTURES.md §4): run the full check pipeline over
  * the synthesized documents table and assert the EXACT violation sets
  * against an independent plain-Scala replay of the generator's plant table.
  */
class PipelineGoldenSpec extends SparkTestBase {

  private val n = 10000L
  private lazy val schema = DocGen.schema
  private lazy val docsLocal = (0L until n).map(DocGen.make(_, n))
  private lazy val byId = docsLocal.map(d => d.doc_id -> d).toMap

  private lazy val actual: Map[String, Set[(String, String, String)]] = {
    val docs = DocGen.documents(spark, n).toDF()
    val rows = Pipeline.violations(spark, docs, schema).collect()
    rows.groupBy(_.getString(0)).map { case (checkId, rs) =>
      checkId -> rs.map(r => (r.getString(2), r.getString(3), r.getString(4))).toSet
    }
  }

  private def expectSet(checkId: String, expected: Set[(String, String, String)]): Unit = {
    val got = actual.getOrElse(checkId, Set.empty)
    val missing = expected -- got
    val extra = got -- expected
    assert(missing.isEmpty && extra.isEmpty,
      s"$checkId: ${missing.size} missing (e.g. ${missing.take(3)}), " +
        s"${extra.size} extra (e.g. ${extra.take(3)})")
  }

  private def articles: Seq[Long] = (0L until n).filter(DocGen.isArticle)

  test("PROPERTIES-DEFINED-100: exactly the undefined kind") {
    expectSet("PROPERTIES-DEFINED-100", Set((null, DocGen.UndefinedKind, null)))
  }

  test("CLASSES-DEFINED-100: exactly the undefined class") {
    expectSet("CLASSES-DEFINED-100", Set((null, "type", DocGen.UndefinedClass)))
  }

  test("URI-EXISTENCE-100: exactly the dangling media_refs") {
    val expected = (0L until n).filter(_ % 97 == 0)
      .map(i => (null: String, "med:link", s"doc:missing:$i")).toSet
    expectSet("URI-EXISTENCE-100", expected)
  }

  test("OBJECT-PROPERTIES-RANGE-100: targets outside the range closure (incl. dangling → owl:Thing)") {
    val rootClosure = schema.subClosure("class:Root")
    val expected = docsLocal.flatMap { d =>
      d.spans.filter(s => s.kind == "med:link" && s.media_ref != null).map { s =>
        val tCls = byId.get(s.media_ref)
          .flatMap(_.spans.find(_.kind == "type")).map(_.text)
          .getOrElse(SchemaDef.OWL_THING)
        (tCls, s.media_ref)
      }
    }.distinct.filterNot(t => rootClosure.contains(t._1))
      .map(t => (null: String, "med:link", t._2)).toSet
    expectSet("OBJECT-PROPERTIES-RANGE-100", expected)
  }

  test("OBJECT-DATATYPE-PROPERTIES-DOMAIN-100: med:image used outside its domain") {
    val allowed = Set("class:Article", "class:Page")
    val expected = docsLocal.flatMap { d =>
      val cls = d.spans.find(_.kind == "type").map(_.text).getOrElse(SchemaDef.OWL_THING)
      val used = d.spans.exists(_.kind == "med:image")
      if (used && !allowed.contains(cls)) Some((d.doc_id, "med:image", cls)) else None
    }.toSet
    expectSet("OBJECT-DATATYPE-PROPERTIES-DOMAIN-100", expected)
  }

  test("DATATYPE-PROPERTIES-DATATYPE-101: exactly the planted lexical errors") {
    def did(i: Long) = DocGen.docId(i)
    val bad = (0L until n).flatMap { i =>
      Seq(
        if (i % 89 == 0) Some((did(i), "txt:count", "abc")) else None,
        if (i % 53 == 0) Some((did(i), "txt:uri", "http://x#a#b")) else None,
        if (i % 47 == 0) Some((did(i), "txt:flag", "T")) else None,
        if (i % 59 == 0) Some((did(i), "txt:score", "150")) else None,
        if (i % 67 != 0 && i % 61 == 0) Some((did(i), "txt:lang", "longerThan8")) else None,
        if (i % 29 == 0 && i % 83 != 0) Some((did(i), "txt:date", "2020-99-99T99:99:99Z")) else None
      ).flatten
    }.toSet
    // -101 per the reference id convention: lexical invalidity (the -100
    // code is the strict-mode asserted-datatype mismatch)
    expectSet("DATATYPE-PROPERTIES-DATATYPE-101", bad)
  }

  test("DATATYPE-PROPERTIES-DATATYPE-50: warning for range-less kind txt:note") {
    expectSet("DATATYPE-PROPERTIES-DATATYPE-50", Set((null, "txt:note", null)))
  }

  test("OBJECT-DATATYPE-PROPERTIES-DOMAIN-50: warning per used kind without a domain") {
    val expected = Set("txt:title", "txt:count", "txt:date", "txt:lang",
      "txt:score", "txt:flag", "txt:uri", "txt:note", "med:link", "med:attach",
      DocGen.UndefinedKind).map(k => (null: String, k, null: String))
    expectSet("OBJECT-DATATYPE-PROPERTIES-DOMAIN-50", expected)
  }

  test("OWL-RESTRICTION-MAX-101: Articles with 3 med:image (class-qualified → -101 series)") {
    val expected = articles.filter(_ % 73 == 0)
      .map(i => (DocGen.docId(i), "med:image", "3")).toSet
    expectSet("OWL-RESTRICTION-MAX-101", expected)
  }

  test("OWL-RESTRICTION-EXACT-104: per-value validity sub-pass on Articles' txt:date") {
    val expected = articles.filter(i => i % 29 == 0 && i % 83 != 0)
      .map(i => (DocGen.docId(i), "txt:date", "2020-99-99T99:99:99Z")).toSet
    expectSet("OWL-RESTRICTION-EXACT-104", expected)
  }

  test("OWL-RESTRICTION-SOME-101/ONLY-101: Articles whose med:attach is no Video") {
    val some = articles.filter(_ % 37 == 0)
      .map(i => (DocGen.docId(i), "med:attach", null: String)).toSet
    val only = articles.filter(_ % 37 == 0)
      .map(i => (DocGen.docId(i), "med:attach",
        DocGen.docId(DocGen.mediaTarget(i, 3, n)))).toSet
    expectSet("OWL-RESTRICTION-SOME-101", some)
    expectSet("OWL-RESTRICTION-ONLY-101", only)
  }

  test("OWL-RESTRICTION-MIN-102: Articles missing txt:title") {
    val expected = articles.filter(_ % 79 == 0)
      .map(i => (DocGen.docId(i), "txt:title", "0")).toSet
    expectSet("OWL-RESTRICTION-MIN-102", expected)
  }

  test("OWL-RESTRICTION-EXACT-100/-102: Articles with 2 or 0 txt:date") {
    val two = articles.filter(i => i % 83 != 0 && i % 71 == 0)
      .map(i => (DocGen.docId(i), "txt:date", "2")).toSet
    val zero = articles.filter(_ % 83 == 0)
      .map(i => (DocGen.docId(i), "txt:date", "0")).toSet
    expectSet("OWL-RESTRICTION-EXACT-100", two)
    expectSet("OWL-RESTRICTION-EXACT-102", zero)
  }

  test("OWL-RESTRICTION-SOME-100/-102: Articles without (valid) txt:lang") {
    val none = articles.filter(_ % 67 == 0)
      .map(i => (DocGen.docId(i), "txt:lang", null: String)).toSet
    val noneValid = articles.filter(i => i % 67 != 0 && i % 61 == 0)
      .map(i => (DocGen.docId(i), "txt:lang", null: String)).toSet
    expectSet("OWL-RESTRICTION-SOME-100", none)
    expectSet("OWL-RESTRICTION-SOME-102", noneValid)
  }

  test("OWL-RESTRICTION-ONLY-100: facet-invalid txt:score on Articles") {
    val expected = articles.filter(_ % 59 == 0)
      .map(i => (DocGen.docId(i), "txt:score", "150")).toSet
    expectSet("OWL-RESTRICTION-ONLY-100", expected)
  }

  test("no unexpected check ids fire") {
    val known = Set(
      "PROPERTIES-DEFINED-100", "CLASSES-DEFINED-100", "URI-EXISTENCE-100",
      "OBJECT-PROPERTIES-RANGE-100", "OBJECT-PROPERTIES-RANGE-50",
      "OBJECT-DATATYPE-PROPERTIES-DOMAIN-100",
      "OBJECT-DATATYPE-PROPERTIES-DOMAIN-50",
      "DATATYPE-PROPERTIES-DATATYPE-101", "DATATYPE-PROPERTIES-DATATYPE-50",
      "OWL-RESTRICTION-MAX-100", "OWL-RESTRICTION-MAX-101",
      "OWL-RESTRICTION-MIN-100", "OWL-RESTRICTION-MIN-102",
      "OWL-RESTRICTION-EXACT-100", "OWL-RESTRICTION-EXACT-102",
      "OWL-RESTRICTION-EXACT-104", "OWL-RESTRICTION-SOME-100",
      "OWL-RESTRICTION-SOME-101", "OWL-RESTRICTION-SOME-102",
      "OWL-RESTRICTION-ONLY-100", "OWL-RESTRICTION-ONLY-101")
    assert(actual.keySet.subsetOf(known), s"unexpected: ${actual.keySet -- known}")
  }

  test("native, HOF-fused, and per-check paths produce identical violation sets") {
    val docs = DocGen.documents(spark, 3000L).toDF()
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4), r.getString(6))).toSet
    val nativeSet = collectSet(Pipeline.violations(spark, docs, schema))
    val hofSet = collectSet(HofOracle.fusedViolations(spark, docs, schema))
    val perCheck = collectSet(HofOracle.perCheckViolations(spark, docs, schema))
    assert(nativeSet == hofSet,
      s"native vs HOF: missing=${(hofSet -- nativeSet).take(3)} extra=${(nativeSet -- hofSet).take(3)}")
    assert(hofSet == perCheck)
  }

  test("verdicts: per-bucket pass/fail with lineage; clean buckets PASS") {
    val docs = DocGen.documents(spark, n).toDF()
    val v = Pipeline.verdicts(spark, docs, schema, snapshotId = "snap-1", nBuckets = 16)
    val rows = v.collect()
    assert(rows.length == 17 * Checks.all.size) // 16 buckets + the -1 dataset bucket
    assert(rows.forall(_.getString(5) == "snap-1"))
    assert(rows.forall(_.getString(6) == schema.constraintHash))
    // every doc-level violation rolled up: nViolations sums match
    val totalV = rows.map(_.getLong(3)).sum
    val directV = Pipeline.violations(spark, docs, schema).count()
    assert(totalV == directV)
    // some bucket×check combinations must pass (violations are sparse)
    assert(rows.count(_.getBoolean(2)) > 0)
  }

  test("manifest resume: completed buckets are skipped") {
    val tmp = tempDir("graft-manifest").toString
    val m = new Manifest(s"$tmp/manifest.jsonl")
    val docs = Pipeline.withBucket(DocGen.documents(spark, 1000L).toDF(), 8)
    val allBuckets = docs.select("bucket").distinct().collect().map(_.getInt(0))
    // record half the buckets complete
    val done = allBuckets.sorted.take(4)
    m.recordRun("snap-2", schema.constraintHash, 1L, done.map(b => (b, 10L, 0L)).toSeq)
    val remaining = Pipeline.resumable(spark, docs.drop("bucket"), m, "snap-2", schema, 8)
    val remBuckets = Pipeline.withBucket(remaining, 8)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    assert(remBuckets == allBuckets.toSet -- done)
    // different constraint hash → nothing skipped
    val other = Pipeline.resumable(spark, docs.drop("bucket"), m, "snap-3", schema, 8)
    assert(other.count() == 1000L)
  }

  test("span-sequence invariant survives parquet round-trip (zip_with equality)") {
    val tmp = tempDir("graft-docs").toString
    val docs = DocGen.documents(spark, 1000L).toDF()
    docs.write.mode("overwrite").parquet(s"$tmp/docs")
    val back = spark.read.parquet(s"$tmp/docs")
    // per-row invariant vs the reference: span-sequence equality
    // (kind, text, media_ref, order) via higher-order array functions
    val joined = docs.alias("a").join(back.alias("b"), "doc_id")
    val sortedSpans = (side: String) => array_sort(col(s"$side.spans"),
      (l, r) => when(l.getField("offset") < r.getField("offset"), -1)
        .when(l.getField("offset") > r.getField("offset"), 1).otherwise(0))
    val eq = forall(
      zip_with(sortedSpans("a"), sortedSpans("b"), (x, y) =>
        x.getField("kind") <=> y.getField("kind") &&
          x.getField("text") <=> y.getField("text") &&
          x.getField("media_ref") <=> y.getField("media_ref") &&
          x.getField("offset") <=> y.getField("offset")),
      identity[org.apache.spark.sql.Column])
    val violating = joined.filter(!eq || size(col("a.spans")) =!= size(col("b.spans"))).count()
    assert(violating == 0)
  }
}
