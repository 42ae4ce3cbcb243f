package graft.engine

import graft.SparkTestBase
import graft.datagen.DocGen
import java.nio.file.Files

class ValidatorAppSpec extends SparkTestBase {

  /** The examples/run.properties check set (10 checks) over the DocGen
    * fixture schema, with reports, manifest and profile.
    */
  private def fullConf(docs: String, out: String): String =
    s"""data.documents = $docs
       |data.snapshotId = snap-full
       |checks = kinds-defined, classes-defined, uri-existence, object-range, domain, datatype, cardinality, some, only, doc-id-unique
       |schema.kind.txt:title = datatype||http://www.w3.org/2001/XMLSchema#string
       |schema.kind.txt:count = datatype||http://www.w3.org/2001/XMLSchema#unsignedInt
       |schema.kind.txt:date = datatype||http://www.w3.org/2001/XMLSchema#dateTime
       |schema.kind.txt:lang = datatype||http://www.w3.org/2001/XMLSchema#language
       |schema.kind.txt:score = datatype||dt:score
       |schema.kind.txt:flag = datatype||http://www.w3.org/2001/XMLSchema#boolean
       |schema.kind.txt:uri = datatype||http://www.w3.org/2001/XMLSchema#anyURI
       |schema.kind.txt:note = datatype||
       |schema.kind.med:image = object|class:Article;class:Page|class:Image
       |schema.kind.med:link = object||class:Root
       |schema.kind.med:attach = object||class:Media
       |schema.kind.med:thumb = object||
       |schema.class = class:Article, class:Image, class:Video, class:Audio, class:Page, class:Post, class:Media, class:Content, class:Root
       |schema.subclass = class:Image<class:Media, class:Video<class:Media, class:Audio<class:Media
       |schema.subclass = class:Article<class:Content, class:Page<class:Content, class:Post<class:Content
       |schema.subclass = class:Media<class:Root, class:Content<class:Root
       |schema.restriction = class:Article|txt:title|min|1|http://www.w3.org/2001/XMLSchema#string|
       |schema.restriction = class:Article|med:image|max|2||class:Image
       |schema.restriction = class:Article|txt:date|exact|1|http://www.w3.org/2001/XMLSchema#dateTime|
       |schema.restriction = class:Article|txt:lang|some|0|http://www.w3.org/2001/XMLSchema#language|
       |schema.restriction = class:Article|txt:score|only|0|dt:score|
       |schema.restriction = class:Article|med:attach|some|0||class:Video
       |schema.restriction = class:Article|med:attach|only|0||class:Video
       |schema.facet = dt:score|http://www.w3.org/2001/XMLSchema#decimal||0|100
       |output.xml = $out/report.xml
       |output.json = $out/report.json
       |manifest = $out/manifest.jsonl
       |buckets = 8
       |profile.enabled = true
       |""".stripMargin

  /** Run the app once in full mode over a fresh DocGen corpus. */
  private def fullRun(n: Long): (String, ValidatorConfig) = {
    val tmp = tempDir("graft-full").toString
    DocGen.documents(spark, n).toDF().write.mode("overwrite").parquet(s"$tmp/docs")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/run.properties"),
      fullConf(s"$tmp/docs", s"$tmp/out"))
    val cfg = ValidatorConfig.load(s"$tmp/run.properties")
    ValidatorApp.run(spark, cfg, s"$tmp/out")
    (tmp, cfg)
  }

  private def assertSameMultiset(got: org.apache.spark.sql.DataFrame,
                                 want: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val cols = want.columns.sorted.map(org.apache.spark.sql.functions.col)
    val (g, w) = (got.select(cols: _*), want.select(cols: _*))
    val (extra, missing) = (g.exceptAll(w).count(), w.exceptAll(g).count())
    assert(extra == 0 && missing == 0, s"$what: $extra extra, $missing missing rows")
  }

  test("full run: core, violations and verdicts equal the library's forms") {
    val (tmp, cfg) = fullRun(3000L)
    val out = s"$tmp/out"
    val docs = spark.read.parquet(s"$tmp/docs")
    val checks = cfg.configuredChecks
    val coreRuns = new java.io.File(s"$out/core").listFiles().filter(_.isDirectory)
    assert(coreRuns.length == 1)
    val core = spark.read.parquet(coreRuns(0).getAbsolutePath)
    assert(core.select("constraintHash", "checksHash").distinct().collect().toSeq
      .map(r => (r.getString(0), r.getString(1))) ==
      Seq((cfg.schema.constraintHash, cfg.checksHash)))
    assertSameMultiset(core.drop("constraintHash", "checksHash"),
      Pipeline.rowLocalCore(spark, docs, cfg.schema, checks), "core")
    val committed = ValidatorApp.readSnapshot(spark, cfg, out,
      Some(new Manifest(s"$out/manifest.jsonl")))
    val want = Pipeline.violations(spark, docs, cfg.schema, checks)
    assert(want.count() > core.count()) // corpus checks fire beyond the core
    assertSameMultiset(committed, want, "violations")
    assertSameMultiset(ValidatorApp.readVerdicts(spark, out),
      Pipeline.verdicts(spark, docs, cfg.schema, cfg.snapshotId, cfg.nBuckets, checks),
      "verdicts")
  }

  test("full run: core and violations from one corpus scan, per the run's metrics rows") {
    val (tmp, _) = fullRun(1200L)
    val scans = spark.read.parquet(s"$tmp/out/metrics").collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("scans")).toMap
    // the shared scan feeds the violations write (DocIdUnique reads its
    // cached doc_id) and the core write reads its cache. A DocIdUnique scan
    // of its own would make it 2; a separate core scan (and cache), 3.
    assert(scans("core_persist") == 0L, s"core_persist scans: $scans")
    assert(scans("validate_persist") + scans("core_persist") == 1L,
      s"validate_persist + core_persist scans: $scans")
  }

  test("delta run: core_persist reads the cached core, per the metrics rows") {
    val (tmp, _) = fullRun(1200L)
    val coreDir = new java.io.File(s"$tmp/out/core").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("run="))
    assert(coreDir.length == 1, s"expected one core run dir, got ${coreDir.toSeq}")
    // cur: the first 1100 docs of prev plus 100 fresh ones
    spark.read.parquet(s"$tmp/docs").limit(1100)
      .unionByName(DocGen.documentsRange(spark, 1200L, 1300L, 1300L).toDF())
      .write.mode("overwrite").parquet(s"$tmp/cur")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/delta.properties"),
      fullConf(s"$tmp/cur", s"$tmp/out2") +
        s"delta.prevDocuments = $tmp/docs\ndelta.prevCore = ${coreDir(0).getAbsolutePath}\n")
    ValidatorApp.run(spark, ValidatorConfig.load(s"$tmp/delta.properties"), s"$tmp/out2")
    val scans = spark.read.parquet(s"$tmp/out2/metrics").collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("scans")).toMap
    // the violations write builds the core's cache and the core write reads
    // it; a composition that misses the cache computes the core twice, so
    // the core write scans the current corpus and the prior core again
    assert(scans("core_persist") == 0L, s"core_persist scans: $scans")
  }

  test("config round-trip: dvt.ini-equivalent properties file → SchemaDef + pipeline") {
    val tmp = tempDir("graft-app").toString
    DocGen.documents(spark, 2000L).toDF()
      .write.mode("overwrite").parquet(s"$tmp/docs")

    val conf =
      s"""# graft run config (dvt.ini analogue)
         |data.documents = $tmp/docs
         |data.snapshotId = snap-t1
         |checks = kinds-defined, uri-existence, datatype, cardinality
         |schema.kind.txt:title = datatype||http://www.w3.org/2001/XMLSchema#string
         |schema.kind.txt:count = datatype||http://www.w3.org/2001/XMLSchema#unsignedInt
         |schema.kind.med:link = object||class:Root
         |schema.class = class:Article, class:Root
         |schema.subclass = class:Article<class:Root
         |schema.restriction = class:Article|txt:title|min|1|http://www.w3.org/2001/XMLSchema#string|
         |output.json = $tmp/report.json
         |manifest = $tmp/manifest.jsonl
         |buckets = 8
         |fix.out = $tmp/fixed
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$tmp/run.properties"), conf)

    val cfg = ValidatorConfig.load(s"$tmp/run.properties")
    assert(cfg.checkKeys == Seq("kinds-defined", "uri-existence", "datatype", "cardinality"))
    assert(cfg.schema.kinds.size == 3)
    assert(cfg.schema.subClassOf == Seq(("class:Article", "class:Root")))
    assert(cfg.schema.restrictions.head.rtype == "min")

    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val v = spark.read.parquet(s"$tmp/out/violations")
    val firstRunViolations = v.count()
    assert(firstRunViolations > 0) // plants fire even under the reduced schema
    assert(Files.exists(java.nio.file.Paths.get(s"$tmp/report.json")))
    assert(Files.exists(java.nio.file.Paths.get(s"$tmp/manifest.jsonl")))

    // --fix: repaired snapshot written, deleted-triples log in the report
    assert(spark.read.parquet(s"$tmp/fixed").count() == 2000L)
    val report = Files.readString(java.nio.file.Paths.get(s"$tmp/report.json"))
    assert(report.contains("\"fixes\"") && report.contains("\"predicate\": \"med:link\""))

    // resume: second run over the same snapshot+schema+check-set skips all
    val before = new Manifest(s"$tmp/manifest.jsonl")
      .completedBuckets("snap-t1", cfg.schema.constraintHash, cfg.checksHash)
    assert(before.nonEmpty)
    val remaining = Pipeline.resumable(spark,
      spark.read.parquet(s"$tmp/docs"), new Manifest(s"$tmp/manifest.jsonl"),
      "snap-t1", cfg.schema, 8, cfg.checksHash)
    assert(remaining.count() == 0)

    // a DIFFERENT enabled-check set must NOT resume as complete (round-3
    // advice, medium): broader list and changed per-check params both miss
    val broader = ValidatorConfig.checksHash(cfg.checkKeys :+ "domain")
    assert(new Manifest(s"$tmp/manifest.jsonl")
      .completedBuckets("snap-t1", cfg.schema.constraintHash, broader).isEmpty)
    val strictParams = ValidatorConfig.checksHash(
      cfg.checkKeys.map { case "datatype" => "datatype?mode=strict"; case k => k })
    assert(new Manifest(s"$tmp/manifest.jsonl")
      .completedBuckets("snap-t1", cfg.schema.constraintHash, strictParams).isEmpty)
    // ...while order/param-spelling variants of the SAME set hash identically
    assert(ValidatorConfig.checksHash(Seq("b?y=2&x=1", "a")) ==
      ValidatorConfig.checksHash(Seq("a", "b?x=1&y=2")))

    // resumed run writes run-scoped output: prior buckets' results survive
    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val afterResume = spark.read.parquet(s"$tmp/out/violations").count()
    assert(afterResume == firstRunViolations,
      s"resume clobbered prior results: $afterResume != $firstRunViolations")
  }

  test("per-check ?k=v params: datatype?mode=strict flows config → registry → pipeline") {
    import org.apache.spark.sql.functions._
    val (base, params) = ValidatorConfig.parseCheckKey("datatype?mode=strict")
    assert(base == "datatype" && params == Map("mode" -> "strict"))
    assert(ValidatorConfig.CheckRegistry(base).configure(params)
      .asInstanceOf[graft.checks.CheckDatatypeImpl].strict)

    val tmp = tempDir("graft-params").toString
    DocGen.annotatedDocuments(spark, 1000L).toDF()
      .write.mode("overwrite").parquet(s"$tmp/docs")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/run.properties"),
      s"""data.documents = $tmp/docs
         |data.snapshotId = snap-params
         |checks = datatype?mode=strict
         |""".stripMargin)
    // schema from the fixture (the properties file would need ~20 kind
    // lines; the param syntax under test lives in `checks`)
    val cfg = ValidatorConfig.load(s"$tmp/run.properties").copy(schema = DocGen.schema)
    assert(cfg.checkKeys == Seq("datatype?mode=strict"))
    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val ids = spark.read.parquet(s"$tmp/out/violations")
      .select("checkId").distinct().collect().map(_.getString(0)).toSet
    assert(ids.contains("DATATYPE-PROPERTIES-DATATYPE-100"),
      s"strict-mode -100 rows expected, got $ids") // m=31/m=19 annotation plants
  }

  test("PARTIAL resume: full-corpus fix, no dataset-row duplication, exact union-of-runs") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("graft-resume").toString
    DocGen.documents(spark, 3000L).toDF()
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val cfg = ValidatorConfig(
      documentsPath = s"$tmp/docs", snapshotId = "snap-partial",
      checkKeys = Seq("kinds-defined", "classes-defined", "uri-existence",
        "object-range", "domain", "datatype", "cardinality", "some", "only"),
      schema = DocGen.schema, xmlOut = None, jsonOut = None,
      manifestPath = Some(s"$tmp/manifest.jsonl"), nBuckets = 8,
      fixOut = Some(s"$tmp/fixed"))

    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val datasetRows = ValidatorApp.readViolations(spark, s"$tmp/out")
      .filter(col("docId").isNull).count()

    // simulate a crash between the violations write and recordRun: only 4
    // of the 8 buckets made it into the manifest
    val mf = java.nio.file.Paths.get(s"$tmp/manifest.jsonl")
    val lines = Files.readAllLines(mf)
    Files.write(mf, new java.util.ArrayList(lines.subList(0, 4)))
    Thread.sleep(5) // distinct run= timestamp
    ValidatorApp.run(spark, cfg, s"$tmp/out")

    // fix is snapshot-level: the repaired snapshot must NEVER be truncated
    // to the resumed subset (round-2 advice, high)
    assert(spark.read.parquet(s"$tmp/fixed").count() == 3000L)

    // dataset-level rows come only from the first (full) run — the resumed
    // run must not union subset-derived duplicates (round-2 advice, medium)
    val union = ValidatorApp.readViolations(spark, s"$tmp/out")
    assert(union.filter(col("docId").isNull).count() == datasetRows)
    val dupMinus1 = ValidatorApp.readVerdicts(spark, s"$tmp/out")
      .filter(col("partitionId") === -1)
      .groupBy("checkId").count().filter(col("count") > 1).count()
    assert(dupMinus1 == 0)

    // union-of-runs ≡ a fresh full validation, row-for-row (null-safe keys:
    // several checks emit value = NULL)
    val fresh = Pipeline.violations(spark, spark.read.parquet(s"$tmp/docs"),
      cfg.schema).filter(col("docId").isNotNull).na.fill("<null>", Seq("value"))
    val got = union.filter(col("docId").isNotNull).na.fill("<null>", Seq("value"))
    val f = fresh.groupBy("check", "checkId", "docId", "kind", "value").count()
    val g = got.groupBy("check", "checkId", "docId", "kind", "value").count()
    val mismatch = f.join(g, Seq("check", "checkId", "docId", "kind", "value"), "full")
      .filter(!(f("count") <=> g("count"))).count()
    assert(mismatch == 0, s"union-of-runs differs from a fresh full run on $mismatch keys")
  }

  test("delta mode: app run against the prior snapshot's persisted core equals a full run") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("graft-delta").toString
    val prev = DocGen.documents(spark, 2000L).toDF()
    prev.write.mode("overwrite").parquet(s"$tmp/prev")
    // cur: remove %97==3, change %91==5 (span text suffix), add 100 fresh
    val num = substring(col("doc_id"), 5, 12).cast("long")
    val changedSpans = transform(col("spans"), s => struct(
      s.getField("kind").as("kind"),
      concat(coalesce(s.getField("text"), lit("")), lit("!")).as("text"),
      s.getField("media_ref").as("media_ref"),
      s.getField("offset").as("offset")))
    prev.filter(num % 97 =!= 3)
      .withColumn("spans",
        when(num % 91 === 5, changedSpans).otherwise(col("spans")))
      .unionByName(DocGen.documentsRange(spark, 2000L, 2100L, 2100L).toDF())
      .write.mode("overwrite").parquet(s"$tmp/cur")

    def conf(docs: String, out: String, extra: String = "") =
      s"""data.documents = $docs
         |data.snapshotId = ${new java.io.File(docs).getName}
         |checks = kinds-defined, uri-existence, datatype, cardinality
         |schema.kind.txt:title = datatype||http://www.w3.org/2001/XMLSchema#string
         |schema.kind.txt:count = datatype||http://www.w3.org/2001/XMLSchema#unsignedInt
         |schema.kind.med:link = object||class:Root
         |schema.class = class:Article, class:Root
         |schema.subclass = class:Article<class:Root
         |schema.restriction = class:Article|txt:title|min|1|http://www.w3.org/2001/XMLSchema#string|
         |buckets = 8
         |$extra
         |""".stripMargin
    def runWith(c: String, out: String): Unit = {
      val p = s"$out.properties"
      Files.writeString(java.nio.file.Paths.get(p), c)
      ValidatorApp.run(spark, ValidatorConfig.load(p), out)
    }

    runWith(conf(s"$tmp/prev", s"$tmp/o1"), s"$tmp/o1")      // full run, writes core
    def coreDir(out: String): String = {
      val d = new java.io.File(s"$out/core").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("run="))
      assert(d.length == 1, s"expected one core run dir, got ${d.toSeq}")
      d(0).getAbsolutePath
    }
    runWith(conf(s"$tmp/cur", s"$tmp/o2",
      s"delta.prevDocuments = $tmp/prev\ndelta.prevCore = ${coreDir(s"$tmp/o1")}"),
      s"$tmp/o2")                                            // delta run
    runWith(conf(s"$tmp/cur", s"$tmp/o3"), s"$tmp/o3")       // full run on cur

    def ms(out: String) = spark.read.parquet(s"$out/violations")
      .na.fill("<null>", Seq("docId", "kind", "value")) // null-safe join keys
      .groupBy("check", "checkId", "docId", "kind", "value", "bucket")
      .count()
    val (d, f) = (ms(s"$tmp/o2"), ms(s"$tmp/o3"))
    val mismatch = d.join(f, Seq("check", "checkId", "docId", "kind", "value", "bucket"), "full")
      .filter(!(d("count") <=> f("count"))).count()
    assert(mismatch == 0, s"delta app run differs from full on $mismatch keys")
    // the delta union is coalesced like the full run's: one violation
    // part file per core at most, not one per union branch partition
    val parts = new java.io.File(s"$tmp/o2/violations").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    assert(parts >= 1 && parts <= spark.sparkContext.defaultParallelism,
      s"delta run wrote $parts violation part files")
    // the delta run wrote ITS core (for the next snapshot) with lineage
    val core2 = spark.read.parquet(coreDir(s"$tmp/o2"))
    assert(core2.select("constraintHash").distinct().count() == 1)

    // a CLEAN prior run persists an EMPTY core — the lineage gate must
    // still accept it (empty carries nothing forward; without this the
    // common happy path made incremental validation unusable)
    val cleanSpans = array(struct(lit("txt:title").as("kind"),
      lit("ok").as("text"), lit(null).cast("string").as("media_ref"),
      lit(0).as("offset")))
    prev.withColumn("spans", cleanSpans)
      .write.mode("overwrite").parquet(s"$tmp/cleanPrev")
    prev.withColumn("spans", cleanSpans).filter(num =!= 7)
      .write.mode("overwrite").parquet(s"$tmp/cleanCur")
    def cleanConf(docs: String, extra: String = "") =
      s"""data.documents = $docs
         |data.snapshotId = ${new java.io.File(docs).getName}
         |checks = datatype
         |schema.kind.txt:title = datatype||http://www.w3.org/2001/XMLSchema#string
         |buckets = 8
         |$extra
         |""".stripMargin
    runWith(cleanConf(s"$tmp/cleanPrev"), s"$tmp/c1")
    assert(spark.read.parquet(coreDir(s"$tmp/c1")).count() == 0,
      "fixture must produce a clean (empty) core")
    runWith(cleanConf(s"$tmp/cleanCur",
      s"delta.prevDocuments = $tmp/cleanPrev\ndelta.prevCore = ${coreDir(s"$tmp/c1")}"),
      s"$tmp/c2") // must not throw 'lineage does not match'
    assert(spark.read.parquet(s"$tmp/c2/violations").count() == 0)

    // lineage gate: a different check set must refuse the old core
    val bad = conf(s"$tmp/cur", s"$tmp/o4",
      s"delta.prevDocuments = $tmp/prev\ndelta.prevCore = ${coreDir(s"$tmp/o1")}")
      .replace("checks = kinds-defined, uri-existence, datatype, cardinality",
        "checks = kinds-defined, datatype")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/o4.properties"), bad)
    intercept[IllegalArgumentException] {
      ValidatorApp.run(spark, ValidatorConfig.load(s"$tmp/o4.properties"), s"$tmp/o4")
    }
  }

  /** A core-shaped frame (violation columns + lineage) of `n` rows. */
  private def fakeCore(n: Int, constraintHash: String, checksHash: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(n).select(
      lit("DATATYPE-PROPERTIES-DATATYPE-101").as("checkId"), lit("error").as("severity"),
      concat(lit("doc:"), col("id").cast("string")).as("docId"), lit("txt:count").as("kind"),
      lit("abc").as("value"), lit("xsd:unsignedInt").as("expected"),
      lit("DATATYPE-PROPERTIES-DATATYPE").as("check"),
      lit(constraintHash).as("constraintHash"), lit(checksHash).as("checksHash"))
  }

  test("delta lineage gate: a mismatched core is refused from its footers before any Spark job starts") {
    val tmp = tempDir("graft-gate").toString
    DocGen.documents(spark, 300L).toDF().write.parquet(s"$tmp/prev")
    DocGen.documents(spark, 310L).toDF().write.parquet(s"$tmp/cur")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/run.properties"),
      fullConf(s"$tmp/cur", s"$tmp/out") +
        s"delta.prevDocuments = $tmp/prev\ndelta.prevCore = $tmp/core\n")
    val cfg = ValidatorConfig.load(s"$tmp/run.properties")
    fakeCore(50, cfg.schema.constraintHash, "another-check-set")
      .write.parquet(s"$tmp/core")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.shims.waitForListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val ex = intercept[IllegalArgumentException](ValidatorApp.run(spark, cfg, s"$tmp/out"))
      assert(ex.getMessage.contains("does not match this config") &&
        ex.getMessage.contains("another-check-set"), ex.getMessage)
      org.apache.spark.sql.graft.shims.waitForListeners(spark)
      assert(jobs.get == 0, s"${jobs.get} Spark jobs ran before the refusal")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("delta lineage gate: two checksHash values across or within files, NULL lineage and missing statistics are refused") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("graft-gate-files").toString
    val (ch, kh) = ("c0ffee", "k1")
    def gate(dir: String): Unit = ValidatorApp.coreLineageGate(spark, s"$tmp/$dir", ch, kh)
    def refused(dir: String): String =
      intercept[IllegalArgumentException](gate(dir)).getMessage

    fakeCore(40, ch, kh).coalesce(1).write.parquet(s"$tmp/ok")
    gate("ok")
    // an empty core (no row groups) carries nothing and passes
    fakeCore(0, ch, kh).write.parquet(s"$tmp/empty")
    gate("empty")

    // two files, each internally uniform, one from another check set
    fakeCore(40, ch, kh).coalesce(1).write.parquet(s"$tmp/two")
    fakeCore(40, ch, "k2").coalesce(1).write.mode("append").parquet(s"$tmp/two")
    assert(new java.io.File(s"$tmp/two").listFiles().count(_.getName.endsWith(".parquet")) == 2)
    assert(refused("two").contains("[k2, k2]"))
    // both values inside one file's row group
    fakeCore(40, ch, kh).withColumn("checksHash",
        when(col("docId") === "doc:7", lit("k2")).otherwise(col("checksHash")))
      .coalesce(1).write.parquet(s"$tmp/mixed")
    assert(refused("mixed").contains("[k1, k2]"))

    // NULL lineage: some rows, and all rows
    fakeCore(40, ch, kh).withColumn("constraintHash",
        when(col("docId") === "doc:3", lit(null).cast("string")).otherwise(col("constraintHash")))
      .coalesce(1).write.parquet(s"$tmp/somenull")
    assert(refused("somenull").contains("1 NULLs"))
    fakeCore(40, ch, kh).withColumn("checksHash", lit(null).cast("string"))
      .coalesce(1).write.parquet(s"$tmp/allnull")
    assert(refused("allnull").contains("[NULL, NULL]"))

    // a row group without statistics cannot be decided: refused, naming the file
    fakeCore(40, ch, kh).coalesce(1).write
      .option("parquet.column.statistics.enabled", "false").parquet(s"$tmp/nostats")
    val file = new java.io.File(s"$tmp/nostats").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getName
    val msg = refused("nostats")
    assert(msg.contains("without") && msg.contains(file), msg)
  }

  test("a refused config leaves no run= directory and no manifest record") {
    val tmp = tempDir("graft-refuse").toString
    DocGen.documents(spark, 300L).toDF().write.mode("overwrite").parquet(s"$tmp/docs")
    val cfg = ValidatorConfig(
      documentsPath = s"$tmp/docs", snapshotId = "snap-refuse",
      checkKeys = Seq("datatype"), schema = DocGen.schema, xmlOut = None,
      jsonOut = None, manifestPath = Some(s"$tmp/o1/manifest.jsonl"), nBuckets = 8)
    ValidatorApp.run(spark, cfg, s"$tmp/o1")   // a full run: its manifest and core
    val manifest = java.nio.file.Paths.get(s"$tmp/o1/manifest.jsonl")
    val recorded = Files.readAllLines(manifest)
    val core = new java.io.File(s"$tmp/o1/core").listFiles()
      .filter(_.getName.startsWith("run="))(0).getAbsolutePath
    val delta = cfg.copy(deltaPrevDocuments = Some(s"$tmp/docs"), deltaPrevCore = Some(core))
    val refused = Seq(
      // delta over a key the manifest already records complete: a resume
      "o2" -> (delta, "bucket-resume"),
      "o3" -> (delta.copy(checkKeys = Seq("kinds-defined"),
        manifestPath = Some(s"$tmp/o3/manifest.jsonl")), "row-local"),
      "o4" -> (cfg.copy(driftPrevProfile = Some(s"$tmp/o1"),
        manifestPath = Some(s"$tmp/o4/manifest.jsonl")), "profile.enabled"))
    for ((out, (c, why)) <- refused) {
      val e = intercept[IllegalArgumentException](ValidatorApp.run(spark, c, s"$tmp/$out"))
      assert(e.getMessage.contains(why), s"$out: ${e.getMessage}")
      val runs = Option(new java.io.File(s"$tmp/$out/violations").listFiles()).toSeq.flatten
      assert(runs.isEmpty, s"$out left ${runs.map(_.getName)}")
      assert(!Files.exists(java.nio.file.Paths.get(s"$tmp/$out/manifest.jsonl")), out)
    }
    assert(Files.readAllLines(manifest) == recorded)
  }
}
