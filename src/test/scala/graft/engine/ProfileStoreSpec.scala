package graft.engine

import graft.SparkTestBase
import graft.datagen.DocGen
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Per-run profile artifact + stored-profile drift: the app persists
  * per-bucket mergeable profile rows alongside results, the corpus
  * profile folds from them exactly, and snapshot-over-snapshot drift is
  * computed from the stored blobs alone — detecting a planted text-length
  * shift without rescanning either snapshot.
  */
class ProfileStoreSpec extends SparkTestBase {

  private def appendPad(docs: org.apache.spark.sql.DataFrame) = {
    val pad = lit("x" * 200)
    docs.withColumn("spans",
      when(pmod(xxhash64(col("doc_id")), lit(2)) === 0,
        transform(col("spans"), s => struct(
          s.getField("kind").as("kind"),
          concat(s.getField("text"), pad).as("text"),
          s.getField("media_ref").as("media_ref"),
          s.getField("offset").as("offset"))))
        .otherwise(col("spans")))
  }

  test("profile rows per bucket; corpusProfile exact; stored-blob drift flags the planted shift") {
    val tmp = tempDir("graft-profile").toString
    val docsA = DocGen.documents(spark, 3000L).toDF()
    docsA.write.mode("overwrite").parquet(s"$tmp/docsA")
    // snapshot B: every span of every even doc grows by 200 chars — a
    // distribution shift in n_chars, none in n_spans/n_media
    appendPad(docsA).write.mode("overwrite").parquet(s"$tmp/docsB")

    def conf(docs: String, snap: String, drift: Option[String]): String = {
      val d = drift.map(p => s"drift.prevProfile = $p\n").getOrElse("")
      s"""data.documents = $tmp/$docs
         |data.snapshotId = $snap
         |checks = doc-id-unique
         |buckets = 8
         |profile.enabled = true
         |$d""".stripMargin
    }
    Files.writeString(java.nio.file.Paths.get(s"$tmp/a.properties"),
      conf("docsA", "snap-a", None))
    Files.writeString(java.nio.file.Paths.get(s"$tmp/b.properties"),
      conf("docsB", "snap-b", Some(s"$tmp/outA")))

    ValidatorApp.run(spark, ValidatorConfig.load(s"$tmp/a.properties"), s"$tmp/outA")
    // one row per (bucket, metric column), all 8 buckets populated
    val rowsA = ProfileStore.read(spark, s"$tmp/outA")
    assert(rowsA.count() == 8L * ProfileStore.MetricCols.size)
    assert(rowsA.select("snapshotId").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("snap-a"))

    // corpus profile from stored rows == direct aggregates, exactly
    val prof = ProfileStore.corpusProfile(spark, s"$tmp/outA").collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    val metrics = ProfileStore.spanMetrics(
      spark.read.parquet(s"$tmp/docsA"), 8)
    val direct = metrics.agg(
      count("doc_id"), sum("n_chars"), sum("n_spans").cast("long"),
      count("n_chars")).collect()(0)
    assert(prof("doc_id").getAs[Long]("n") == direct.getLong(0))
    assert(prof("n_chars").getAs[Long]("sum_l") == direct.getLong(1))
    assert(prof("n_spans").getAs[Long]("sum_l") == direct.getLong(2))
    assert(prof("n_chars").getAs[Long]("n") == direct.getLong(3))

    ValidatorApp.run(spark, ValidatorConfig.load(s"$tmp/b.properties"), s"$tmp/outB")
    val report = spark.read.parquet(s"$tmp/outB/drift").collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    // exact counts carried through both stored profiles
    assert(report("doc_id").getAs[Long]("n_prev") == 3000L &&
      report("doc_id").getAs[Long]("n_cur") == 3000L)
    // the planted +200-per-span shift on half the docs moves the n_chars
    // distribution hard; the untouched metrics stay near-identical (the
    // two sides' sketches differ only by merge order)
    assert(report("n_chars").getAs[Long]("ks_e6") > 100000L,
      s"n_chars ks ${report("n_chars").getAs[Long]("ks_e6")}")
    assert(report("n_spans").getAs[Long]("ks_e6") < 30000L,
      s"n_spans ks ${report("n_spans").getAs[Long]("ks_e6")}")
    assert(report("n_media").getAs[Long]("ks_e6") < 30000L)
    // doc_id is a string metric: no distribution plane, sentinel zeros
    assert(report("doc_id").getAs[Long]("ks_e6") == 0L)
  }

  test("delta profile: touched buckets recomputed, untouched carried byte-for-byte, result ≡ full recompute") {
    val tmp = tempDir("graft-profile-delta").toString
    val docsA = DocGen.documents(spark, 3000L).toDF().cache()
    // B touches only SOME docs: pad spans of docs whose bucket ∈ {0, 3}
    val bucket = pmod(xxhash64(col("doc_id")), lit(8))
    val pad = lit("z" * 100)
    val docsB = docsA.withColumn("spans",
      when(bucket.isin(0, 3),
        transform(col("spans"), s => struct(
          s.getField("kind").as("kind"),
          concat(s.getField("text"), pad).as("text"),
          s.getField("media_ref").as("media_ref"),
          s.getField("offset").as("offset"))))
        .otherwise(col("spans"))).cache()

    ProfileStore.writeRun(spark, docsA, 8, s"$tmp/outA", 1L, "snap-a")
    ProfileStore.writeRunDelta(spark, docsA, s"$tmp/outA", docsB, 8,
      s"$tmp/outB", 2L, "snap-b")
    ProfileStore.writeRun(spark, docsB, 8, s"$tmp/outFull", 3L, "snap-b")

    def rows(dir: String) = ProfileStore.read(spark, dir)
    // delta ≡ full on every exact channel, every (bucket, column) row
    val exact = Seq("n", "nulls", "min_d", "max_d", "min_s", "max_s", "sum_l")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("part") +: col("column") +: exact.map(col): _*)
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
    assert(keyed(rows(s"$tmp/outB")) == keyed(rows(s"$tmp/outFull")))
    // untouched buckets' sketch blobs are carried BYTE-identically from A
    def blobs(dir: String) = ProfileStore.read(spark, dir)
      .filter(!col("part").isin(0, 3))
      .select("part", "column", "hll", "kll").collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getAs[Array[Byte]](2).toSeq, r.getAs[Array[Byte]](3) match {
          case null => Seq.empty[Byte]; case b => b.toSeq
        }))).toMap
    assert(blobs(s"$tmp/outB") == blobs(s"$tmp/outA"))
    // and the touched buckets really did change
    val changedB = ProfileStore.read(spark, s"$tmp/outB")
      .filter(col("part").isin(0, 3) && col("column") === "n_chars")
      .select("part", "sum_l").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val changedA = ProfileStore.read(spark, s"$tmp/outA")
      .filter(col("part").isin(0, 3) && col("column") === "n_chars")
      .select("part", "sum_l").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(changedB.forall { case (k, v) => v > changedA(k) })
    // no-change delta: everything carried
    ProfileStore.writeRunDelta(spark, docsB, s"$tmp/outFull", docsB, 8,
      s"$tmp/outNoop", 4L, "snap-b2")
    assert(keyed(rows(s"$tmp/outNoop")) == keyed(rows(s"$tmp/outFull")))
    docsA.unpersist(); docsB.unpersist()
  }

  test("delta profile over an EMPTY prior profile ≡ full profile; mixed or mispointed priors refused") {
    val tmp = tempDir("graft-profile-empty").toString
    val docsB = DocGen.documents(spark, 1500L).toDF().cache()
    val empty = docsB.limit(0)
    // an empty prior corpus profiles to zero rows (0 snapshotIds)
    ProfileStore.writeRun(spark, empty, 8, s"$tmp/outA", 1L, "snap-empty")
    assert(ProfileStore.read(spark, s"$tmp/outA").count() == 0L)
    ProfileStore.writeRunDelta(spark, empty, s"$tmp/outA", docsB, 8,
      s"$tmp/outB", 2L, "snap-b", expectPrevSnapshotId = Some("snap-empty"))
    ProfileStore.writeRun(spark, docsB, 8, s"$tmp/outFull", 3L, "snap-b")
    val exact = Seq("part", "column", "n", "nulls", "min_d", "max_d", "min_s", "max_s", "sum_l")
    def keyed(dir: String) = ProfileStore.read(spark, dir)
      .select(exact.map(col): _*).collect().map(_.toSeq).toSet
    assert(keyed(s"$tmp/outB").size == 8 * ProfileStore.MetricCols.size)
    assert(keyed(s"$tmp/outB") == keyed(s"$tmp/outFull"))

    // more than one snapshotId in the prior: torn or mixed, refused
    ProfileStore.read(spark, s"$tmp/outFull")
      .withColumn("snapshotId", when(col("part") === 0, lit("other"))
        .otherwise(col("snapshotId")))
      .write.parquet(s"$tmp/outMixed/profile/run=5")
    val mixed = intercept[IllegalArgumentException] {
      ProfileStore.writeRunDelta(spark, docsB, s"$tmp/outMixed", docsB, 8,
        s"$tmp/outC", 6L, "snap-c")
    }
    assert(mixed.getMessage.contains("2 distinct snapshotIds"))
    // one snapshotId, but not the expected one: mispointed, refused
    val mispointed = intercept[IllegalArgumentException] {
      ProfileStore.writeRunDelta(spark, docsB, s"$tmp/outFull", docsB, 8,
        s"$tmp/outD", 7L, "snap-d", expectPrevSnapshotId = Some("snap-a"))
    }
    assert(mispointed.getMessage.contains("mispointed"))
    docsB.unpersist()
  }

  test("bucket-partitioned layout: the delta's touched-bucket filter prunes the scan to the touched directories") {
    val tmp = tempDir("graft-profile-prune").toString
    val docs = DocGen.documents(spark, 2000L).toDF()
    ProfileStore.writeBucketPartitioned(docs, 8, s"$tmp/docsPart")
    val part = spark.read.parquet(s"$tmp/docsPart")
    // the partition column is trusted, not recomputed...
    val metrics = ProfileStore.spanMetrics(part, 8)
    val filtered = metrics.filter(col("bucket").isin(2, 5))
    filtered.count()
    val plan = filtered.queryExecution.executedPlan.toString
    // ...so the filter reaches the scan as PARTITION pruning
    assert(plan.contains("PartitionFilters: ["), plan.takeRight(800))
    assert("PartitionCount: 2".r.findFirstIn(
      filtered.queryExecution.optimizedPlan.toString + plan).isDefined ||
      plan.contains("bucket#"), plan.takeRight(800))
    // pruned results equal the derived-bucket computation on the raw docs
    val derived = ProfileStore.spanMetrics(docs, 8)
      .filter(col("bucket").isin(2, 5))
    assert(filtered.count() == derived.count())
    val a = filtered.orderBy("doc_id").collect().map(r =>
      (r.getString(0), r.get(1), r.get(2), r.get(3), r.getInt(4))).toSeq
    val b = derived.orderBy("doc_id").collect().map(r =>
      (r.getString(0), r.get(1), r.get(2), r.get(3), r.getInt(4))).toSeq
    assert(a == b)
    // and writeRunDelta over the partitioned layout matches the full path
    ProfileStore.writeRun(spark, docs, 8, s"$tmp/outA", 1L, "snap-a")
    ProfileStore.writeRunDelta(spark, docs, s"$tmp/outA", part, 8,
      s"$tmp/outB", 2L, "snap-b")
    assert(ProfileStore.read(spark, s"$tmp/outB").count() ==
      8L * ProfileStore.MetricCols.size)
  }

  test("trusted bucket check reads a bounded sample of a valid corpus; wrong bucket counts and unrelated columns refused") {
    val tmp = tempDir("graft-profile-trust").toString
    val n = 40L * ProfileStore.TrustedBucketSample
    val docs = DocGen.documents(spark, n).toDF()
    ProfileStore.writeBucketPartitioned(docs, 8, s"$tmp/docsPart")
    val part = spark.read.parquet(s"$tmp/docsPart")
    // rows the check's scan reads, from the executors' input metrics
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    org.apache.spark.sql.graft.shims.waitForListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      ProfileStore.validateTrustedBucket(part, 8)
      org.apache.spark.sql.graft.shims.waitForListeners(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read.get > 0 && read.get < n / 4,
      s"a valid bucket column must be checked on a sample: read ${read.get} of $n rows")
    // the sample still catches both failure modes
    val wrongCount = intercept[IllegalArgumentException] {
      ProfileStore.validateTrustedBucket(part, 16)
    }
    assert(wrongCount.getMessage.contains("disagrees with pmod(xxhash64(doc_id), 16)"))
    val unrelated = intercept[IllegalArgumentException] {
      ProfileStore.validateTrustedBucket(docs.withColumn("bucket", length(col("doc_id"))), 8)
    }
    assert(unrelated.getMessage.contains("wrong bucket count or an unrelated column"))
  }

  test("committed profile read: a torn writer without its artifact record is invisible") {
    val tmp = tempDir("graft-profile-commit").toString
    DocGen.documents(spark, 1200L).toDF()
      .write.mode("overwrite").parquet(s"$tmp/docs")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/run.properties"),
      s"""data.documents = $tmp/docs
         |data.snapshotId = snap-pc
         |checks = doc-id-unique
         |buckets = 8
         |profile.enabled = true
         |manifest = $tmp/manifest.jsonl
         |""".stripMargin)
    val cfg = ValidatorConfig.load(s"$tmp/run.properties")
    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val m = new Manifest(s"$tmp/manifest.jsonl")
    val committed = ProfileStore.readCommitted(spark, m, "snap-pc",
      cfg.schema.constraintHash, cfg.checksHash)
    assert(committed.isDefined)
    val nA = committed.get.count()
    assert(nA == 8L * ProfileStore.MetricCols.size)

    // the run also persisted + committed its stage-metrics rows
    val metrics = spark.read.parquet(s"$tmp/out/metrics").collect()
      .map(r => r.getAs[String]("stage") -> r).toMap
    Seq("validate_persist", "verdicts", "manifest_commit", "profile", "reports")
      .foreach(st => assert(metrics.contains(st), s"missing stage $st"))
    assert(metrics("validate_persist").getAs[Long]("wall_ms") > 0L)
    assert(metrics("profile").getAs[Long]("scans") >= 1L)
    assert(m.committedArtifacts("metrics", "snap-pc",
      cfg.schema.constraintHash, cfg.checksHash).nonEmpty)

    // torn writer: a NEWER profile run dir durably on disk, no record
    val pDir = java.nio.file.Paths.get(s"$tmp/out/profile")
    val runA = scala.util.Using.resource(Files.list(pDir))(
      _.iterator().next().getFileName.toString)
    val runB = runA.stripPrefix("run=").toLong + 1
    ProfileStore.read(spark, s"$tmp/out")
      .withColumn("snapshotId", org.apache.spark.sql.functions.lit("TORN"))
      .write.parquet(s"$tmp/out/profile/run=$runB")
    // the directory-listing fallback SEES the torn run (max-run wins)...
    assert(ProfileStore.read(spark, s"$tmp/out")
      .filter(org.apache.spark.sql.functions.col("snapshotId") === "TORN")
      .count() == nA)
    // ...the committed reader does not
    val after = ProfileStore.readCommitted(spark, m, "snap-pc",
      cfg.schema.constraintHash, cfg.checksHash).get
    assert(after.filter(org.apache.spark.sql.functions.col("snapshotId") === "TORN").isEmpty)
    assert(after.count() == nA)
  }

  test("expireRuns: old committed profile runs retire record-first; travel to them returns None") {
    val tmp = tempDir("graft-profile-expire").toString
    val docs = DocGen.documents(spark, 600L).toDF()
    val m = new Manifest(s"$tmp/manifest.jsonl")
    import scala.jdk.CollectionConverters._
    def commit(run: Long): Unit = {
      ProfileStore.writeRun(spark, docs, 4, s"$tmp/out", run, s"snap-e")
      val dir = java.nio.file.Paths.get(s"$tmp/out/profile/run=$run")
      val files = scala.util.Using.resource(Files.list(dir))(
        _.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted)
      m.recordArtifact("profile", "snap-e", "chash", run, files, "khash")
    }
    Seq(1L, 2L, 3L).foreach(commit)
    assert(ProfileStore.readCommitted(spark, m, "snap-e", "chash", "khash").isDefined)
    val expired = ProfileStore.expireRuns(spark, s"$tmp/out", m,
      "snap-e", "chash", "khash", keep = 1)
    assert(expired == Seq(1L, 2L))
    // directories gone, records retired, latest still resolves
    assert(!Files.exists(java.nio.file.Paths.get(s"$tmp/out/profile/run=1")))
    assert(Files.exists(java.nio.file.Paths.get(s"$tmp/out/profile/run=3")))
    assert(m.committedArtifacts("profile", "snap-e", "chash", "khash").keySet == Set(3L))
    assert(ProfileStore.readCommitted(spark, m, "snap-e", "chash", "khash")
      .get.count() == 4L * ProfileStore.MetricCols.size)
    // time travel to an expired run: None, the documented expire contract
    assert(ProfileStore.readCommitted(spark, m, "snap-e", "chash", "khash",
      asOfRun = 2L).isEmpty)
    // expire is idempotent and keep >= 1 enforced
    assert(ProfileStore.expireRuns(spark, s"$tmp/out", m,
      "snap-e", "chash", "khash", keep = 1).isEmpty)
    intercept[IllegalArgumentException] {
      ProfileStore.expireRuns(spark, s"$tmp/out", m, "snap-e", "chash", "khash", 0)
    }
  }

  test("committed profile read: a retried commit of the same run reads the retry's rows") {
    val tmp = tempDir("graft-profile-retry").toString
    val m = new Manifest(s"$tmp/manifest.jsonl")
    import scala.jdk.CollectionConverters._
    // a retry rewrites the run directory (new part-file names, the first
    // attempt's files deleted) and then records the run again
    def commit(nDocs: Long): Unit = {
      ProfileStore.writeRun(spark, DocGen.documents(spark, nDocs).toDF(), 4,
        s"$tmp/out", 1L, "snap-r")
      val dir = java.nio.file.Paths.get(s"$tmp/out/profile/run=1")
      val files = scala.util.Using.resource(Files.list(dir))(
        _.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted)
      m.recordArtifact("profile", "snap-r", "chash", 1L, files, "khash")
    }
    commit(600L)
    commit(900L)
    val rows = ProfileStore.readCommitted(spark, m, "snap-r", "chash", "khash").get
    assert(rows.count() == 4L * ProfileStore.MetricCols.size)
    assert(rows.filter(col("column") === "doc_id").agg(sum("n")).collect()(0).getLong(0) == 900L)
  }

  test("drift.prevProfile without profile.enabled is refused") {
    val tmp = tempDir("graft-profile-bad").toString
    DocGen.documents(spark, 100L).toDF()
      .write.mode("overwrite").parquet(s"$tmp/docs")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/bad.properties"),
      s"""data.documents = $tmp/docs
         |checks = doc-id-unique
         |drift.prevProfile = $tmp/nowhere
         |""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      ValidatorApp.run(spark, ValidatorConfig.load(s"$tmp/bad.properties"), s"$tmp/out")
    }
    assert(e.getMessage.contains("profile.enabled"))
  }

  test("a long doc_id corpus: the profile's buckets are the verdicts' buckets") {
    val tmp = tempDir("graft-profile-long").toString
    val docs = DocGen.documents(spark, 600L).toDF()
      .withColumn("doc_id", substring(col("doc_id"), 5, 12).cast("long"))
    ProfileStore.writeRun(spark, docs, 8, tmp, 1L, "snap-long")
    val profiled = ProfileStore.read(spark, tmp).filter(col("column") === "doc_id")
      .select(col("part").cast("int"), col("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val verdicts = Pipeline.verdictsFrom(spark,
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          ValidatorApp.violationsSchema),
        docs, DocGen.schema, "snap-long", 8, Seq(graft.checks.CheckDomain))
      .filter(col("partitionId") >= 0)
      .select(col("partitionId"), col("nDocs")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(verdicts.values.sum == 600L)
    assert(profiled == verdicts)
  }
}
