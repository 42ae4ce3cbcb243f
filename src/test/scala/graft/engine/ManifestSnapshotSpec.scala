package graft.engine

import graft.SparkTestBase
import graft.datagen.DocGen
import java.nio.file.{Files, Path}
import java.util.Comparator

/** Snapshot isolation via the manifest's per-run FILE listings (round-3
  * verdict item 5): a reader resolving a snapshot through the manifest sees
  * exactly the committed file set — an interleaved writer that has written
  * parquet (even verdicts!) but not its manifest commit record is
  * invisible, where a directory-convention read double-counts.
  */
class ManifestSnapshotSpec extends SparkTestBase {

  private def copyTree(src: Path, dst: Path): Unit =
    scala.util.Using.resource(Files.walk(src)) {
      _.sorted(Comparator.naturalOrder[Path]).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    }

  test("interleaved uncommitted writer cannot make a committed reader double-count") {
    val tmp = tempDir("graft-snap").toString
    DocGen.documents(spark, 1500L).toDF()
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val cfg = ValidatorConfig(
      documentsPath = s"$tmp/docs", snapshotId = "snap-iso",
      checkKeys = Seq("kinds-defined", "uri-existence", "datatype"),
      schema = DocGen.schema, xmlOut = None, jsonOut = None,
      manifestPath = Some(s"$tmp/manifest.jsonl"), nBuckets = 8)

    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val m = new Manifest(s"$tmp/manifest.jsonl")
    val committed = ValidatorApp.readViolationsCommitted(spark, s"$tmp/out", m,
      "snap-iso", cfg.schema.constraintHash, cfg.checksHash)
    val nCommitted = committed.count()
    assert(nCommitted > 0)
    // manifest-resolved winners cover every bucket the verdicts recorded
    assert(m.committedBucketRuns("snap-iso", cfg.schema.constraintHash,
      cfg.checksHash).nonEmpty)
    assert(m.committedSnapshot("snap-iso", cfg.schema.constraintHash,
      cfg.checksHash)._1.forall(_.endsWith(".parquet")))

    // simulate an INTERLEAVED writer: violations AND verdicts durably
    // written under a newer run id, but no manifest commit record (crashed
    // mid-commit, or still running)
    val vDir = java.nio.file.Paths.get(s"$tmp/out/violations")
    val runA = scala.util.Using.resource(Files.list(vDir))(
      _.iterator().next().getFileName.toString)
    val runB = s"run=${runA.stripPrefix("run=").toLong + 1}"
    copyTree(vDir.resolve(runA), vDir.resolve(runB))
    val dDir = java.nio.file.Paths.get(s"$tmp/out/verdicts")
    copyTree(dDir.resolve(runA), dDir.resolve(runB))

    // a directory-convention union now sees both runs' rows...
    val naive = spark.read.parquet(s"$tmp/out/violations").count()
    assert(naive == 2 * nCommitted, s"naive=$naive committed=$nCommitted")
    // ...the committed reader still sees exactly run A
    val after = ValidatorApp.readViolationsCommitted(spark, s"$tmp/out", m,
      "snap-iso", cfg.schema.constraintHash, cfg.checksHash)
    assert(after.count() == nCommitted)

    // and a different snapshot key resolves to nothing (no torn reads
    // across keys)
    assert(ValidatorApp.readViolationsCommitted(spark, s"$tmp/out", m,
      "snap-other", cfg.schema.constraintHash, cfg.checksHash).isEmpty)
  }

  test("a run-less completion record is never a winning run: the committed run keeps every row") {
    import scala.jdk.CollectionConverters._
    val session = spark
    import session.implicits._
    val tmp = tempDir("graft-runless")
    val (snap, cHash, kHash) = ("snap-rl", "c0ffee01", "k1")
    // run 100: rows in buckets 0 and 1, and a dataset-level row (bucket -1)
    val runDir = tmp.resolve("out/violations/run=100")
    Seq(("CHECK-A", "doc:1", 0), ("CHECK-A", "doc:2", 1), ("CHECK-DS", "", -1))
      .toDF("checkId", "docId", "bucket").write.parquet(runDir.toString)
    val files = scala.util.Using.resource(Files.list(runDir))(
      _.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted)
    val path = tmp.resolve("manifest.jsonl")
    val m = new Manifest(path.toString)
    m.recordFiles(snap, cHash, 100L, files, kHash)
    m.recordRun(snap, cHash, 100L, Seq((0, 1L, 1L), (1, 1L, 1L)), kHash)
    // a completion record for another bucket, appended by a writer with no
    // run id (it wrote run -1)
    Files.write(path, (s"""{"snapshotId":"$snap","constraintHash":"$cHash",""" +
      s""""checksHash":"$kHash","bucket":2,"run":-1,"nDocs":1,"nViolations":0,""" +
      s""""completedAt":"2026-01-01T00:00:00Z"}\n""").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)

    val got = ValidatorApp.readViolationsCommitted(spark, s"$tmp/out", m, snap, cHash, kHash)
      .select("checkId", "docId").as[(String, String)].collect().toSet
    assert(got == Set(("CHECK-A", "doc:1"), ("CHECK-A", "doc:2"), ("CHECK-DS", "")))
    // bucket 2 is complete for resume, but no run committed it
    assert(m.completedBuckets(snap, cHash, kHash) == Set(0, 1, 2))
    assert(m.committedBucketRuns(snap, cHash, kHash) == Map(0 -> 100L, 1 -> 100L))
  }

  test("time travel: asOfRun resolves the snapshot as of an earlier commit; history lists travel points") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val tmp = tempDir("graft-travel").toString
    DocGen.documents(spark, 1500L).toDF()
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val cfg = ValidatorConfig(
      documentsPath = s"$tmp/docs", snapshotId = "snap-tt",
      checkKeys = Seq("kinds-defined", "uri-existence", "datatype"),
      schema = DocGen.schema, xmlOut = None, jsonOut = None,
      manifestPath = Some(s"$tmp/manifest.jsonl"), nBuckets = 8)
    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val m = new Manifest(s"$tmp/manifest.jsonl")
    val (cHash, kHash) = (cfg.schema.constraintHash, cfg.checksHash)
    val runA = m.committedRuns("snap-tt", cHash, kHash) match {
      case Seq(r) => r
      case other => fail(s"expected one committed run, got $other")
    }
    val asOfA = ValidatorApp.readViolationsCommitted(spark, s"$tmp/out", m,
      "snap-tt", cHash, kHash, asOfRun = runA)
    val nA = asOfA.count()
    assert(nA > 0 && asOfA.filter(col("value") === "TRAVELED").isEmpty)

    // commit a SECOND run that rewrites every row with a marker (the
    // shape a revalidating resume produces)
    val runB = runA + 1
    val vB = s"$tmp/out/violations/run=$runB"
    spark.read.parquet(s"$tmp/out/violations/run=$runA")
      .withColumn("value", lit("TRAVELED"))
      .write.mode("overwrite").parquet(vB)
    val files = scala.util.Using.resource(
      Files.list(java.nio.file.Paths.get(vB)))(
      _.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted)
    m.recordFiles("snap-tt", cHash, runB, files, kHash)
    val buckets = m.committedBucketRuns("snap-tt", cHash, kHash).keySet
    m.recordRun("snap-tt", cHash, runB,
      buckets.toSeq.map(b => (b, 1L, 1L)), kHash)

    assert(m.committedRuns("snap-tt", cHash, kHash) == Seq(runA, runB))
    // latest: every doc-level bucket won by run B; dataset-level rows
    // (bucket -1) stay with the FIRST full run by design
    val latest = ValidatorApp.readViolationsCommitted(spark, s"$tmp/out", m,
      "snap-tt", cHash, kHash)
    assert(latest.count() == nA)
    assert(latest.filter(col("docId").isNotNull &&
      col("value") =!= "TRAVELED").isEmpty)
    // as-of run A: byte-for-byte the pre-rewrite world
    val traveled = ValidatorApp.readViolationsCommitted(spark, s"$tmp/out", m,
      "snap-tt", cHash, kHash, asOfRun = runA)
    assert(traveled.count() == nA)
    assert(traveled.filter(col("value") === "TRAVELED").isEmpty)
  }
}
