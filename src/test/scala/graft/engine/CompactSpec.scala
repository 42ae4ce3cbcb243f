package graft.engine

import graft.SparkTestBase
import graft.datagen.DocGen
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Compaction invariants: identical snapshot before/after, resume sees
  * everything complete, superseded run dirs removable.
  */
class CompactSpec extends SparkTestBase {

  test("compact folds a multi-run outDir into one committed baseline run") {
    val tmp = tempDir("graft-compact").toString
    DocGen.documents(spark, 2000L).toDF()
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val cfg = ValidatorConfig(
      documentsPath = s"$tmp/docs", snapshotId = "snap-c",
      checkKeys = Seq("kinds-defined", "uri-existence", "datatype", "cardinality"),
      schema = DocGen.schema, xmlOut = None, jsonOut = None,
      manifestPath = Some(s"$tmp/manifest.jsonl"), nBuckets = 8)

    // run 1 (full), then a partial resume (runs 2): a classic multi-run dir
    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val mf = java.nio.file.Paths.get(s"$tmp/manifest.jsonl")
    val lines = Files.readAllLines(mf)
    Files.write(mf, new java.util.ArrayList(lines.subList(0, 4)))
    ValidatorApp.run(spark, cfg, s"$tmp/out")
    def runDirs(sub: String): Seq[String] =
      scala.util.Using.resource(Files.list(java.nio.file.Paths.get(s"$tmp/out/$sub")))(
        _.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("run=")).toSeq.sorted)
    assert(runDirs("violations").size >= 2)

    def key(df: org.apache.spark.sql.DataFrame) = df
      .na.fill("<null>", Seq("value", "docId"))
      .groupBy("check", "checkId", "docId", "kind", "value").count()
    val before = key(ValidatorApp.readViolations(spark, s"$tmp/out", 8)).collect()
      .map(_.toSeq).toSet
    val nBefore = ValidatorApp.readViolations(spark, s"$tmp/out", 8).count()

    val newRun = Compact.compact(spark, cfg, s"$tmp/out", deleteOldRuns = true)

    // exactly one run dir remains, both tables
    assert(runDirs("violations") == Seq(s"run=$newRun"), runDirs("violations").toString)
    assert(runDirs("verdicts") == Seq(s"run=$newRun"), runDirs("verdicts").toString)

    // identical snapshot through BOTH readers
    val m = new Manifest(s"$tmp/manifest.jsonl")
    val afterUnion = key(ValidatorApp.readViolations(spark, s"$tmp/out", 8)).collect()
      .map(_.toSeq).toSet
    val afterCommitted = key(ValidatorApp.readViolationsCommitted(spark, s"$tmp/out",
      m, "snap-c", cfg.schema.constraintHash, cfg.checksHash)).collect()
      .map(_.toSeq).toSet
    assert(afterUnion == before)
    assert(afterCommitted == before)
    assert(ValidatorApp.readViolations(spark, s"$tmp/out", 8).count() == nBefore)

    // the compacted manifest records full completion: a resume is a no-op
    val remaining = Pipeline.resumable(spark, spark.read.parquet(s"$tmp/docs"),
      m, "snap-c", cfg.schema, 8, cfg.checksHash)
    assert(remaining.count() == 0)
    // and only the compacted run's files are committed
    assert(m.committedSnapshot("snap-c", cfg.schema.constraintHash, cfg.checksHash)._1
      .forall(_.contains(s"run=$newRun")))
  }
}
