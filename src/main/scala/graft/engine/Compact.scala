package graft.engine

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Output-dir compaction — the Iceberg `rewrite_data_files` +
  * `expire_snapshots` analogue for a long-lived multi-run validation
  * outDir. A 10^12-doc snapshot validated through many partial resumes
  * accumulates one `run=` dir per attempt; every union read then lists and
  * winner-joins all of them forever. `compact` rewrites the CURRENT
  * snapshot (winner rows only) as ONE new committed baseline run, rewrites
  * the manifest to reference only that run (atomic file replace — readers
  * never see a half-state), and optionally deletes the superseded run
  * dirs.
  *
  * Invariants (CompactSpec): readers return the identical row set before
  * and after; a subsequent resume sees every bucket complete (the
  * compacted run records full bucket completion under the same
  * (snapshotId, constraintHash, checksHash) key); after
  * `deleteOldRuns = true` exactly one run dir remains on disk.
  *
  * Run compaction EXCLUSIVELY — no concurrent writer AND no concurrent
  * reader of the same outDir: `deleteOldRuns` removes files an in-flight
  * reader resolved from the pre-compaction manifest (Iceberg's
  * expire_snapshots solves this with a retention window; here exclusivity
  * is the contract — or leave `deleteOldRuns = false` and garbage-collect
  * old run dirs later, after in-flight readers drain).
  *
  * FILESYSTEM CONTRACT: `outDir` and the manifest path must be on a LOCAL
  * (java.nio-reachable) filesystem — run-id reservation
  * ([[ValidatorApp.nextRunId]]'s atomic createDirectory), the manifest's
  * atomic rewrite, and old-run deletion all go through java.nio, while
  * `documentsPath` may be any Spark-resolvable URI (HDFS/S3/...). The same
  * holds for [[ValidatorApp.run]]'s outDir/manifest. On a cluster, point
  * outDir at shared POSIX storage (NFS/Lustre — where createDirectory and
  * ATOMIC_MOVE hold), or port these three call sites to Hadoop
  * `FileSystem` (mkdirs-returns-false for reservation, rename for the
  * manifest swap) — the protocol maps 1:1; object stores without atomic
  * rename (raw S3) additionally need a coordination layer, which is
  * exactly the niche the real Iceberg catalog fills behind this seam.
  */
object Compact {

  /** CLI: `runMain graft.engine.Compact <config.properties> <outDir>
    * [--delete-old]` — the maintenance-job entry point (run it exclusively,
    * like Iceberg maintenance actions).
    */
  def main(args: Array[String]): Unit = {
    val Array(configPath, outDir) = args.take(2)
    val deleteOld = args.contains("--delete-old")
    val cfg = ValidatorConfig.load(configPath)
    val spark = SparkBoot.local()
    try {
      val run = compact(spark, cfg, outDir, deleteOldRuns = deleteOld)
      println(s"[graft] compacted $outDir -> run=$run (deleteOldRuns=$deleteOld)")
    } finally spark.stop()
  }

  /** Compact `outDir` into one baseline run; returns the new run id. */
  def compact(spark: SparkSession, cfg: ValidatorConfig, outDir: String,
              deleteOldRuns: Boolean = false): Long = {
    val manifestPath = cfg.manifestPath.getOrElse(
      sys.error("compaction requires a manifest (cfg.manifestPath)"))
    val m = new Manifest(manifestPath)

    // refuse to fabricate completeness: with NO committed run records for
    // this key (crashed-only outDir, or a manifest predating run ids), the
    // snapshot read yields nothing and compaction would write an empty
    // baseline, mark EVERY bucket complete, and (with deleteOldRuns)
    // destroy the unrecorded violations — silent data loss
    val have = m.committedBucketRuns(cfg.snapshotId,
      cfg.schema.constraintHash, cfg.checksHash).keySet
    require(have.nonEmpty,
      "compaction refused: no committed run records for this (snapshot, " +
        "schema, checks) key — run (or resume) the validator with the " +
        "current engine first so the manifest carries run ids")

    // ...and refuse when some bucket with documents was NEVER committed by
    // any run (an unfinished resume chain): the compacted verdicts would
    // mark it complete with zero violations without it ever being validated
    val docs = cfg.bucketedTable
      .map(t => Layout.readBucketed(spark, t))
      .getOrElse(spark.read.parquet(cfg.documentsPath))
    val expected = Pipeline.withBucket(docs, cfg.nBuckets)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    require(expected.subsetOf(have),
      s"compaction refused: buckets ${(expected -- have).toSeq.sorted.mkString(",")} " +
        "have no committed run — finish the resume chain first")

    // current snapshot = winner rows (committed set when available)
    val snapshot = ValidatorApp.readSnapshot(spark, cfg, outDir, Some(m))
      .cache()

    val runNum = ValidatorApp.nextRunId(outDir)
    val runId = s"run=$runNum"
    snapshot
      .withColumn("bucket", Pipeline.violationBucket(cfg.nBuckets))
      .write.mode("overwrite").parquet(s"$outDir/violations/$runId")

    // verdicts recomputed over the full corpus (nDocs per bucket comes from
    // the documents table, exactly as a first full run would record them)
    Pipeline.verdictsFrom(spark, snapshot, docs, cfg.schema,
        cfg.snapshotId, cfg.nBuckets, cfg.configuredChecks)
      .write.mode("overwrite").parquet(s"$outDir/verdicts/$runId")

    // the commit: a FRESH manifest referencing only the compacted run —
    // other snapshot keys' records do not survive (one outDir = one
    // snapshot × one constraint set, the contract the readers rely on).
    // Same commit protocol as a validation run (ValidatorApp.commitRun).
    m.rewriteAtomically(fresh =>
      ValidatorApp.commitRun(spark, fresh, cfg, outDir, runNum))
    snapshot.unpersist()

    if (deleteOldRuns) {
      Seq("violations", "verdicts").foreach { sub =>
        val parent = java.nio.file.Paths.get(s"$outDir/$sub")
        val old = scala.util.Using.resource(java.nio.file.Files.list(parent))(
          _.iterator().asScala.filter(p =>
            p.getFileName.toString.startsWith("run=") &&
              p.getFileName.toString != runId).toSeq)
        old.foreach { dir =>
          scala.util.Using.resource(java.nio.file.Files.walk(dir))(
            _.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(p => java.nio.file.Files.delete(p)))
        }
      }
    }
    runNum
  }
}
