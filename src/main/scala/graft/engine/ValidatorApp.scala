package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.report.Reports

/** End-to-end runner — the `dvt -v` equivalent (reference: dvt:106-203):
  * load config → resume-filter the input → run the check pipeline → persist
  * violations + verdicts → append the manifest → write reports.
  *
  * Usage: `runMain graft.engine.ValidatorApp <config.properties> <outDir>`
  */
object ValidatorApp {

  /** The violations frame's reader-facing schema (after bucket/run are
    * dropped) — the shape [[Pipeline.violations]] produces and every runs
    * writer persists. Kept as a constant so the committed reader can return
    * an empty TYPED frame when nothing is committed yet.
    */
  val violationsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq("checkId", "severity", "docId", "kind", "value",
      "expected", "check").map(StructField(_, StringType)))
  }

  /** Union-of-runs violations reader — the REQUIRED read path for a
    * multi-run output dir. Run writes and manifest records are not atomic
    * (the Iceberg-snapshot seam, SURVEY.md §4.5): a run can durably write
    * buckets that never get recorded, and the resume then re-writes them
    * into a new `run=` dir. A naive union would double those rows.
    * Last-run-wins per bucket (and the dataset-level bucket -1) makes the
    * union exact: each bucket's violations come from the most recent run
    * whose verdicts recorded it. (Re-validation of one snapshot against
    * one constraint set is deterministic; different constraints belong in
    * a different outDir — the manifest keys completion by constraintHash +
    * checksHash for the same reason.)
    */
  def readViolations(spark: SparkSession, outDir: String,
                     nBuckets: Int = Pipeline.DefaultBuckets): org.apache.spark.sql.DataFrame = {
    // last-run-wins derived from the TINY verdicts table, not from a window
    // over every violation row (round-3 verdict item 4): the winning run
    // per bucket is max(run) over each bucket's RECORDED verdicts — a
    // crashed run writes violations but no verdicts, and the resume that
    // revalidates its buckets records a higher run id, so committed-winner
    // ≡ the old per-docId window (runs validate whole buckets; one
    // snapshot × one constraint set is deterministic). Violations persist
    // their bucket, so the read is one broadcast join — no shuffle of the
    // violations side, at any corpus scale. Rows written before the bucket
    // column existed (or mixed old+new run dirs, where schema merge yields
    // nulls) get their bucket re-derived row-locally from docId — `nBuckets`
    // must then match the runs' configured bucket count.
    val winners = spark.read.parquet(s"$outDir/verdicts")
      .groupBy(col("partitionId").as("bucket")).agg(max(col("run")).as("run"))
    val raw = spark.read.parquet(s"$outDir/violations")
    val derived = Pipeline.violationBucket(nBuckets)
    val bucketed =
      if (raw.columns.contains("bucket"))
        raw.withColumn("bucket", coalesce(col("bucket"), derived))
      else raw.withColumn("bucket", derived)
    bucketed.join(broadcast(winners), Seq("bucket", "run"))
      .drop("bucket", "run")
  }

  /** Union-of-runs verdicts reader: last-run-wins per (partitionId, checkId)
    * — same committed-winner derivation as [[readViolations]].
    */
  def readVerdicts(spark: SparkSession, outDir: String): org.apache.spark.sql.DataFrame = {
    val all = spark.read.parquet(s"$outDir/verdicts")
    val winners = all.groupBy(col("partitionId")).agg(max(col("run")).as("run"))
    all.join(broadcast(winners), Seq("partitionId", "run")).drop("run")
  }

  /** SNAPSHOT-ISOLATED violations read: the file set AND the per-bucket
    * winning run are resolved from the MANIFEST, not from directory
    * listing — an interleaved writer that is mid-write or crashed before
    * its commit record is invisible, so a concurrent reader can neither
    * double-count nor see a torn run. This is the Iceberg snapshot-read
    * shape on the JSONL manifest ([[Manifest.recordFiles]] is the commit
    * point, appended only after the run's parquet is durable).
    * `asOfRun` (TIME TRAVEL): resolve the snapshot exactly as it stood
    * after that run's manifest commit — later resumes' and compactions'
    * records are ignored, so a reproduction job sees the same rows the
    * original consumer read, even after the directory has moved on.
    * Travel points come from [[Manifest.committedRuns]].
    */
  def readViolationsCommitted(spark: SparkSession, outDir: String, m: Manifest,
                              snapshotId: String, constraintHash: String,
                              checksHash: String = "",
                              asOfRun: Long = Long.MaxValue): org.apache.spark.sql.DataFrame =
    committedViolations(spark, outDir,
      m.committedSnapshot(snapshotId, constraintHash, checksHash, asOfRun))

  /** The violations of a committed (files, per-bucket winning run) pair. */
  private def committedViolations(spark: SparkSession, outDir: String,
                                  committed: (Seq[String], Map[Int, Long])): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val (files, bucketRuns) = committed
    if (files.isEmpty || bucketRuns.isEmpty)
      // empty but TYPED: direct callers select violation columns, and a
      // zero-column emptyDataFrame would turn "nothing committed yet" into
      // an analysis error instead of an empty result
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), violationsSchema)
    // dataset-level rows (bucket -1) are written only by the first full
    // run, which is the earliest committed run of this key
    val winners = (bucketRuns.toSeq :+ (-1 -> bucketRuns.values.min))
      .toDF("bucket", "run")
    // basePath keeps the run= partition column when reading leaf files
    spark.read.option("basePath", s"$outDir/violations").parquet(files: _*)
      .join(broadcast(winners), Seq("bucket", "run"))
      .drop("bucket", "run")
  }

  /** The preferred whole-snapshot read: the manifest-committed file set
    * when the manifest carries commit records (isolated from interleaved
    * writers), else the directory union with last-run-wins. One read of
    * the manifest.
    */
  def readSnapshot(spark: SparkSession, cfg: ValidatorConfig, outDir: String,
                   manifest: Option[Manifest]): org.apache.spark.sql.DataFrame =
    manifest
      .map(_.committedSnapshot(cfg.snapshotId, cfg.schema.constraintHash,
        cfg.checksHash))
      .filter { case (files, bucketRuns) => files.nonEmpty && bucketRuns.nonEmpty }
      .map(committedViolations(spark, outDir, _))
      .getOrElse(readViolations(spark, outDir, cfg.nBuckets))

  /** A written run directory's parquet files, sorted: the listing its
    * commit record names.
    */
  private def parquetFiles(dir: String): Seq[String] =
    scala.util.Using.resource(java.nio.file.Files.list(java.nio.file.Paths.get(dir)))(
      _.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted)

  /** The ONE run-commit protocol (used by [[run]] and [[Compact.compact]]):
    * append the run's parquet file listing (commit point for snapshot
    * readers), then its per-bucket completion stats (resume key), to the
    * given manifest. `recordFiles` BEFORE `recordRun` is the documented
    * crash-safety contract — do not reorder.
    */
  private[engine] def commitRun(spark: SparkSession, m: Manifest,
                                cfg: ValidatorConfig, outDir: String,
                                runNum: Long): Unit = {
    m.recordFiles(cfg.snapshotId, cfg.schema.constraintHash, runNum,
      parquetFiles(s"$outDir/violations/run=$runNum"), cfg.checksHash)
    val stats = spark.read.parquet(s"$outDir/verdicts/run=$runNum")
      .filter(col("partitionId") >= 0)
      .groupBy("partitionId")
      .agg(max("nDocs").as("d"), sum("nViolations").as("v"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    m.recordRun(cfg.snapshotId, cfg.schema.constraintHash, runNum, stats.toSeq,
      cfg.checksHash)
  }

  /** Strictly-increasing run timestamps: two runs into one outDir within
    * the same millisecond (a fast resume loop) would otherwise share a
    * `run=` dir and mode(overwrite) would destroy the earlier run's output.
    * Collision-proof ACROSS processes too (round-3 advice): the id is
    * reserved by atomically creating its `violations/run=` directory — two
    * spark-submit JVMs racing in the same millisecond get distinct ids
    * because exactly one `Files.createDirectory` can succeed per path
    * (Spark's own overwrite-write into the pre-created empty dir is fine).
    */
  private val lastRunId = new java.util.concurrent.atomic.AtomicLong(0L)
  private[engine] def nextRunId(outDir: String): Long = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$outDir/violations"))
    var id = 0L
    var reserved = false
    while (!reserved) {
      id = lastRunId.updateAndGet(prev => math.max(System.currentTimeMillis(), prev + 1))
      try {
        java.nio.file.Files.createDirectory(
          java.nio.file.Paths.get(s"$outDir/violations/run=$id"))
        reserved = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => () // raced — bump and retry
      }
    }
    id
  }

  /** The lineage columns every persisted core carries. */
  private val LineageCols = Seq("constraintHash", "checksHash")

  /** Delta mode's lineage gate: a prior core from a different schema or
    * check set would carry stale verdicts forward silently. Decided from
    * the parquet FOOTERS of the core's files (parquet-hadoop, on the Spark
    * driver, which also lists the files; the fixed read schema skips
    * schema inference), so no Spark job runs and no row is read:
    * every row group of every file must carry, for both lineage columns,
    * zero nulls and min = max = the expected value — exactly "every row's
    * lineage equals the config's". A file with no row groups passes: a
    * fully-clean prior run (zero row-local violations) persists an empty
    * core, which carries nothing forward, and the gate must not make
    * incremental validation unusable after the happy path. A row group
    * without statistics for a lineage column cannot be decided, so it is
    * refused, naming the file.
    */
  private[engine] def coreLineageGate(spark: SparkSession, coreDir: String,
                                      constraintHash: String,
                                      checksHash: String): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val want = LineageCols.zip(Seq(constraintHash, checksHash))
    val conf = spark.sparkContext.hadoopConfiguration
    val lineageSchema = StructType(LineageCols.map(StructField(_, StringType)))
    for (file <- spark.read.schema(lineageSchema).parquet(coreDir).inputFiles) {
      val footer = scala.util.Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(new java.net.URI(file)), conf)))(_.getFooter)
      for (block <- footer.getBlocks.asScala if block.getRowCount > 0;
           (name, expected) <- want) {
        val stats = block.getColumns.asScala
          .find(_.getPath.toDotString == name).map(_.getStatistics)
        require(stats.exists(s => s != null && !s.isEmpty && s.isNumNullsSet),
          s"delta.prevCore file $file has a row group without $name " +
            "statistics — its lineage cannot be checked")
        val s = stats.get
        def str(v: Any): String = v match {
          case b: Binary => b.toStringUsingUTF8
          case other => String.valueOf(other)
        }
        val (lo, hi) =
          if (s.hasNonNullValue) (str(s.genericGetMin), str(s.genericGetMax))
          else ("NULL", "NULL")
        require(s.getNumNulls == 0 && lo == expected && hi == expected,
          s"delta.prevCore lineage $name in $file is [$lo, $hi] with " +
            s"${s.getNumNulls} NULLs; it does not match this config " +
            s"($constraintHash, $checksHash) — the previous core must come " +
            "from the same schema + check set")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(configPath, outDir) = args.take(2)
    val cfg = ValidatorConfig.load(configPath)
    val spark = SparkBoot.local()
    try run(spark, cfg, outDir) finally spark.stop()
  }

  def run(spark: SparkSession, cfg: ValidatorConfig, outDir: String): Unit = {
    val checks = cfg.configuredChecks

    // a config that cannot run is refused before any side effect (the
    // run-id reservation, a write, a manifest record)
    val isDelta = cfg.deltaPrevDocuments.isDefined
    require(cfg.deltaPrevDocuments.isDefined == cfg.deltaPrevCore.isDefined,
      "delta.prevDocuments and delta.prevCore must be set together")
    val hasRowLocal = checks.exists(_.isInstanceOf[graft.checks.RowLocalCheck])
    require(!isDelta || hasRowLocal, "delta mode needs at least one row-local check")
    require(cfg.profileEnabled || cfg.driftPrevProfile.isEmpty,
      "drift.prevProfile needs profile.enabled=true (drift reads stored profiles)")

    // INCREMENTAL (delta) mode: the fused span scan covers only docs that
    // changed since delta.prevDocuments, the prior core carries forward.
    // Its lineage gate runs FIRST, from the prior core's footers: a
    // mispointed core is refused before any Spark job (even the corpus
    // read's schema inference) starts.
    cfg.deltaPrevCore.foreach(
      coreLineageGate(spark, _, cfg.schema.constraintHash, cfg.checksHash))

    // bucketed catalog table preferred: the doc_id universe side of the
    // referential joins then scans pre-hashed buckets shuffle-free
    val all = cfg.bucketedTable
      .map(t => Layout.readBucketed(spark, t))
      .getOrElse(spark.read.parquet(cfg.documentsPath))
    val manifest = cfg.manifestPath.map(new Manifest(_))
    // completion is keyed by (snapshot, schema hash, ENABLED-CHECK-SET hash):
    // a rerun with a broader check list or different per-check params must
    // revalidate, not silently resume (round-3 advice, medium)
    val done = manifest.map(_.completedBuckets(cfg.snapshotId,
        cfg.schema.constraintHash, cfg.checksHash))
      .getOrElse(Set.empty[Int])
    // a resume: some buckets are recorded complete, so this run validates a
    // strict subset. The FIRST recorded run is always a full pass (nothing
    // was in the manifest to filter), so every dataset-level result for this
    // (snapshot, constraintHash) is already durably written by it.
    val isResume = done.nonEmpty
    // delta mode is mutually exclusive with bucket-resume: resume finishes
    // an interrupted run of ONE snapshot, delta steps BETWEEN snapshots.
    require(!(isDelta && isResume),
      "delta mode cannot combine with a manifest bucket-resume")
    val docs =
      if (!isResume) all
      else Pipeline.resumable(spark, all, manifest.get, cfg.snapshotId,
        cfg.schema, cfg.nBuckets, cfg.checksHash)

    // run-scoped partition subdirs: a RESUMED run writes alongside prior
    // runs instead of overwriting them (overwrite on the shared dir would
    // destroy buckets the manifest records complete while keeping them
    // marked done); union runs via readViolations/readVerdicts, which
    // apply last-run-wins (a naive parent-dir read double-counts buckets
    // written by a run that crashed before recording them)
    val runNum = nextRunId(outDir)
    val runId = s"run=$runNum"

    // per-run STAGE METRICS (north rule: metrics rows persisted alongside
    // results): wall-clock plus executed FileScan / QueryExecution counts
    // per stage, captured by the same listener the plan-audit sweep uses
    // (graft.ScanSweep.ScanAudit) — persisted as `metrics/run=N` and
    // manifest-committed like the profile artifact, so every run carries
    // its own cost accounting
    val metricsAudit = new graft.ScanSweep.ScanAudit
    spark.listenerManager.register(metricsAudit)
    val stageRows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
    def stage[T](name: String)(body: => T): T = {
      org.apache.spark.sql.graft.shims.waitForListeners(spark)
      metricsAudit.reset()
      val t0 = System.nanoTime()
      val r = body
      org.apache.spark.sql.graft.shims.waitForListeners(spark)
      stageRows += ((name, (System.nanoTime() - t0) / 1000000L,
        metricsAudit.scans.get(), metricsAudit.execs.get()))
      r
    }
    try {

    // referential checks must probe the FULL corpus even on a resume —
    // refs in remaining buckets can point at docs in completed buckets
    val universe = if (isResume) Some(all) else None

    // delta mode's snapshot diff is consumed twice (violation slices AND
    // the profile's touched buckets) — computed once, carried here
    var deltaDiff: Option[org.apache.spark.sql.DataFrame] = None

    // (violations, core-to-persist): every FULL run's core is a free
    // by-product (the one shared scan is cached and feeds both writes), so
    // the NEXT run can validate incrementally against it
    val (violationsRaw, coreOpt) =
      if (isDelta) {
        val prev = spark.read.parquet(cfg.deltaPrevDocuments.get)
        // lineage already gated from the footers at the top of run()
        val prevCore = spark.read.parquet(cfg.deltaPrevCore.get).drop(LineageCols: _*)
        val diffAll = Pipeline.snapshotDiffWithCounts(prev, all).localCheckpoint()
        deltaDiff = Some(diffAll)
        // the core alone, cached, then ONE composition over it
        // (violationsDelta would also build a violations frame over the
        // uncached core, registering a shared scan this branch never uses)
        val core = Pipeline.deltaCore(spark, prev, prevCore, all,
          cfg.schema, checks, precomputedDiff = Some(diffAll)).cache()
        (Pipeline.violationsFromCore(spark, all, cfg.schema, core, checks)
          .cache(), Some(core))
      } else if (!isResume && hasRowLocal) {
        // the core is exploded from the shared scan's cache: no cache of
        // its own, no second corpus scan
        val (v, core) = Pipeline.violationsWithCore(spark, docs, cfg.schema, checks)
        (v.cache(), Some(core))
      } else {
        (Pipeline.violations(spark, docs, cfg.schema, checks,
          universe = universe).cache(), None)
      }
    // dataset-level rows (docId null → bucket -1: vocabulary checks, the
    // -50 warning series, URI-existence) belong to the snapshot, not to a
    // bucket subset. On a resume they were fully written by the first run;
    // recomputing them over the remaining subset would union duplicated,
    // subset-derived rows alongside run 1's (round-2 advice).
    val violations =
      if (isResume) violationsRaw.filter(col("docId").isNotNull) else violationsRaw
    // persist each row's bucket (dataset-level rows → -1): readers derive
    // the winning run per bucket from the verdicts table and join on this
    // column — no bucket recompute, no window over the violations corpus
    stage("validate_persist") { violations
      .withColumn("bucket", Pipeline.violationBucket(cfg.nBuckets))
      .write.mode("overwrite").parquet(s"$outDir/violations/$runId") }

    // persist the row-local core with its lineage so the NEXT snapshot can
    // run delta against it (reads from a cache — no second fused scan)
    stage("core_persist") { coreOpt.foreach(_
      .withColumn("constraintHash", lit(cfg.schema.constraintHash))
      .withColumn("checksHash", lit(cfg.checksHash))
      .write.mode("overwrite").parquet(s"$outDir/core/$runId")) }

    // verdicts roll up the already-materialized violations (no second
    // validation pass); the partitionId = -1 dataset-level verdict row is
    // likewise emitted only by the first (full) run
    val verdictsAll = Pipeline.verdictsFrom(spark, violations, docs, cfg.schema,
      cfg.snapshotId, cfg.nBuckets, checks)
    val verdicts =
      if (isResume) verdictsAll.filter(col("partitionId") >= 0) else verdictsAll
    stage("verdicts") {
      verdicts.write.mode("overwrite").parquet(s"$outDir/verdicts/$runId") }

    // commit the run to the manifest (shared with Compact — ONE commit
    // protocol): first the FILE listing (the snapshot commit point for
    // concurrent readers — parquet is durable by now), then the completed
    // buckets (per-partition lineage + metrics; resume key). A crash
    // between the two appends is safe in that order: the reader sees a
    // consistent committed run while the resume conservatively
    // revalidates. THIS run's records only; earlier runs already have
    // theirs.
    stage("manifest_commit") {
      manifest.foreach(m => commitRun(spark, m, cfg, outDir, runNum)) }

    // an artifact's commit: the SAME files-record protocol as the
    // violations (recordArtifact after the parquet is durable), so
    // committed readers can't see a torn artifact writer
    def commitArtifact(kind: String): Unit = manifest.foreach(
      _.recordArtifact(kind, cfg.snapshotId, cfg.schema.constraintHash,
        runNum, parquetFiles(s"$outDir/$kind/run=$runNum"), cfg.checksHash))

    // per-bucket mergeable profile of the FULL snapshot persisted
    // alongside the run (ProfileStore; north rule's metrics rows) — one
    // extra single-pass scan; drift vs a prior snapshot's stored profile
    // is then a metadata-cost read, no rescan of either corpus. A RESUME
    // skips the rewrite: the first (full) run of this snapshot already
    // wrote the profile, and a resume's extra corpus scan would buy an
    // identical artifact.
    if (cfg.profileEnabled && !isResume) {
      // delta mode + a prior profile: recompute only the buckets the
      // snapshot diff touched, carry the rest byte-for-byte
      stage("profile") {
        if (isDelta && cfg.driftPrevProfile.isDefined)
          ProfileStore.writeRunDelta(spark,
            spark.read.parquet(cfg.deltaPrevDocuments.get),
            cfg.driftPrevProfile.get, all, cfg.nBuckets, outDir, runNum,
            cfg.snapshotId,
            precomputedDiff = deltaDiff.map(_.select("doc_id", "status")))
        else
          ProfileStore.writeRun(spark, all, cfg.nBuckets, outDir, runNum,
            cfg.snapshotId)
      }
      commitArtifact("profile")
      stage("drift") { cfg.driftPrevProfile.foreach { prev =>
        ProfileStore.driftReport(spark, prev, outDir)
          .write.mode("overwrite").parquet(s"$outDir/drift/run=$runNum")
      } }
    }

    // --fix analogue: repair dangling refs into a new snapshot and embed
    // the deleted-triples log in the reports (CheckURIExistence.php:190-211).
    // ALWAYS over the FULL corpus: the fix is snapshot-level, and running it
    // against the resume-filtered subset would treat refs into completed
    // buckets as dangling and overwrite the snapshot with an over-pruned
    // corpus (round-2 advice, high). Idempotent, so a fully-resumed rerun
    // rewrites the same repaired snapshot.
    val fixLog = cfg.fixOut.map { p =>
      Fix.fixDanglingRefs(spark, all, cfg.schema, p).cache()
    }
    val sourceLabel = cfg.bucketedTable.map("table:" + _).getOrElse(cfg.documentsPath)

    // reports and console totals describe the WHOLE snapshot: on a resume
    // this run's frame covers only the remaining buckets (and no
    // dataset-level rows), so read the union of all runs (last-run-wins).
    // Prefer the manifest-committed file set — isolated from any writer
    // interleaving with this one — and fall back to the directory union
    // ONLY for manifests that predate file-listing records. The guard is
    // on the MANIFEST having commit records, never on the committed result
    // being non-empty: a committed snapshot with zero violations must
    // report zero, not fall through to a directory union where an
    // interleaved uncommitted writer's rows could leak in.
    val snapshotViolations =
      if (isResume) readSnapshot(spark, cfg, outDir, manifest) else violations

    if (cfg.xmlOut.isDefined || cfg.jsonOut.isDefined) {
      val rows = Reports.collect(snapshotViolations, fixLog = fixLog)
      val (datasets, ontologies) =
        (Seq(sourceLabel), Seq("schema:" + cfg.schema.constraintHash))
      cfg.xmlOut.foreach(p => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), Reports.renderXml(rows, datasets, ontologies)))
      cfg.jsonOut.foreach(p => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), Reports.renderJson(rows, datasets, ontologies)))
    }
    fixLog.foreach(_.unpersist())

    val (nErr, nWarn) = stage("reports") { Reports.severityTotals(snapshotViolations) }
    println(s"[graft] ${cfg.checkKeys.size} checks, $nErr errors, $nWarn warnings → $outDir")

    // persist + commit this run's stage-metrics rows (tiny; one file)
    {
      import spark.implicits._
      stageRows.toSeq
        .toDF("stage", "wall_ms", "scans", "query_executions")
        .withColumn("snapshotId", lit(cfg.snapshotId))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/metrics/run=$runNum")
      commitArtifact("metrics")
    }
    violationsRaw.unpersist()
    coreOpt.foreach(_.unpersist())
    } finally spark.listenerManager.unregister(metricsAudit)
  }
}
