package graft.engine.perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.report.Reports

/** The traced twin of `ValidatorApp.run` for a fresh (non-resume) full or
  * delta run: the same calls in the same order (the app's engine-private
  * helpers too, which this package can reach), with each call forced
  * (cache + count) inside its own [[Trace.span]] so its cost lands on the
  * layer that did the work. Forcing splits the app's lazily fused plans, so
  * the traced wall is reported against the untraced one
  * (`trace.overhead_ratio`), never in its place. Keep it in step with
  * `ValidatorApp.run`: a change there that this file does not follow shows
  * as a traced run whose outputs fail the workload's checks or whose walls
  * stop adding up to the untraced run.
  *
  * Spans marked "unstaged" cover work the app does outside its
  * `metrics/run=N` stages; their sum is what explains the app's unstaged gap.
  */
object TracedApp {

  val UnstagedSpans: Seq[String] =
    Seq("engine.snapshot_diff", "engine.lineage_gate", "report.render",
      "engine.metrics_artifact")

  /** docs: in the snapshot; dirty: re-validated; cachePeak: bytes cached at
    * the peak of the checks span; buildMs: per span, the time of the call
    * itself and its `cache()` (planning, cache registration, eager probes),
    * which the app spends before its first stage starts.
    */
  final case class Outcome(docs: Long, dirty: Long, cachePeak: Long,
                           buildMs: Map[String, Double])

  private def parquetFiles(dir: String): Seq[String] =
    scala.util.Using.resource(java.nio.file.Files.list(java.nio.file.Paths.get(dir)))(
      _.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted)

  def run(spark: SparkSession, cfg: ValidatorConfig, outDir: String,
          tr: Trace): Outcome = {
    val buildMs = scala.collection.mutable.Map.empty[String, Double]
    def forced(span: String)(build: => DataFrame): DataFrame = tr.span(span) {
      val t0 = System.nanoTime()
      val c = build.cache()
      buildMs(span) = (System.nanoTime() - t0) / 1e6
      c.count()
      c
    }
    val checks = cfg.configuredChecks
    val all = spark.read.parquet(cfg.documentsPath)
    val manifest = cfg.manifestPath.map(new Manifest(_))
    val runNum = ValidatorApp.nextRunId(outDir)
    val isDelta = cfg.deltaPrevDocuments.isDefined

    var deltaDiff: Option[DataFrame] = None
    var dirtyDocs = -1L
    val core =
      if (isDelta) {
        val prev = spark.read.parquet(cfg.deltaPrevDocuments.get)
        val prevCoreRaw = spark.read.parquet(cfg.deltaPrevCore.get)
        tr.span("engine.lineage_gate") {
          val lineage = prevCoreRaw.select("constraintHash", "checksHash").distinct().collect()
          require(lineage.isEmpty || (lineage.length == 1 &&
            lineage(0).getString(0) == cfg.schema.constraintHash &&
            lineage(0).getString(1) == cfg.checksHash), s"prevCore lineage ${lineage.toSeq}")
        }
        val prevCore = prevCoreRaw.drop("constraintHash", "checksHash")
        val diffAll = tr.span("engine.snapshot_diff") {
          Pipeline.snapshotDiffWithCounts(prev, all).localCheckpoint()
        }
        deltaDiff = Some(diffAll)
        dirtyDocs = diffAll.filter(col("status").isin("added", "changed")).count()
        forced("functions.row_local_core") {
          Pipeline.violationsDelta(spark, prev, prevCore, all,
            cfg.schema, checks, precomputedDiff = Some(diffAll))._2
        }
      } else forced("functions.row_local_core") {
        Pipeline.rowLocalCore(spark, all, cfg.schema, checks)
      }
    val violations = forced("checks.from_core") {
      Pipeline.violationsFromCore(spark, all, cfg.schema, core, checks)
    }
    val cachePeak = tr.lastPeakCachedBytes

    tr.span("engine.persist") {
      violations
        .withColumn("bucket", when(col("docId").isNotNull,
          pmod(xxhash64(col("docId")), lit(cfg.nBuckets)).cast("int")).otherwise(lit(-1)))
        .write.mode("overwrite").parquet(s"$outDir/violations/run=$runNum")
      core.withColumn("constraintHash", lit(cfg.schema.constraintHash))
        .withColumn("checksHash", lit(cfg.checksHash))
        .write.mode("overwrite").parquet(s"$outDir/core/run=$runNum")
    }
    tr.span("engine.verdicts") {
      Pipeline.verdictsFrom(spark, violations, all, cfg.schema, cfg.snapshotId,
        cfg.nBuckets, checks).write.mode("overwrite").parquet(s"$outDir/verdicts/run=$runNum")
    }
    tr.span("engine.commit") {
      manifest.foreach(m => ValidatorApp.commitRun(spark, m, cfg, outDir, runNum))
    }

    if (cfg.profileEnabled) {
      if (isDelta && cfg.driftPrevProfile.isDefined) tr.span("stats.profile_delta") {
        ProfileStore.writeRunDelta(spark, spark.read.parquet(cfg.deltaPrevDocuments.get),
          cfg.driftPrevProfile.get, all, cfg.nBuckets, outDir, runNum, cfg.snapshotId,
          precomputedDiff = deltaDiff.map(_.select("doc_id", "status")))
      } else tr.span("stats.profile") {
        ProfileStore.writeRun(spark, all, cfg.nBuckets, outDir, runNum, cfg.snapshotId)
      }
      tr.span("engine.commit") {
        manifest.foreach(_.recordArtifact("profile", cfg.snapshotId,
          cfg.schema.constraintHash, runNum, parquetFiles(s"$outDir/profile/run=$runNum"),
          cfg.checksHash))
      }
      cfg.driftPrevProfile.foreach { prev => tr.span("stats.drift") {
        ProfileStore.driftReport(spark, prev, outDir)
          .write.mode("overwrite").parquet(s"$outDir/drift/run=$runNum")
      } }
    }

    val source = Seq(cfg.documentsPath)
    val ontology = Seq("schema:" + cfg.schema.constraintHash)
    tr.span("report.render") {
      cfg.xmlOut.foreach(p => java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        Reports.xml(violations, source, ontology)))
      cfg.jsonOut.foreach(p => java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        Reports.json(violations, source, ontology)))
    }
    tr.span("report.totals") {
      (violations.filter(col("severity") === "error").count(),
        violations.filter(col("severity") === "warning").count())
    }
    // the app's own stage-metrics artifact, here holding the span walls
    tr.span("engine.metrics_artifact") {
      import spark.implicits._
      Seq(("trace", tr.totalWallMs, 0L, 0L)).toDF("stage", "wall_ms", "scans", "query_executions")
        .withColumn("snapshotId", lit(cfg.snapshotId))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/metrics/run=$runNum")
      manifest.foreach(_.recordArtifact("metrics", cfg.snapshotId, cfg.schema.constraintHash,
        runNum, parquetFiles(s"$outDir/metrics/run=$runNum"), cfg.checksHash))
    }
    violations.unpersist()
    core.unpersist()
    val nDocs = all.count()
    Outcome(nDocs, if (isDelta) dirtyDocs else nDocs, cachePeak, buildMs.toMap)
  }
}
