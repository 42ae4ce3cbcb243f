package graft.engine.perfbench

import graft.engine.{SparkBoot, ValidatorApp, ValidatorConfig}

/** JVM entry of the benchmark (one process per measured run, as a
  * spark-submit of the CLI would be); perfbench/run.py drives it.
  *
  *   canon <workload> <docs> <dir> <config> seed-free corpus + oracles
  *   setup <config> <result.json>           session + config load only
  *   run <workload> <config> <inDir> <outDir> <result.json> <trace 0|1>
  *       [<oracleOut>]   then, untimed, Pipeline.violations of the same
  *                       snapshot (the delta run's oracle)
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "canon" :: workload :: n :: dir :: config :: Nil =>
      val spark = SparkBoot.local()
      try Inputs.canon(spark, workload, n.toLong, dir, config)
      finally spark.stop()
    case "setup" :: cfgPath :: result :: Nil =>
      val (spark, _, setupS) = setup(cfgPath)
      spark.stop()
      Inputs.writeJson(result, Map("setup_s" -> setupS))
    case "run" :: workload :: cfgPath :: in :: out :: result :: trace :: oracle =>
      run(workload, cfgPath, in, out, result, trace == "1", oracle)
    case _ =>
      System.err.println(s"usage: canon|setup|run ... (got ${args.mkString(" ")})")
      sys.exit(2)
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb: Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  /** The CLI's set-up: a `SparkBoot.local` session and the loaded config,
    * timed from JVM start (seconds).
    */
  def setup(cfgPath: String): (org.apache.spark.sql.SparkSession, ValidatorConfig, Double) = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkBoot.local()
    val cfg = ValidatorConfig.load(cfgPath)
    (spark, cfg, (System.currentTimeMillis() - jvmStart) / 1000.0)
  }

  def run(workload: String, cfgPath: String, in: String, out: String,
          result: String, traced: Boolean, oracle: Seq[String]): Unit = {
    val (spark, cfg, setupS) = setup(cfgPath)
    val tr = if (traced) Some(new Trace(spark)) else None
    val res = scala.collection.mutable.Map[String, Any]("setup_s" -> setupS)
    try {
      val docsPath = if (workload == "stream-microbatch") s"$in/stream" else cfg.documentsPath
      val t0 = System.nanoTime()
      var buildMs = 0.0 // traced app run: time spent building frames, see TracedApp.Outcome
      workload match {
        case "stream-microbatch" =>
          val r = StreamRun.run(spark, cfg, in, out, tr)
          res ++= Seq("run_s" -> r.drainS, "batch_ms" -> r.batchMs, "docs" -> r.rows) ++
            r.durations.map { case (k, v) => s"duration.$k" -> v }
        case _ if traced =>
          val o = TracedApp.run(spark, cfg, out, tr.get)
          res ++= Seq("docs" -> o.docs, "engine.dirty_share" -> o.dirty.toDouble / o.docs,
            "checks.cache_mb" -> o.cachePeak / 1048576.0) ++
            o.buildMs.map { case (k, v) => s"$k.build_ms" -> v }
          buildMs = o.buildMs.values.sum
        case _ =>
          ValidatorApp.run(spark, cfg, out)
      }
      res("run_s") = res.getOrElse("run_s", (System.nanoTime() - t0) / 1e9)
      tr.foreach { t =>
        res ++= t.metrics
        res("trace.span_wall_ms") = t.totalWallMs.toDouble
        res("trace.unstaged_span_ms") = TracedApp.UnstagedSpans.map(t.wallMs).sum + buildMs
        if (workload == "stream-microbatch")
          res("streaming.batch.tasks_total") = t.taskCount("streaming.query").toDouble
        t.close()
        val nDocs = spark.read.parquet(docsPath).count()
        res ++= ValidatorMicro.run(spark, docsPath, cfg.schema, nDocs)
      }
      res("peak_rss_mb") = peakRssMb
      res("env") = Inputs.RawJson(graft.BenchUtil.diagJson(0L))
      Inputs.writeJson(result, res.toMap)
      oracle.foreach { oracleOut =>
        graft.engine.Pipeline.violations(spark, spark.read.parquet(cfg.documentsPath),
          cfg.schema, cfg.configuredChecks).write.mode("overwrite").parquet(oracleOut)
      }
    } finally spark.stop()
  }
}
