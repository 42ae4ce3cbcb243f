package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checks.{CheckContext, Checks}
import graft.datagen.DocGen
import graft.engine.Pipeline
import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.stats.ColumnStats

/** Diagnostics-only companion bench (guide §1.4): times the HEADLINE ops
  * and their internal components in isolation with the noop sink, so a
  * change can be attributed to one component instead of a whole stage.
  * NOT part of the frozen measurement harness ([[Bench]]/[[HeadlineMain]]
  * are untouched); numbers from here are cited in OPTIMIZATION_r09.md as
  * component evidence only.
  *
  * Usage: `runMain graft.BenchExtra [stage,stage,...]` (default: all).
  * Env: `SPARK_GRAFT_SF_DIR` (sf tables), `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_EXTRA_DOCS` (headline-corpus size, default 800000),
  * `SPARK_GRAFT_EXTRA_CORPUS` (reuse an existing corpus parquet dir
  * between invocations — regenerated when absent), `SPARK_GRAFT_EXTRA_REPS`
  * (timed repetitions per stage, default 2; min is reported).
  */
object BenchExtra {

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val want: Set[String] =
      if (args.isEmpty || args(0) == "all") Set.empty
      else args(0).split(",").toSet
    def on(name: String): Boolean = want.isEmpty || want.contains(name)

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = math.min(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      Runtime.getRuntime.availableProcessors)
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_EXTRA_DOCS", "800000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "2").toInt
    val corpusPath = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CORPUS",
      "/dev/shm/graft-extra/docs")

    val spark = BenchUtil.session(cpus)
    if (!new java.io.File(corpusPath + "/_SUCCESS").exists()) {
      DocGen.documents(spark, nDocs).toDF()
        .repartition(128).write.mode("overwrite").parquet(corpusPath)
    }
    def docs: DataFrame = spark.read.parquet(corpusPath)
    def tbl(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")

    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(b.getCollectionTime, 0L)).sum
    }

    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Long)]()
    def bench(name: String)(f: => Any): Unit = if (on(name)) {
      spark.sparkContext.setJobDescription(name)
      val samples = (1 to reps).map { _ =>
        val g0 = gcMillis
        val t = try time(f) catch { case e: Throwable =>
          System.err.println(s"[extra] $name failed: ${e.getMessage}"); -1.0 }
        (t, gcMillis - g0)
      }
      val best = samples.minBy(_._1)
      results(name) = best
      println(f"EXTRA $name ${best._1}%.3f gc_ms=${best._2}")
      System.out.flush()
      spark.sparkContext.setJobDescription(null)
    }

    // JIT warm-up, mirroring HeadlineMain
    Pipeline.violations(spark, docs.limit(50000), DocGen.schema).count()

    // ---- validate_full decomposition ------------------------------------
    val schema = DocGen.schema
    bench("vf_scan_spans") { noop(docs.select(col("spans"))) }
    bench("vf_core") { noop(Pipeline.rowLocalCore(spark, docs, schema)) }
    bench("vf_full") { Pipeline.violations(spark, docs, schema).count() }
    bench("vf_full_noaqe") {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try Pipeline.violations(spark, docs, schema).count()
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    bench("vf_sharedscan_build") {
      CheckContext(spark, docs, schema, None).buildSharedScan(Nil).count()
    }
    if (on("vf_valmicro")) {
      import graft.validators.ScalaValidators
      val n = 800000
      def micro(name: String, fn: String => Boolean, vals: Array[String]): Unit = {
        var i = 0; var acc = 0
        while (i < n) { if (fn(vals(i % vals.length))) acc += 1; i += 1 } // warm
        val t0 = System.nanoTime()
        i = 0
        while (i < n) { if (fn(vals(i % vals.length))) acc += 1; i += 1 }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"MICRO $name $dt%.3f s for $n calls (${dt / n * 1e9}%.0f ns/call) acc=$acc")
      }
      val x = graft.model.SchemaDef.XSD
      micro("unsignedInt", ScalaValidators.forDatatype(x + "unsignedInt"),
        (0 until 1000).map(_.toString).toArray)
      micro("dateTime", ScalaValidators.forDatatype(x + "dateTime"),
        (0 until 336).map(i => f"2020-${i % 12 + 1}%02d-${i % 28 + 1}%02dT10:00:00Z").toArray)
      micro("language", ScalaValidators.forDatatype(x + "language"),
        Array("en", "fr", "de", "longerThan8"))
      micro("boolean", ScalaValidators.forDatatype(x + "boolean"),
        Array("true", "false", "T"))
      micro("anyURI", ScalaValidators.forDatatype(x + "anyURI"),
        (0 until 1000).map(i => s"http://example.org/doc/$i").toArray)
      micro("string", ScalaValidators.forDatatype(x + "string"),
        (0 until 1000).map(i => s"Title $i").toArray)
      micro("score_facet", ScalaValidators.validatorFor(DocGen.schema, "dt:score"),
        (0 until 101).map(_.toString).toArray)
    }
    if (on("vf_opmetrics")) {
      val qes = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.QueryExecution]()
      val ql = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = qes.add(qe)
        override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(ql)
      val t = time(Pipeline.violations(spark, docs, schema).count())
      Thread.sleep(1500)
      spark.listenerManager.unregister(ql)
      println(f"EXTRA vf_opmetrics $t%.3f  (${qes.size()} query executions)")
      import scala.jdk.CollectionConverters._
      val qe = qes.asScala.maxBy(q => q.executedPlan.toString.length)
      def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
        val ms = p.metrics.map { case (k, m) => s"$k=${m.value}" }
          .filter(s => s.contains("numOutputRows") || s.contains("time") ||
            s.contains("Time") || s.contains("dataSize"))
          .mkString(" ")
        println(s"OP ${"  " * depth}${p.nodeName} $ms")
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan, depth + 1)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan, depth + 1)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            println(s"OP ${"  " * (depth + 1)}(reused ${r.child.nodeName})")
          case _ => p.children.foreach(walk(_, depth + 1))
        }
      }
      walk(qe.executedPlan, 0)
    }
    def profileStages(name: String)(f: => Any): Unit = if (on(name)) {
      import org.apache.spark.scheduler._
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int, Long, Long)]()
      val listener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
          stages.add((si.stageId, si.name.takeWhile(_ != '\n').take(90),
            si.numTasks, wall,
            si.taskMetrics.executorRunTime * 1000000L +
              si.taskMetrics.executorCpuTime / 1000000L))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t = time(f)
      Thread.sleep(1000) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"EXTRA $name $t%.3f")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(_._1).foreach { case (id, nm, n, wall, enc) =>
        val run = enc / 1000000L
        val cpu = enc % 1000000L
        println(f"STAGE $id%4d tasks=$n%4d wall=${wall}%6d ms run=${run}%7d ms cpu=${cpu}%7d ms  $nm")
      }
    }
    profileStages("vf_stages") { Pipeline.violations(spark, docs, schema).count() }
    profileStages("mh_stages") { Dedup.nearDupPairs(tbl("documents")).count() }
    profileStages("curate_stages") { graft.ops.Curation.curate(tbl("documents")).count() }
    profileStages("passage_stages") {
      Dedup.passageDedup(tbl("documents")).agg(sum(col("cut_tokens"))).collect()
    }
    profileStages("langid_stages") {
      tbl("documents").select(
        TextAnalysis.langId(col("text")).as("lid"),
        TextAnalysis.qualityScore(col("text")).as("q"))
        .agg(count(lit(1)), avg(col("q"))).collect()
    }
    def ctx = CheckContext(spark, docs, schema, None)
    bench("vf_kinds_defined") { graft.checks.CheckKindsDefined.run(ctx).count() }
    bench("vf_classes_defined") { graft.checks.CheckClassesDefined.run(ctx).count() }
    bench("vf_uri_existence") { graft.checks.CheckUriExistence.run(ctx).count() }
    bench("vf_object_range") { graft.checks.CheckObjectRange.run(ctx).count() }
    bench("vf_card_extras") {
      graft.checks.CheckCardinality.extraFrames(ctx).foreach(f => f.count())
    }
    bench("vf_some_extras") {
      graft.checks.CheckSome.extraFrames(ctx).foreach(f => f.count())
    }
    bench("vf_only_extras") {
      graft.checks.CheckOnly.extraFrames(ctx).foreach(f => f.count())
    }
    bench("vf_refTargets") { noop(ctx.restrictionRefTargets) }
    bench("vf_qualifiedCounts") { noop(ctx.qualifiedCounts) }
    bench("vf_distinctRefs") { noop(ctx.distinctRefs) }
    bench("vf_docsCls") { noop(ctx.docsCls) }

    // ---- verdicts --------------------------------------------------------
    bench("verdicts_all") {
      val viols = Pipeline.violations(spark, docs, schema).cache()
      viols.count()
      Pipeline.verdictsFrom(spark, viols, docs, schema, "bench", 64)
        .agg(sum("nViolations")).collect()
      viols.unpersist()
    }

    if (on("verdicts_rollup")) {
      val viols = Pipeline.violations(spark, docs, schema).cache()
      viols.count()
      profileStages("verdicts_rollup") {
        Pipeline.verdictsFrom(spark, viols, docs, schema, "bench", 64)
          .agg(sum("nViolations")).collect()
      }
      viols.unpersist()
    }

    // ---- other headline ops ---------------------------------------------
    bench("stats_profile") { ColumnStats.profile(tbl("lineitem")).count() }
    bench("stats_profile_scan") { noop(tbl("lineitem")) }
    bench("stats_profile_minmax") {
      val li = tbl("lineitem")
      val aggs = li.schema.fields.toSeq.flatMap { f => Seq(
        count(col(f.name)), count(when(col(f.name).isNull, 1)),
        min(col(f.name)).cast("string"), max(col(f.name)).cast("string")) }
      li.agg(aggs.head, aggs.tail: _*).collect()
    }
    bench("stats_profile_distinct") {
      val li = tbl("lineitem")
      val aggs = li.schema.fields.toSeq.map(f => approx_count_distinct(col(f.name)))
      li.agg(aggs.head, aggs.tail: _*).collect()
    }
    bench("stats_profile_kll") {
      val li = tbl("lineitem")
      val aggs = li.schema.fields.toSeq
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        .map(f => graft.stats.KllSketchAgg.kll_sketch(col(f.name), 200))
      li.agg(aggs.head, aggs.tail: _*).collect()
    }
    bench("stats_mergeable") {
      ColumnStats.mergeProfiles(ColumnStats.mergeableProfile(
        tbl("documents"), "source", Seq("doc_id", "n_chars", "lang")))
        .agg(sum("n")).collect()
    }
    bench("dedup_exact") { Dedup.exactGroups(tbl("documents")).count() }
    bench("dedup_minhash") { Dedup.nearDupPairs(tbl("documents")).count() }
    bench("dedup_simhash") { Dedup.simhashPairs(tbl("documents")).count() }
    bench("passage_dedup") {
      Dedup.passageDedup(tbl("documents")).agg(sum(col("cut_tokens"))).collect()
    }
    bench("langid_quality") {
      tbl("documents").select(
        TextAnalysis.langId(col("text")).as("lid"),
        TextAnalysis.qualityScore(col("text")).as("q"))
        .agg(count(lit(1)), avg(col("q"))).collect()
    }
    bench("langid_only") {
      noop(tbl("documents").select(TextAnalysis.langId(col("text")).as("lid")))
    }
    bench("quality_only") {
      noop(tbl("documents").select(TextAnalysis.qualityScore(col("text")).as("q")))
    }
    bench("curate") { graft.ops.Curation.curate(tbl("documents")).count() }
    bench("ann_topk") {
      val emb = tbl("embeddings")
      val q = emb.orderBy("vec_id").limit(1).collect()(0).getSeq[Float](1)
      Similarity.bruteTopK(emb, q, 10).collect()
    }

    val qs = results.map { case (k, (v, g)) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""EXTRA_JSON {"queries":$qs,"docs":$nDocs,"cpus":$cpus}""")
    spark.stop()
  }
}
