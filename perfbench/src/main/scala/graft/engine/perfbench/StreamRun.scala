package graft.engine.perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.engine.ValidatorConfig
import graft.streaming.StreamingValidator

/** One closed-loop streaming query: a parquet file source holding every
  * batch file up front, `maxFilesPerTrigger=1`, the row-local violation
  * stream into a parquet sink, drained with `processAllAvailable`.
  */
object StreamRun {

  final case class Result(drainS: Double, batchMs: Seq[Double],
                          durations: Map[String, Seq[Double]], rows: Long)

  def run(spark: SparkSession, cfg: ValidatorConfig, inDir: String,
          outDir: String, tr: Option[Trace]): Result = {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[QueryProgressEvent]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val src = s"$inDir/stream"
    val docSchema = spark.read.parquet(src).schema
    val t0 = System.nanoTime()
    def drain(): Unit = {
      val docs = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamingValidator.violationStream(spark, docs, cfg.schema)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$outDir/checkpoint")
        .start(s"$outDir/sink")
      try q.processAllAvailable() finally q.stop()
    }
    tr match {
      case Some(t) => t.span("streaming.query")(drain())
      case None => drain()
    }
    val drainS = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.graft.shims.waitForListeners(spark)
    spark.streams.removeListener(listener)
    val ps = progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
    val parts = Seq("queryPlanning", "addBatch", "walCommit", "latestOffset")
    Result(drainS, ps.map(_.batchDuration.toDouble),
      parts.map(k => k -> ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))).toMap,
      ps.map(_.numInputRows).sum)
  }
}
