package graft.engine.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Span recorder for the traced run: a `SparkListener` keeps every finished
  * task and stage in memory, and [[span]] brackets one call into a module's
  * public function. A span's figures are the tasks launched and the stages
  * completed inside its wall-clock window; spans run one after another, so
  * no task is counted twice. Nothing is written until [[metrics]].
  */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val stages = new ConcurrentLinkedQueue[Long]() // completion times
  private val windows = scala.collection.mutable.ArrayBuffer.empty[Window]
  // storage memory held by cached blocks, and its high-water mark per span
  private val blockMem = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  @volatile private var cachedBytes = 0L
  @volatile private var peakCached = 0L

  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = info.blockId.name
    val mem = if (info.storageLevel.isValid) info.memSize else 0L
    val prev = Option(blockMem.put(key, mem)).getOrElse(0L)
    cachedBytes += mem - prev
    peakCached = math.max(peakCached, cachedBytes)
  }

  private def drain(): Unit =
    org.apache.spark.sql.graft.shims.waitForListeners(spark)

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Peak storage memory of cached blocks seen inside the last [[span]]. */
  def lastPeakCachedBytes: Long = lastPeak
  private var lastPeak = 0L

  def span[T](name: String)(body: => T): T = {
    drain()
    synchronized { peakCached = cachedBytes }
    val g0 = gcMs
    val t0 = System.currentTimeMillis()
    val r = body
    drain()
    val t1 = System.currentTimeMillis()
    windows += Window(name, t0, t1, gcMs - g0)
    lastPeak = peakCached
    r
  }

  /** Tasks launched inside the spans of one name. */
  def taskCount(name: String): Long = {
    drain()
    val ws = windows.filter(_.name == name)
    tasks.asScala.count(t => ws.exists(w => t.launch >= w.start && t.launch <= w.end)).toLong
  }

  /** Wall time of every span so far. */
  def totalWallMs: Long = windows.map(w => w.end - w.start).sum

  def wallMs(name: String): Long =
    windows.filter(_.name == name).map(w => w.end - w.start).sum

  /** Per span name: wall_ms, cpu_ms, gc_ms, shuffle_bytes, spill_bytes,
    * stages and serial_ms (wall with no task running: query planning, AQE
    * re-plans, collects). Spans of one name add up.
    */
  def metrics: Map[String, Double] = {
    drain()
    val ts = tasks.asScala.toSeq
    val ss = stages.asScala.toSeq
    windows.groupBy(_.name).toSeq.flatMap { case (name, ws) =>
      val per = ws.map { w =>
        val in = ts.filter(t => t.launch >= w.start && t.launch <= w.end)
        // union of the task intervals clipped to the window
        var busy = 0L
        var cur = w.start
        in.map(t => (math.max(t.launch, w.start), math.min(t.finish, w.end)))
          .sortBy(_._1).foreach { case (a, b) =>
            if (b > cur) { busy += b - math.max(a, cur); cur = b }
          }
        Seq(w.end - w.start, in.map(_.cpuNs).sum / 1e6, w.gcMs,
          in.map(_.shuffleBytes).sum, in.map(_.spillBytes).sum,
          ss.count(c => c >= w.start && c <= w.end),
          (w.end - w.start) - busy).map(_.toDouble)
      }
      val sums = per.transpose.map(_.sum)
      Seq("wall_ms", "cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes", "stages",
        "serial_ms").zip(sums).map { case (k, v) => s"$name.$k" -> v }
    }.toMap
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Trace {
  private final case class Task(launch: Long, finish: Long, cpuNs: Long,
                                shuffleBytes: Long, spillBytes: Long)
  private final case class Window(name: String, start: Long, end: Long, gcMs: Long)
}
