package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Attributes Spark jobs to the engine's layers, from outside the engine.
  *
  * A job's layer is, in order:
  *  1. the `perfbench.layer` local property, which the harness sets
  *     around its own calls into a module (inherited by the engine's
  *     helper threads and broadcast jobs);
  *  2. the module of the first `graft.<module>` frame of the job's call
  *     site, as `graft.etl.Etl$.run` gives `etl`, or else of the call
  *     site that started the job's SQL execution: this is how jobs made
  *     deep inside `PipelineRunner.runDemo` find their layer;
  *  3. otherwise `unattributed`.
  *
  * Per job it keeps start and end (listener event times, ms), and
  * executor CPU, shuffle-write and output bytes and input records
  * summed over its tasks. Spans — name, start, end, parent — are kept
  * in memory and written out by the caller.
  */
final class Tracer(sc: SparkContext, layers: Set[String]) extends SparkListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execLayer = new ConcurrentHashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(LayerProperty)))
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
      .orElse(Option(p.getProperty("spark.sql.execution.id")))).map(_.toLong)
    val layer = prop.orElse(layerOfCallSite(site))
      .orElse(exec.flatMap(x => Option(execLayer.get(x))))
      .getOrElse(Unattributed)
    val j = new Job(e.jobId, e.time, layer)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, j)
  }

  // SQL executions record the call site of the thread that started
  // them; adaptive execution submits its jobs from a pool thread, whose
  // own call site has no engine frame
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      layerOfCallSite(s.details).foreach(l => execLayer.put(s.executionId, l))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
      if (j != null) j.synchronized {
        val m = e.taskMetrics
        j.cpuNs += m.executorCpuTime
        j.ioBytes += m.shuffleWriteMetrics.bytesWritten + m.outputMetrics.bytesWritten
        j.records += m.inputMetrics.recordsRead
      }
    }

  private def layerOfCallSite(site: String): Option[String] =
    site.linesIterator.map(_.trim).collectFirst {
      case GraftFrame(module) if layers(module) => module
    }

  /** Blocks until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  /** Jobs that started in [fromMs, toMs], in start order (call after `drain`). */
  def jobsIn(fromMs: Double, toMs: Double): Seq[Job] =
    allJobs.filter(j => j.startMs >= fromMs - 1 && j.startMs <= toMs)

  // ---- spans (recorded by the client thread only) ----
  private val spanLog = ArrayBuffer.empty[Span]

  def span[T](name: String, parent: String)(body: => T): T = {
    val start = nowMs()
    try body finally record(name, parent, start, nowMs())
  }

  /** Records a span whose bounds were taken elsewhere. */
  def record(name: String, parent: String, startMs: Double, endMs: Double): Unit =
    spanLog += Span(name, parent, startMs, endMs)

  def spans: Seq[Span] = spanLog.toSeq

  def allJobs: Seq[Job] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.sortBy(_.id)
  }
}

object Tracer {
  val LayerProperty = "perfbench.layer"
  val Unattributed = "unattributed"
  private val GraftFrame = """(?:^|.*/)graft\.([a-z]+)\..*""".r

  final class Job(val id: Int, val startMs: Double, val layer: String) {
    @volatile var endMs: Double = Double.NaN
    var cpuNs = 0L
    var ioBytes = 0L
    var records = 0L
  }

  final case class Span(name: String, parent: String, startMs: Double, endMs: Double)

  /** Wall clock in fractional milliseconds, on the same epoch as the
    * listener's event times. */
  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  /** Runs `body` with every job it makes attributed to `layer`. */
  def inLayer[T](sc: SparkContext, layer: String)(body: => T): T = {
    val prev = sc.getLocalProperty(LayerProperty)
    sc.setLocalProperty(LayerProperty, layer)
    try body finally sc.setLocalProperty(LayerProperty, prev)
  }
}
