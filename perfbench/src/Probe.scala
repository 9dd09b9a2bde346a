package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.sinks.{CdcSink, CurrentStateSink}

/** One recorded span: a call into a layer, timed from outside it. Times
  * are milliseconds since the probe's origin. */
final case class Span(id: Long, parent: Long, trace: String, layer: String,
    name: String, startMs: Double, endMs: Double)

/** Span recorder and job-attribution context. The context (layer, span
  * id, trace id) rides in Spark local properties: every job a thread
  * submits carries them, and threads created inside a span inherit them.
  * With `tracing` off nothing is recorded and no property is set. */
final class Probe(sc: SparkContext, val tracing: Boolean) {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  /** A listener-event wall-clock time on the probe's clock. */
  def fromEpochMs(ms: Long): Double = (ms - originEpochMs).toDouble

  val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong

  /** An open span: the properties it replaced, restored on [[close]]. */
  final class Handle(val id: Long, val parent: Long, val trace: String,
      val layer: String, val name: String, val startMs: Double,
      prev: (String, String, String)) {
    def restore(): Unit = {
      sc.setLocalProperty(Probe.LayerKey, prev._1)
      sc.setLocalProperty(Probe.SpanKey, prev._2)
      sc.setLocalProperty(Probe.TraceKey, prev._3)
    }
  }

  def open(layer: String, name: String, trace: String = null): Handle = {
    if (!tracing) return null
    val prev = (sc.getLocalProperty(Probe.LayerKey),
      sc.getLocalProperty(Probe.SpanKey), sc.getLocalProperty(Probe.TraceKey))
    val id = ids.incrementAndGet()
    val tr = if (trace != null) trace else Option(prev._3).getOrElse("")
    sc.setLocalProperty(Probe.LayerKey, layer)
    sc.setLocalProperty(Probe.SpanKey, id.toString)
    sc.setLocalProperty(Probe.TraceKey, tr)
    new Handle(id, Option(prev._2).map(_.toLong).getOrElse(0L), tr, layer,
      name, nowMs, prev)
  }

  def close(h: Handle): Unit = if (h != null) {
    spans.add(Span(h.id, h.parent, h.trace, h.layer, h.name, h.startMs, nowMs))
    h.restore()
  }

  /** Progress note on stderr, stamped with seconds since the origin. */
  def note(msg: String): Unit =
    System.err.println(f"perfbench ${nowMs / 1000}%8.2f s  $msg")

  def span[T](layer: String, name: String, trace: String = null)(body: => T): T = {
    val h = open(layer, name, trace)
    try body finally close(h)
  }
}

object Probe {
  val LayerKey = "perfbench.layer"
  val SpanKey = "perfbench.span"
  val TraceKey = "perfbench.trace"
  val Sentinel = "sentinel"
}

final case class JobRec(id: Int, layer: String, span: String, trace: String,
    startMs: Double, var endMs: Double, stages: Seq[Int])
final case class StageRec(id: Int, tasks: Int, shuffleWriteBytes: Long,
    outputBytes: Long, cpuNs: Long)

/** Counts jobs, stages, tasks, shuffle bytes and job wall time, keyed by
  * the layer properties each job carried when it was submitted. */
final class JobListener(probe: Probe) extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  val stages = new ConcurrentLinkedQueue[StageRec]
  @volatile var sentinelDone = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.map(_.getProperty(k)).orNull
    jobs.put(e.jobId, JobRec(e.jobId, prop(Probe.LayerKey),
      prop(Probe.SpanKey), prop(Probe.TraceKey), probe.fromEpochMs(e.time),
      -1.0, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = probe.fromEpochMs(e.time)
      if (j.layer == Probe.Sentinel) sentinelDone = true
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(if (m == null) StageRec(i.stageId, i.numTasks, 0L, 0L, 0L)
      else StageRec(i.stageId, i.numTasks,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
        m.executorCpuTime))
  }

  /** Waits until every event posted before this call has been delivered:
    * a marked job's end event queues behind them. */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty(Probe.LayerKey, Probe.Sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Probe.LayerKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!sentinelDone && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

final case class BatchProgress(batchId: Long, rows: Long, endOffset: String,
    durations: Map[String, Long])

/** Micro-batch progress of the CDC stream: end offsets (to find the batch
  * that covers a commit) and the source's per-phase durations. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentHashMap[Long, BatchProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0 && p.sources.nonEmpty)
      progress.put(p.batchId, BatchProgress(p.batchId, p.numInputRows,
        p.sources.head.endOffset,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  /** Blocks until progress for every id in `batchIds` has arrived. */
  def await(batchIds: Iterable[Long]): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!batchIds.forall(progress.containsKey) &&
        System.nanoTime() < deadline) Thread.sleep(5)
  }
}

/** A timing decorator around the current-state sink: brackets each
  * micro-batch (beginBatch → commitBatch) and times every call the
  * pipeline makes into the sink. Batch begin/commit times are always
  * kept — the apply-lag measurement needs them — while spans are
  * recorded only when tracing. */
final class TimedSink(val inner: CurrentStateSink, probe: Probe)
    extends CdcSink {
  val batchBegin = new java.util.concurrent.ConcurrentHashMap[Long, Double]
  val batchCommit = new java.util.concurrent.ConcurrentHashMap[Long, Double]
  val writeMs = new ConcurrentLinkedQueue[Double]
  @volatile private var batchSpan: probe.Handle = null

  override def startup(spark: org.apache.spark.sql.SparkSession): Unit =
    inner.startup(spark)
  override def writeTableRows(table: String, rows: DataFrame): Unit =
    probe.span("sinks", "sinks.copy")(inner.writeTableRows(table, rows))
  override def writeEvents(table: String, events: DataFrame): Unit =
    writeEvents(table, events, None)
  override def writeEvents(table: String, events: DataFrame,
      maskHint: Option[Boolean]): Unit = {
    val t0 = probe.nowMs
    probe.span("sinks", "sinks.write")(
      inner.writeEvents(table, events, maskHint))
    writeMs.add(probe.nowMs - t0)
  }
  override def truncateTable(table: String): Unit =
    probe.span("sinks", "sinks.truncate")(inner.truncateTable(table))
  override def applySchemaDiff(table: String,
      diff: graft.core.SchemaDiff): Unit = inner.applySchemaDiff(table, diff)
  override def beginBatch(batchId: Long): Boolean = {
    batchBegin.put(batchId, probe.nowMs)
    batchSpan = probe.open("pipeline", "pipeline.batch", s"b$batchId")
    inner.beginBatch(batchId)
  }
  override def commitBatch(batchId: Long): Unit = {
    inner.commitBatch(batchId)
    batchCommit.put(batchId, probe.nowMs)
    probe.close(batchSpan)
    batchSpan = null
  }
  override def shutdown(): Unit = inner.shutdown()
}
