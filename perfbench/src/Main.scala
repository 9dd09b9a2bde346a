package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload and writes its raw
  * observations as JSON. `run.py` starts it and turns the observations
  * into metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <work dir> <raw output file> */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, rawPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val tracing = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    val spark = SparkSession.builder()
      .master(master)
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    val probe = new Probe(sc, tracing)
    val jobs = if (tracing) {
      val l = new JobListener(probe); sc.addSparkListener(l); Some(l)
    } else None
    val progress = new ProgressListener
    spark.streams.addListener(progress)

    val w: Workload = workload match {
      case "cdc_catchup" => new Catchup(spark, probe, s"$work/data", seed,
        seconds, progress)
      case "cdc_steady" => new Steady(spark, probe, s"$work/data", seed,
        seconds, progress)
      case "dedup_sync" => new DedupSync(spark, probe, s"$work/data", seed,
        seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new Out
    out("workload") = workload
    out("context") = Map("nproc" -> cores, "master" -> master,
      "jvm" -> (System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "spark" -> spark.version)

    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      probe.span("setup", "setup", "setup")(w.setup(rep, rep == SetupReps))
      val secs = (System.nanoTime() - t0) / 1e9
      probe.note(f"set-up $rep took $secs%.2f s")
      secs
    }
    out("setup_s") = setupS

    probe.span("setup", "warmup", "warmup")(w.warmUp())
    probe.note("warm-up done")
    val heap = new HeapAfterGc
    out.mark("measure_start", probe)
    w.measure(out)
    out.mark("measure_end", probe)
    out("heap_peak_mb") = heap.stop() / 1048576.0
    probe.note("measured phase done")
    probe.span("gate", "gate", "gate")(w.verify(out))

    jobs.foreach { l =>
      l.drain(sc)
      out("jobs") = l.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        Seq(j.id, j.layer, j.span, j.trace, j.startMs, j.endMs, j.stages))
      out("stages") = l.stages.asScala.toSeq.map(s =>
        Seq(s.id, s.tasks, s.shuffleWriteBytes, s.outputBytes, s.cpuNs))
      out("spans") = probe.spans.asScala.toSeq.map(s =>
        Seq(s.id, s.parent, s.trace, s.layer, s.name, s.startMs, s.endMs))
    }
    val f = new java.io.PrintWriter(rawPath, "UTF-8")
    try f.println(Json.render(out.fields)) finally f.close()
    spark.stop()
  }
}

/** Peak JVM heap in use right after a garbage collection, over the
  * span from construction to [[stop]] — the live set, steadier than raw
  * peak usage, which mostly measures when collections happen to run. */
final class HeapAfterGc extends NotificationListener {
  @volatile private var peak = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }.toSeq
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
        .map(_.getUsed).sum
      synchronized { peak = math.max(peak, used) }
    }

  /** Collects once more (so the end state counts), detaches, and returns
    * the peak in bytes. */
  def stop(): Long = {
    System.gc()
    Thread.sleep(200)
    emitters.foreach(_.removeNotificationListener(this))
    synchronized(peak)
  }
}
