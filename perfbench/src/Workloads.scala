package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.IncrementalDedup
import graft.sinks.GraftTable
import graft.sources.LsnOffset

/** Raw observations of one run, written out as JSON for `run.py`, which
  * derives every reported metric from them. */
final class Out {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = fields(k) = v

  /** Records a phase boundary: time, this JVM's CPU time, and
    * the host's CPU counters (for the steal share over the phase). */
  def mark(name: String, probe: Probe): Unit = {
    fields(s"${name}_ms") = probe.nowMs
    fields(s"${name}_cpu_ns") = Out.processCpuNs()
    fields(s"${name}_stat") = Out.hostCpu()
  }
}

object Out {
  def processCpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  /** Aggregate jiffies of /proc/stat's first line (empty off Linux). */
  def hostCpu(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").toSeq.tail.map(_.toLong)
      finally src.close()
    } catch { case _: Exception => Seq.empty }
}

object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}

/** A workload: `setup` builds fresh state (run several times; the last
  * state is the one measured), `warmUp` runs one discarded round of the
  * measured work on it (JIT and code generation, which a long-running
  * replicator has long finished), `measure` times the work, and `verify`
  * then checks its outputs and counts attempted and failed operations. */
abstract class Workload(val spark: SparkSession, val probe: Probe,
    val root: String, val seed: Long, val seconds: Int) {
  def setup(rep: Int, last: Boolean): Unit
  def warmUp(): Unit
  def measure(out: Out): Unit
  def verify(out: Out): Unit

  /** Per-batch facts of a CDC stream: sink bracket times plus the
    * progress the stream reported for each batch. */
  protected def batchFacts(rig: CdcRig, progress: ProgressListener,
      ids: Seq[Long]): Seq[Map[String, Any]] = {
    progress.await(ids)
    ids.sorted.map { id =>
      val p = Option(progress.progress.get(id))
      Map("id" -> id, "begin_ms" -> rig.sink.batchBegin.get(id),
        "commit_ms" -> rig.sink.batchCommit.get(id),
        "rows" -> p.map(_.rows).getOrElse(0L),
        "end_lsn" -> p.map(x => LsnOffset.fromJson(x.endOffset))
          .map(o => if (o.boundary) o.commitLsn else o.commitLsn - 1)
          .getOrElse(-1L),
        "durations" -> p.map(_.durations).getOrElse(Map.empty))
    }
  }

  /** For each commit LSN, the commit time of the first batch whose end
    * offset covers it. */
  protected def coverTimes(lsns: Seq[Long],
      batches: Seq[Map[String, Any]]): Seq[Double] = {
    val ends = batches.map(b => (b("end_lsn").asInstanceOf[Long],
      b("commit_ms").asInstanceOf[Double])).toIndexedSeq
    lsns.map { l =>
      ends.find(_._1 >= l).map(_._2).getOrElse(Double.NaN)
    }
  }
}

/** `cdc_catchup`: catching up after an outage. While the pipeline is
  * down a backlog of TPC-C commits accumulates; the replicator then
  * starts, decodes the backlog in one pass, appends it at once and
  * drains it into copy-on-write tables. The whole backlog is present at
  * the first trigger, so batch boundaries are fixed by the seed. The
  * backlog holds [[Catchup.CommitsPerSecondAsked]] commits per second of
  * `seconds`; a smaller one drains first as the warm-up. */
final class Catchup(spark: SparkSession, probe: Probe, root: String,
    seed: Long, seconds: Int, progress: ProgressListener)
    extends Workload(spark, probe, root, seed, seconds) {
  var rig: CdcRig = _
  val copySecs = mutable.ArrayBuffer.empty[Double]
  private val applied =
    mutable.ArrayBuffer.empty[(Long, Seq[Array[Byte]], Int)]

  def setup(rep: Int, last: Boolean): Unit = {
    rig = new CdcRig(spark, probe, s"$root/setup$rep", new Tpcc(seed),
      mergeOnRead = false, Catchup.MaxRows)
    copySecs += rig.backfill()
    rig.header()
  }

  /** One outage: a backlog of `commits` drained by a restarted pipeline.
    * Returns the commits, the backlog's start time and its batches. */
  private def catchUp(commits: Int, trace: String) = {
    val txns = rig.encode(rig.gen.transactions(commits)).filter(_._1 >= 0)
    applied ++= txns
    val before = rig.sink.batchCommit.keySet.asScala.toSet
    val t0 = probe.nowMs
    val lines = probe.span("sources", "sources.decode", trace)(
      rig.decode(txns.flatMap(_._2)))
    rig.append(lines)
    val q = probe.span("pipeline", "pipeline.start", trace)(
      rig.pipeline.startStream(rig.log))
    q.processAllAvailable()
    q.stop()
    val ids = rig.sink.batchCommit.keySet.asScala.toSeq.filterNot(before)
    (txns, t0, batchFacts(rig, progress, ids))
  }

  def warmUp(): Unit = catchUp(Catchup.WarmCommits, "warmup")

  def measure(out: Out): Unit = {
    out("copy_s") = copySecs.toSeq
    rig.decodeNs = 0L; rig.frames = 0L; rig.sink.writeMs.clear()
    val (txns, t0, facts) = catchUp(
      Catchup.CommitsPerSecondAsked * seconds, "backlog")
    val tEnd = facts.map(_("commit_ms").asInstanceOf[Double]).max
    val events = txns.map(_._3.toLong).sum
    probe.note(s"backlog: $events events, ${facts.size} batches, " +
      f"${(tEnd - t0) / 1000}%.2f s")
    out("batches") = facts
    out("events") = events
    out("events_per_s") = events / ((tEnd - t0) / 1000.0)
    out("lag_ms") = coverTimes(txns.map(_._1), facts).map(_ - t0)
    out("decode_ns") = rig.decodeNs
    out("frames") = rig.frames
    out("write_ms") = rig.sink.writeMs.asScala.toSeq
    val (layers, files) = rig.layersAndFiles()
    out("layers_at_end") = layers
    out("files_at_end") = files
  }

  def verify(out: Out): Unit = {
    val bad = rig.verify()
    out("errors") = bad.map(_._2)
    out("attempted") = applied.map(_._3.toLong).sum
    out("failed") = rig.eventsIn(applied, bad.map(_._1).toSet)
  }
}

object Catchup {
  val CommitsPerSecondAsked = 200
  val WarmCommits = 500
  /** Above the backlog size: the backlog drains as one large batch. */
  val MaxRows = 100000L
}

/** `cdc_steady`: an open-loop generator appends whole commits at a fixed
  * rate into a live pipeline on merge-on-read tables, while a closed-loop
  * reader issues point lookups and an external maintenance sweep runs on
  * a fixed cadence. */
final class Steady(spark: SparkSession, probe: Probe, root: String,
    seed: Long, seconds: Int, progress: ProgressListener)
    extends Workload(spark, probe, root, seed, seconds) {
  val CommitsPerSecond = Steady.CommitsPerSecond
  val MaintenanceEveryMs = 2000L
  val MaxRows = 100000L
  var rig: CdcRig = _
  var query: org.apache.spark.sql.streaming.StreamingQuery = _
  val copySecs = mutable.ArrayBuffer.empty[Double]

  def setup(rep: Int, last: Boolean): Unit = {
    rig = new CdcRig(spark, probe, s"$root/setup$rep", new Tpcc(seed),
      mergeOnRead = true, MaxRows)
    copySecs += rig.backfill()
    rig.header()
    query = rig.pipeline.startStream(rig.log)
    query.processAllAvailable()
    if (!last) query.stop()
  }

  /** The live stream's first commits pay its warm-up, inside the first
    * tenth the backlog-growth check compares against. */
  def warmUp(): Unit = ()

  private var txns: IndexedSeq[(Long, Seq[Array[Byte]], Int)] = _
  private var reader: Reader = _

  def measure(out: Out): Unit = {
    out("copy_s") = copySecs.toSeq
    val n = CommitsPerSecond * seconds
    val rnd = new java.util.SplittableRandom(seed + 1)
    // seeded Poisson schedule (independent users), fixed commit count
    val gaps = Array.fill(n)(-math.log(1.0 - rnd.nextDouble()) /
      CommitsPerSecond * 1000.0)
    txns = rig.encode(rig.gen.transactions(n))
    val before = rig.sink.batchCommit.keySet.asScala.toSet
    val sent = Array.fill(n)(Double.NaN)
    @volatile var stop = false

    reader = new Reader(probe, seed + 7)(
      Reader.tpcc(spark, rig.sink, rig.gen))
    val maintenanceMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val maintThread = new Thread(() => {
      var next = probe.nowMs + MaintenanceEveryMs
      while (!stop) {
        if (probe.nowMs >= next) {
          val t0 = probe.nowMs
          probe.span("sinks", "sinks.maintenance", "maintenance")(
            rig.sink.inner.maintenanceSweep(spark))
          maintenanceMs.add(probe.nowMs - t0)
          next += MaintenanceEveryMs
        } else Thread.sleep(5)
      }
    }, "perfbench-maintenance")
    val start = probe.nowMs + 50.0
    val due = gaps.scanLeft(start)(_ + _).tail
    val genThread = new Thread(() => {
      var i = 0
      while (i < n) {
        val now = probe.nowMs
        if (due(i) > now) Thread.sleep(math.max(0L, (due(i) - now).toLong))
        else {
          var j = i
          val lines = mutable.ArrayBuffer.empty[String]
          while (j < n && due(j) <= probe.nowMs) {
            lines ++= rig.decode(txns(j)._2); j += 1
          }
          rig.append(lines)
          val at = probe.nowMs
          (i until j).foreach(k => sent(k) = at)
          i = j
        }
      }
    }, "perfbench-generator")
    reader.start(); maintThread.start(); genThread.start()
    genThread.join()
    stop = true
    reader.stop(); maintThread.join()
    query.processAllAvailable()
    query.stop()

    val ids = rig.sink.batchCommit.keySet.asScala.toSeq.filterNot(before).sorted
    val facts = batchFacts(rig, progress, ids)
    out("batches") = facts
    val data = txns.indices.filter(i => txns(i)._1 >= 0)
    val covered = coverTimes(data.map(i => txns(i)._1), facts)
    out("lag_ms") = data.zip(covered).map { case (i, c) => c - due(i) }
    out("late_ms") = sent.indices.map(i => sent(i) - due(i))
    val events = data.map(i => txns(i)._3.toLong).sum
    out("events") = events
    // capacity under steady load: events per second of micro-batch time
    out("events_per_s") = events / (facts.map(f =>
      f("commit_ms").asInstanceOf[Double] -
        f("begin_ms").asInstanceOf[Double]).sum / 1000.0)
    out("decode_ns") = rig.decodeNs
    out("frames") = rig.frames
    out("write_ms") = rig.sink.writeMs.asScala.toSeq
    out("maintenance_ms") = maintenanceMs.asScala.toSeq
    reader.report(out)
    val (layers, files) = rig.layersAndFiles()
    out("layers_at_end") = layers
    out("files_at_end") = files
  }

  def verify(out: Out): Unit = {
    val bad = rig.verify()
    out("errors") = bad.map(_._2) ++ reader.errors
    out("attempted") = txns.map(_._3.toLong).sum + reader.attempted
    out("failed") = rig.eventsIn(txns, bad.map(_._1).toSet) + reader.failed
  }
}

object Steady {
  /** The open-loop rate, fixed once at about a third of the catch-up
    * rate measured when the benchmark was defined; it never tracks
    * later code. */
  val CommitsPerSecond = 200
}

/** `dedup_sync`: the incremental near-duplicate index over a 5,000-doc
  * corpus, bootstrapped in set-up, then a fixed number of seeded delta
  * syncs, each rewriting 1% of the documents, after one warm-up sync. */
final class DedupSync(spark: SparkSession, probe: Probe, root: String,
    seed: Long, seconds: Int)
    extends Workload(spark, probe, root, seed, seconds) {
  val Docs = 5000
  val PerSync = Docs / 100
  var corpus: Array[String] = _
  var bands: GraftTable = _
  var pairs: GraftTable = _
  private var rnd: java.util.SplittableRandom = _
  val copySecs = mutable.ArrayBuffer.empty[Double]

  private val schema = StructType(Seq(StructField("doc_id", LongType, false),
    StructField("text", StringType)))
  private def corpusDf(): DataFrame = spark.createDataFrame(
    corpus.indices.map(i => Row(i.toLong, corpus(i))).asJava, schema)

  private def bootstrap(dir: String): (GraftTable, GraftTable) = {
    val b = IncrementalDedup.bandTable(s"$dir/bands", 8)
    val p = IncrementalDedup.pairTable(s"$dir/pairs", 4)
    val docs = corpusDf()
    IncrementalDedup.applyDelta(spark, b, p, docs,
      docs.withColumn("_change_type", lit("insert")), "doc_id", "text",
      DedupSync.seq(1))
    (b, p)
  }

  def setup(rep: Int, last: Boolean): Unit = {
    rnd = new java.util.SplittableRandom(seed)
    corpus = DedupSync.corpus(rnd, Docs)
    val t0 = System.nanoTime()
    val (b, p) = probe.span("operators", "operators.bootstrap", "copy")(
      bootstrap(s"$root/setup$rep"))
    copySecs += (System.nanoTime() - t0) / 1e9
    bands = b; pairs = p
  }

  /** One delta sync rewriting 1% of the documents, as sync number `s`.
    * Returns its (start, end) and the state-table commits it made. */
  private def sync(s: Int): (Double, Double, Long) = {
    val ids = DedupSync.pick(rnd, Docs, PerSync)
    val pre = ids.map(i => Row(i.toLong, corpus(i), "update_preimage"))
    ids.foreach(i => corpus(i) = DedupSync.edit(rnd, corpus, i))
    val post = ids.map(i => Row(i.toLong, corpus(i), "update_postimage"))
    val changes = spark.createDataFrame((pre ++ post).asJava,
      schema.add("_change_type", StringType))
    val docs = corpusDf()
    def versions = bands.currentVersion.getOrElse(0L) +
      pairs.currentVersion.getOrElse(0L)
    val v0 = versions
    val t0 = probe.nowMs
    try probe.span("operators", "operators.sync", s"s$s") {
      IncrementalDedup.applyDelta(spark, bands, pairs, docs, changes,
        "doc_id", "text", DedupSync.seq(s + 2))
    } catch { case e: Exception =>
      System.err.println(s"sync $s failed: $e"); failed += 1 }
    val t1 = probe.nowMs
    probe.note(f"sync $s took ${(t1 - t0) / 1000}%.2f s")
    (t0, t1, versions - v0)
  }
  private var failed = 0L

  def warmUp(): Unit = sync(0)

  private val syncs = DedupSync.syncs(seconds)

  def measure(out: Out): Unit = {
    out("copy_s") = copySecs.toSeq
    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    val commits = mutable.ArrayBuffer.empty[Double]
    (1 to syncs).foreach { s =>
      val (t0, t1, c) = sync(s)
      units += Map("id" -> s.toLong, "begin_ms" -> t0, "commit_ms" -> t1)
      commits += c.toDouble
    }
    val lag = units.map(u => u("commit_ms").asInstanceOf[Double] -
      u("begin_ms").asInstanceOf[Double])
    out("batches") = units.toSeq
    out("commits") = commits.toSeq
    out("lag_ms") = lag.toSeq
    out("events") = (syncs * PerSync).toLong
    out("events_per_s") = syncs * PerSync / (lag.sum / 1000.0)
    out("layers_at_end") = (bands.layerPressure.layers +
      pairs.layerPressure.layers).toLong
    out("files_at_end") = (bands.currentFiles.size +
      pairs.currentFiles.size).toLong
  }

  /** The maintained pairs must equal a from-scratch bootstrap over the
    * final corpus. */
  def verify(out: Out): Unit = {
    val (_, fresh) = bootstrap(s"$root/gate")
    def pairSet(t: GraftTable) = IncrementalDedup.readPairs(spark, t)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val got = pairSet(pairs)
    val want = pairSet(fresh)
    val errors = mutable.ArrayBuffer.empty[String]
    if (got != want) errors += s"pairs differ from a fresh bootstrap: " +
      s"${(got -- want).size} extra, ${(want -- got).size} missing"
    if (failed > 0) errors += s"$failed syncs failed"
    out("pairs") = got.size.toLong
    out("errors") = errors.toSeq
    out("attempted") = syncs + 1L
    out("failed") = if (got != want) syncs + 1L else failed
  }
}

object DedupSync {
  val Vocab: Array[String] = ("batch part spark line column order small " +
    "sort fast value scan a hash slow group agg filter query big key " +
    "window row table stream merge data vector join customer the time " +
    "index page log shard node cache plan").split(" ")

  def seq(i: Int): String = f"$i%016x/0"

  /** Sync count of a run, fixed by the measuring time so that equal
    * arguments give equal work: three per ten seconds asked for. */
  def syncs(seconds: Int): Int = math.max(3, seconds * 3 / 10)

  private def words(r: java.util.SplittableRandom, n: Int): String =
    (0 until n).map(_ => Vocab(r.nextInt(Vocab.length))).mkString(" ")

  /** Seeded corpus: random-word documents of 8-95 words, one in seven a
    * light edit of an earlier one, so near-duplicate pairs exist. */
  def corpus(r: java.util.SplittableRandom, n: Int): Array[String] = {
    val docs = new Array[String](n)
    (0 until n).foreach { i =>
      docs(i) = if (i > 0 && r.nextInt(7) == 0) mutate(r, docs(r.nextInt(i)))
                else words(r, 8 + r.nextInt(88))
    }
    docs
  }

  private def mutate(r: java.util.SplittableRandom, text: String): String = {
    val ws = text.split(" ")
    val edits = 1 + r.nextInt(3)
    (0 until edits).foreach(_ =>
      ws(r.nextInt(ws.length)) = Vocab(r.nextInt(Vocab.length)))
    ws.mkString(" ")
  }

  /** A delta row's new text: half become light edits of themselves, a
    * quarter near-copies of another document, a quarter fresh text. */
  def edit(r: java.util.SplittableRandom, docs: Array[String], i: Int): String =
    r.nextInt(4) match {
      case 0 | 1 => mutate(r, docs(i))
      case 2 => mutate(r, docs(r.nextInt(docs.length)))
      case _ => words(r, 8 + r.nextInt(88))
    }

  def pick(r: java.util.SplittableRandom, n: Int, k: Int): Seq[Int] = {
    val s = mutable.LinkedHashSet.empty[Int]
    while (s.size < k) s += r.nextInt(n)
    s.toSeq
  }
}
