package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{SchemaRegistry, TableSchemaV}
import graft.pipeline.{CdcPipeline, PipelineConfig, TableState}
import graft.sinks.CurrentStateSink
import graft.sources.PgOutput

/** One replication set-up under `root`: the change log, a pgoutput decode
  * session, the schema registry, a timed current-state sink, and a
  * pipeline over them. Keeps the last-writer-wins replay of everything
  * it generated, for the correctness gate. */
final class CdcRig(spark: SparkSession, probe: Probe, root: String,
    val gen: Tpcc, mergeOnRead: Boolean, maxRowsPerTrigger: Long) {
  val log: String = s"$root/wal.log"
  Files.createDirectories(Paths.get(root))
  Files.createFile(Paths.get(log))
  private val session = new PgOutput.DecodeSession(
    spoolDir = Some(Paths.get(root, "spool")))
  private val relationLines = gen.tables.flatMap { case (id, name) =>
    session.onFrame(PgOutput.encode(Tpcc.relation(id, name))) }
  private val schemas: IndexedSeq[TableSchemaV] = relationLines.zip(gen.tables).map {
    case (line, (id, _)) =>
      CdcPipeline.parseRelation(id.toLong, 0L, line.split("\t")(7)) }
  private val registry = new SchemaRegistry
  schemas.foreach(registry.put)

  val sink = new TimedSink(new CurrentStateSink(s"$root/tables",
    _ => Seq("key"), 8, mergeOnRead = mergeOnRead,
    morMinAffectedBytes = 0L), probe)
  val pipeline = new CdcPipeline(spark,
    PipelineConfig(maxRowsPerTrigger = maxRowsPerTrigger, maxFillMs = 50,
      maxTableSyncWorkers = gen.tables.size,
      checkpointDir = s"$root/ckpt", stateDir = s"$root/state"),
    registry, sink, (df: DataFrame, s: TableSchemaV) =>
      probe.span("pipeline", "pipeline.decode")(CdcPipeline.jsonDecode(df, s)))

  /** Last-writer-wins replay of snapshot + every generated event. */
  private val expected: IndexedSeq[mutable.HashMap[Long, (String, String)]] =
    gen.tables.map(_ => mutable.HashMap.empty[Long, (String, String)])
  private var lsn = 1000L
  private var xid = 1
  var decodeNs = 0L
  var frames = 0L

  private val rowSchema = StructType(Seq(StructField("key", LongType, false),
    StructField("val", DoubleType), StructField("note", StringType)))

  /** Snapshot copy of all eight tables through `CdcPipeline.backfill`;
    * returns its wall seconds. */
  def backfill(): Double = {
    val snaps = gen.tables.map { case (id, _) => id -> gen.snapshot(id) }.toMap
    snaps.foreach { case (id, rows) =>
      rows.foreach { case (k, v, n) => expected(id - 1)(k) = (v, n) } }
    val t0 = System.nanoTime()
    probe.span("pipeline", "pipeline.backfill", "copy") {
      pipeline.backfill(schemas, s => {
        val rows = snaps(s.tableId.toInt).map { case (k, v, n) =>
          Row(k, v.toDouble, n) }
        (spark.createDataFrame(rows.asJava, rowSchema), 0L)
      })
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Appends lines to the change log in one write. */
  def append(lines: Iterable[String]): Unit = {
    val sb = new java.lang.StringBuilder
    lines.foreach { l => sb.append(l).append('\n') }
    Files.write(Paths.get(log), sb.toString.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.APPEND)
  }

  /** Encodes transactions as pgoutput frames, assigning commit LSNs and
    * folding their events into the expected state. Read-only
    * transactions get no frames and LSN -1. */
  def encode(txns: IndexedSeq[Seq[Ev]]): IndexedSeq[(Long, Seq[Array[Byte]], Int)] =
    txns.map { evs =>
      if (evs.isEmpty) (-1L, Seq.empty[Array[Byte]], 0)
      else {
        lsn += 10; xid += 1
        txnTables(lsn) = evs.map(_.table)
        evs.foreach { e =>
          if (e.op == 'D') expected(e.table - 1).remove(e.key)
          else expected(e.table - 1)(e.key) = (e.value, e.note)
        }
        (lsn, Tpcc.frames(lsn, xid, evs), evs.size)
      }
    }

  /** Change events of `txns` that went to `tables` (an errored table
    * counts all of its events as failed). */
  def eventsIn(txns: Iterable[(Long, Seq[Array[Byte]], Int)],
      tables: Set[Int]): Long =
    if (tables.isEmpty) 0L
    else txns.iterator.filter(_._1 >= 0).map(t => txnTables(t._1)
      .count(tables)).sum.toLong
  private val txnTables = mutable.HashMap.empty[Long, Seq[Int]]

  /** Header lines (the Relation records) the change log starts with. */
  def header(): Unit = append(relationLines)

  /** Runs frames through the decode session; the time inside `onFrame`
    * accumulates in [[decodeNs]]. */
  def decode(fs: Iterable[Array[Byte]]): mutable.ArrayBuffer[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    fs.foreach { f =>
      val t0 = System.nanoTime()
      out ++= session.onFrame(f)
      decodeNs += System.nanoTime() - t0
      frames += 1
    }
    out
  }

  /** Correctness gate: every table's row count and xor-of-row-hashes
    * equals the replay, and no table is quarantined. Returns the failed
    * table ids with reasons. */
  def verify(): Seq[(Int, String)] = gen.tables.flatMap { case (id, name) =>
    val state = pipeline.stateStore.get(id.toLong)
    val errored = state match {
      case TableState.Errored(reason, _) => Some(s"$name errored: $reason")
      case _ => None
    }
    def digest(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(key, val, note))"), lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val want = digest(spark.createDataFrame(expected(id - 1).iterator
      .map { case (k, (v, n)) => Row(k, v.toDouble, n) }.toSeq.asJava,
      rowSchema))
    val got = digest(sink.inner.read(spark, name).select("key", "val", "note"))
    val mismatch = if (got == want) None
      else Some(s"$name: rows/hash $got, expected $want")
    (errored.toSeq ++ mismatch).map(id -> _)
  }

  /** (merge-on-read layers, live data files) summed over the tables. */
  def layersAndFiles(): (Long, Long) = gen.tables.map { case (_, name) =>
    val t = sink.inner.tableFor(name)
    (t.layerPressure.layers.toLong, t.currentFiles.size.toLong)
  }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}

/** A closed-loop point reader: one thread issuing its next read as soon
  * as the previous one returns, from `start` until `stop`. Each read
  * reports whether its result was well-formed; failures are counted. */
final class Reader(probe: Probe, seed: Long)(
    read: java.util.SplittableRandom => Boolean) {
  private val rnd = new java.util.SplittableRandom(seed)
  val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Double]
  @volatile var attempted = 0L
  @volatile var failed = 0L
  @volatile private var running = true
  private val thread = new Thread(() => while (running) once(),
    "perfbench-reader")

  private def once(): Unit = {
    attempted += 1
    val t0 = probe.nowMs
    val ok = try probe.span("sinks", "sinks.lookup", "read")(read(rnd))
      catch { case e: Exception =>
        System.err.println(s"lookup failed: $e"); false }
    latencies.add(probe.nowMs - t0)
    if (!ok) failed += 1
  }

  def start(): Unit = thread.start()
  def stop(): Unit = { running = false; thread.join() }

  def report(out: Out): Unit = {
    out("lookup_ms") = latencies.asScala.toSeq
    out("lookups") = attempted
  }
  def errors: Seq[String] =
    if (failed > 0) Seq(s"$failed of $attempted lookups failed") else Nil
}

object Reader {
  /** Reads one live key of a TPC-C table: at most one row, with that key. */
  def tpcc(spark: SparkSession, sink: TimedSink, gen: Tpcc)
      (r: java.util.SplittableRandom): Boolean = {
    val readable = Array(1, 2, 3, 4, 5, 7, 8)
    val table = readable(r.nextInt(readable.length))
    val key = gen.readKey(r, table)
    val rows = sink.inner.tableFor(gen.tables(table - 1)._2)
      .lookup(spark, Seq(key)).collect()
    rows.length <= 1 && rows.forall(_.getAs[Long]("key") == key)
  }
}
