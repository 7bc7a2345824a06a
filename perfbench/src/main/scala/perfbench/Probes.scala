package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.{CdcSink, RenameSwap, TableSwap}

/** Spans and the Spark listeners of the traced run. While it is off, no
  * listener is registered and [[span]] only runs its body. */
final class Tracer(val requested: Boolean) {
  @volatile private var active = false
  private val spans = new ConcurrentLinkedQueue[String]()
  private val ids = new AtomicLong()
  val tasks = new TaskTotals
  val phases = new QePhases

  def on: Boolean = active
  def nextId(): Long = ids.incrementAndGet()

  def enable(spark: SparkSession): Unit = if (requested && !active) {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(phases)
    active = true
  }

  def disable(spark: SparkSession): Unit = if (active) {
    org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(phases)
    active = false
  }

  def record(trace: Long, id: Long, parent: Long, name: String,
      startNs: Long, endNs: Long): Unit = if (active)
    spans.add(s"""{"trace":$trace,"span":$id,"parent":$parent,"name":"$name",""" +
      s""""start_ns":$startNs,"end_ns":$endNs}""")

  /** Times `body` as span `name` under `parent` (0 = root). */
  def span[T](trace: Long, parent: Long, name: String)(body: Long => T): T =
    if (!active) body(0L)
    else {
      val id = nextId()
      val s = Clock.now()
      try body(id) finally record(trace, id, parent, name, s, Clock.now())
    }

  def writeSpans(p: Path): Unit =
    if (requested) Files.write(p, spans.asScala.toSeq.asJava)
}

/** Task metrics summed over every task that ends while registered. */
final class TaskTotals extends SparkListener {
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val inputRows = new AtomicLong
  val outputRows = new AtomicLong
  val jobs = new AtomicLong

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      outputRows.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  def snapshot(spark: SparkSession): Map[String, Long] = {
    org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
    Map("run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
      "fetch_wait_ms" -> fetchWaitMs.get,
      "shuffle_write_bytes" -> shuffleWriteBytes.get,
      "input_rows" -> inputRows.get, "output_rows" -> outputRows.get,
      "jobs" -> jobs.get)
  }
}

object TaskTotals {
  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  def put(o: ObjectNode, m: Map[String, Long]): ObjectNode = {
    m.foreach { case (k, v) => o.put(k, v) }
    o
  }
}

/** Catalyst phase times of the last action that succeeded. */
final class QePhases extends QueryExecutionListener {
  val last = new AtomicReference[Map[String, Long]](Map.empty)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    last.set(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Every micro-batch's progress report, by query id. */
final class ProgressLog extends StreamingQueryListener {
  private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    all.add(e.progress)

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    all.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)

  /** Waits until every listed batch's report arrived (progress events are
    * posted asynchronously). */
  def await(id: java.util.UUID, batchIds: Iterable[Long],
      timeoutMs: Long = 30000): Seq[StreamingQueryProgress] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def missing = batchIds.toSet -- of(id).map(_.batchId)
    while (missing.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(10)
    of(id)
  }
}

object ProgressLog {
  def toJson(p: StreamingQueryProgress): ObjectNode = {
    val o = PerfMain.obj()
    o.put("batch_id", p.batchId)
    o.put("timestamp_ms", java.time.Instant.parse(p.timestamp).toEpochMilli)
    o.put("rows", p.numInputRows)
    val d = o.putObject("duration_ms")
    p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue()) }
    p.sources.headOption.foreach { s =>
      o.put("end_offset", s.endOffset)
      val m = o.putObject("source_metrics")
      s.metrics.asScala.foreach { case (k, v) => m.put(k, v) }
    }
    o
  }
}

/** `CdcSink.writer` wrapped so each batch's publish time is recorded; in
  * the traced run the swap's `write` callback is timed apart from the
  * renames around it. */
final class SinkProbe(tableDir: String, tracer: Tracer) {
  import SinkProbe.Batch
  val batches = new ConcurrentLinkedQueue[Batch]()

  private val writeNs = new AtomicLong
  private val publishNs = new AtomicLong
  private val timedSwap = new TableSwap {
    override def publish(dir: String, write: String => Unit): Unit = {
      val p0 = System.nanoTime()
      RenameSwap.publish(dir, { next =>
        val w0 = System.nanoTime()
        write(next)
        writeNs.set(System.nanoTime() - w0)
      })
      publishNs.set(System.nanoTime() - p0)
    }
  }
  private val plain = CdcSink.writer(tableDir, "id", Seq("sequence"))
  private val timed = CdcSink.writer(tableDir, "id", Seq("sequence"), swap = timedSwap)

  /** Runs in the stream thread after each batch is published and recorded. */
  @volatile var afterBatch: Batch => Unit = _ => ()

  val fn: (DataFrame, Long) => Unit = { (df, id) =>
    val traced = tracer.on
    val s = Clock.now()
    if (traced) timed(df, id) else plain(df, id)
    val e = Clock.now()
    val b = Batch(id, s, e, if (traced) writeNs.get else 0L,
      if (traced) publishNs.get else 0L, traced)
    batches.add(b)
    afterBatch(b)
  }

  def toJson: com.fasterxml.jackson.databind.node.ArrayNode = {
    val a = PerfMain.arr()
    batches.asScala.toSeq.sortBy(_.id).foreach { b =>
      val o = a.addObject()
      o.put("batch_id", b.id)
      o.put("start_ns", b.startNs)
      o.put("end_ns", b.endNs)
      o.put("write_ns", b.writeNs)
      o.put("publish_ns", b.publishNs)
      o.put("traced", b.traced)
    }
    a
  }
}

object SinkProbe {
  final case class Batch(id: Long, startNs: Long, endNs: Long,
      writeNs: Long, publishNs: Long, traced: Boolean)
}
