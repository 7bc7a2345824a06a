package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.cdc.{CdcClient, CdcField, CdcReplayPartition, CdcReplayReader,
  CdcRowMsg, CdcSchemaMsg, SqlTypes}
import graft.streaming.CdcSink

/** The two CDC workloads: `spark.readStream.format("maxscale-cdc")` from
  * the loopback emitter into `CdcSink.writer`. */
object CdcWorkloads {
  val Table = "db.changes"
  val WarmTable = "db.warm"
  private val User = "bench"
  private val Password = "bench"

  /** The emitter's table schema (its in-band schema message resolves to
    * exactly these types). */
  val Fields: Seq[CdcField] = Seq(
    CdcField("domain", "int"), CdcField("server_id", "int"),
    CdcField("sequence", "int"), CdcField("event_number", "int"),
    CdcField("timestamp", "int"), CdcField("event_type", "varchar(32)"),
    CdcField("id", "int"), CdcField("qty", "int"), CdcField("version", "bigint"),
    CdcField("amount", "double"), CdcField("updated_at", "datetime"),
    CdcField("note", "varchar(255)"))

  private final class Ctx(val spark: SparkSession, val job: JsonNode,
      val tracer: Tracer, val ctl: EmitterCtl, val progress: ProgressLog) {
    val port: Int = job.get("cdc_port").asInt()
    val runDir: String = job.get("run_dir").asText()
    val cdc: JsonNode = job.get("cdc")
    def stream(table: String, extra: Map[String, String] = Map.empty): DataFrame = {
      ctl.cmd("PROBE")
      val r = spark.readStream.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("user", User).option("password", Password)
        .option("table", table)
        .option("timeoutSeconds", "1")
        .option("replayPartitions", cdc.get("replay_partitions").asText())
      extra.foldLeft(r) { case (rr, (k, v)) => rr.option(k, v) }.load()
    }
  }

  private def withCtx(spark: SparkSession, job: JsonNode, tracer: Tracer)(
      body: Ctx => Unit): Unit = {
    val ctl = new EmitterCtl(job.get("ctl_port").asInt())
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    try body(new Ctx(spark, job, tracer, ctl, progress))
    finally {
      spark.streams.removeListener(progress)
      ctl.close()
    }
  }

  /** `cdc_catchup`: the planted backlog drained by `Trigger.AvailableNow`
    * into a fresh sink, once per round. A warm round over a short table
    * runs first, untimed. Rounds repeat until `seconds` have passed (at
    * least `min_rounds`); in the traced run they alternate untraced and
    * traced, so the traced rounds' drain time against the untraced ones
    * is the tracing overhead. */
  def catchup(spark: SparkSession, job: JsonNode, tracer: Tracer, out: ObjectNode): Unit =
    withCtx(spark, job, tracer) { c =>
      val mepb = c.cdc.get("max_events_per_batch").asText()
      val rounds = out.putArray("rounds")
      out.set[ObjectNode]("warm_round", drain(c, WarmTable, "warm", mepb))
      out.put("first_timed_op_ns", Clock.now())
      val t0 = System.nanoTime()
      val minRounds = c.cdc.get("min_rounds").asInt()
      val maxRounds = c.cdc.get("max_rounds").asInt()
      val seconds = job.get("seconds").asDouble()
      var r = 0
      while (r < maxRounds &&
          (r < minRounds || (System.nanoTime() - t0) / 1e9 < seconds)) {
        if (r % 2 == 1) tracer.enable(spark) else tracer.disable(spark)
        rounds.add(drain(c, Table, s"round$r", mepb))
        r += 1
      }
      tracer.disable(spark)
      if (tracer.requested) out.set[ObjectNode]("side", sidePasses(c,
        job.get("cdc").get("backlog").asLong()))
      out.set[JsonNode]("emitter", c.ctl.stats())
    }

  /** One AvailableNow drain of `table` into a fresh sink table. */
  private def drain(c: Ctx, table: String, label: String, mepb: String): ObjectNode = {
    val o = PerfMain.obj()
    val dir = Paths.get(c.runDir, label)
    val df = c.stream(table, Map("maxEventsPerBatch" -> mepb))
    val sink = new SinkProbe(dir.resolve("table").toString, c.tracer)
    c.ctl.cmd("QUERY")
    c.ctl.cmd(s"PHASE $label")
    val traced = c.tracer.on
    val before = if (traced) c.tracer.tasks.snapshot(c.spark) else Map.empty[String, Long]
    val trace = c.tracer.nextId()
    val start = Clock.now()
    val q = df.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .foreachBatch(sink.fn).start()
    q.awaitTermination()
    val end = Clock.now()
    c.ctl.cmd("PHASE idle")
    o.put("label", label)
    o.put("traced", traced)
    o.put("start_ns", start)
    o.put("end_ns", end)
    o.set[JsonNode]("batches", sink.toJson)
    val prog = c.progress.await(q.id, sink.batches.asScala.map(_.id))
    val pa = o.putArray("progress")
    prog.foreach(p => pa.add(ProgressLog.toJson(p)))
    if (traced) {
      TaskTotals.put(o.putObject("tasks"),
        TaskTotals.diff(before, c.tracer.tasks.snapshot(c.spark)))
      traceBatches(c.tracer, trace, start, end, sink, prog)
    }
    if (label != "warm") {
      o.put("state_file", dumpState(c.spark, dir.resolve("table").toString,
        Paths.get(c.runDir, s"$label-state.jsonl").toString))
      o.put("state_bytes", dirBytes(dir.resolve("table")))
    }
    deleteTree(dir)
    o
  }

  /** Spans for a drained query: the query, each micro-batch (from its
    * progress report) and each sink call inside it. */
  private def traceBatches(t: Tracer, trace: Long, start: Long, end: Long,
      sink: SinkProbe, prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    val root = t.nextId()
    t.record(trace, root, 0, "stream", start, end)
    val sinkBy = sink.batches.asScala.map(b => b.id -> b).toMap
    prog.filter(_.numInputRows > 0).foreach { p =>
      val bs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val dur = p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
      val bid = t.nextId()
      t.record(trace, bid, root, "microbatch", bs, bs + dur * 1000000L)
      sinkBy.get(p.batchId).foreach { b =>
        val sid = t.nextId()
        t.record(trace, sid, bid, "sink.apply", b.startNs, b.endNs)
        val wid = t.nextId()
        val pubStart = b.endNs - b.publishNs
        t.record(trace, wid, sid, "sink.swap", pubStart, b.endNs)
        t.record(trace, t.nextId(), wid, "sink.write", pubStart, pubStart + b.writeNs)
      }
    }
  }

  /** `cdc_live_tail`: one row per key is preloaded and committed untimed,
    * then the emitter appends at a fixed rate on a wall-clock schedule
    * while the default-trigger stream publishes into the sink. In the
    * traced run the batches of the timed window alternate untraced and
    * traced (the switch happens after each batch), so traced and untraced
    * batches of the same window give the tracing overhead. */
  def liveTail(spark: SparkSession, job: JsonNode, tracer: Tracer, out: ObjectNode): Unit =
    withCtx(spark, job, tracer) { c =>
      val keys = c.cdc.get("keys").asLong()
      val dir = Paths.get(c.runDir, "live")
      // the capped batches split the preload into several sink calls that
      // warm the merge and rewrite path; live batches stay far below the cap
      val df = c.stream(Table,
        Map("maxEventsPerBatch" -> c.cdc.get("preload_events_per_batch").asText()))
      val sink = new SinkProbe(dir.resolve("table").toString, c.tracer)
      c.ctl.cmd("QUERY")
      c.ctl.cmd("PHASE preload")
      val q = df.writeStream
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .foreachBatch(sink.fn).start()
      def committed: Long = c.progress.of(q.id).filter(_.numInputRows > 0)
        .flatMap(_.sources.headOption).map(s => seqOf(s.endOffset))
        .foldLeft(0L)(math.max)
      awaitCommitted(q, committed, keys)
      c.ctl.cmd("PHASE live")
      val Array(_, t0, first, count, rate) = c.ctl.cmd("LIVE").split(" ")
      // the schedule's first `warm_seconds` keep the live path busy untimed
      val timedFrom = t0.toLong + (c.cdc.get("live_warm_seconds").asDouble() * 1e9).toLong
      out.put("first_timed_op_ns", timedFrom)
      val live = out.putObject("live")
      live.put("t0_ns", t0.toLong)
      live.put("timed_from_ns", timedFrom)
      live.put("first_seq", first.toLong)
      live.put("count", count.toLong)
      live.put("rate", rate.toDouble)
      live.put("preload_batches", sink.batches.size)
      if (tracer.requested) sink.afterBatch = { b =>
        if (b.endNs >= timedFrom) {
          if (tracer.on) tracer.disable(spark) else tracer.enable(spark)
        }
      }
      c.ctl.cmd("WAIT_LIVE")
      awaitCommitted(q, committed, first.toLong + count.toLong - 1)
      c.ctl.cmd("PHASE idle")
      q.stop()
      tracer.disable(spark)
      val prog = c.progress.await(q.id, sink.batches.asScala.map(_.id))
      // the listener was registered only during traced batches: the totals
      // cover exactly them
      if (tracer.requested) {
        TaskTotals.put(live.putObject("tasks"), tracer.tasks.snapshot(spark))
        tracer.enable(spark)
        traceBatches(tracer, tracer.nextId(), t0.toLong, Clock.now(), sink,
          prog.filter(p => sink.batches.asScala.exists(b => b.id == p.batchId && b.traced)))
        tracer.disable(spark)
      }
      live.set[JsonNode]("batches", sink.toJson)
      val pa = live.putArray("progress")
      prog.foreach(p => pa.add(ProgressLog.toJson(p)))
      live.put("state_file", dumpState(spark, dir.resolve("table").toString,
        Paths.get(c.runDir, "live-state.jsonl").toString))
      live.put("state_bytes", dirBytes(dir.resolve("table")))
      if (tracer.requested) out.set[ObjectNode]("side", sidePasses(c, keys))
      out.set[JsonNode]("emitter", c.ctl.stats())
      deleteTree(dir)
    }

  private def seqOf(offset: String): Long =
    if (offset == null || !offset.contains('-')) 0L
    else offset.trim.stripPrefix("\"").stripSuffix("\"").split("-")(2).toLong

  private def awaitCommitted(q: org.apache.spark.sql.streaming.StreamingQuery,
      committed: => Long, seq: Long, timeoutMs: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (committed < seq) {
      q.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"sink did not reach sequence $seq")
      Thread.sleep(5)
    }
  }

  /** Traced-run side passes over the first `events` events of the main
    * table: the bare wire client on one connection, then one replay
    * reader (wire + typed row build) over the same range. */
  private def sidePasses(c: Ctx, events: Long): ObjectNode = {
    val o = PerfMain.obj()
    c.ctl.cmd("SIDE")
    c.ctl.cmd("PHASE side_client")
    val client = new CdcClient("127.0.0.1", c.port, User, Password, 10000)
    val c0 = System.nanoTime()
    var rows = 0L
    try {
      client.connect()
      client.requestData(Table, None)
      while (rows < events) client.readMessage() match {
        case _: CdcRowMsg => rows += 1
        case _: CdcSchemaMsg => ()
        case other => throw new IllegalStateException(s"side pass stopped: $other")
      }
    } finally client.close()
    val cs = o.putObject("client")
    cs.put("rows", rows)
    cs.put("secs", (System.nanoTime() - c0) / 1e9)

    c.ctl.cmd("PHASE side_replay")
    val dts = SqlTypes.toStructType(Fields, typed = true).fields.map(_.dataType)
    val r0 = System.nanoTime()
    val reader = new CdcReplayReader(CdcReplayPartition("127.0.0.1", c.port, User,
      Password, Table, Fields, None, s"0-1-$events", 10000), dts, typed = true)
    var first = 0.0
    var n = 0L
    var sink = 0L
    try {
      while (reader.next()) {
        if (n == 0) first = (System.nanoTime() - r0) / 1e9
        sink += reader.get().numFields
        n += 1
      }
    } finally reader.close()
    val rs = o.putObject("replay")
    rs.put("rows", n)
    rs.put("secs", (System.nanoTime() - r0) / 1e9)
    rs.put("first_row_s", first)
    c.ctl.cmd("PHASE idle")
    o
  }

  /** The sink's final state, one JSON object per key, for the per-key
    * check against the recompute of the emitted log. Returns the path. */
  private def dumpState(spark: SparkSession, tableDir: String, path: String): String = {
    val rows = CdcSink.readState(spark, tableDir)
      .selectExpr("id", "sequence", "qty", "version", "amount",
        "unix_micros(updated_at) AS upd_us", "note")
      .toJSON.collect()
    Files.write(Paths.get(path), rows.toSeq.asJava)
    path
  }

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
}
