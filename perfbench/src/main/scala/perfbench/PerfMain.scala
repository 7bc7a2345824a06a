package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

/** Engine side of the benchmark: runs one workload in this JVM and writes
  * its raw samples to `<runDir>/result.json`; `run.py` turns them into
  * metrics and checks the outputs.
  *
  * Usage: `PerfMain <job.json>` (written by run.py).
  */
object PerfMain {
  val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val job = json.readTree(new java.io.File(args(0)))
    val out = json.createObjectNode()
    out.put("jvm_start_ns",
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L)
    val cpus = job.get("cpus").asInt()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out.put("session_ready_ns", Clock.now())
    val tracer = new Tracer(job.get("trace").asBoolean())
    try {
      job.get("workload").asText() match {
        case "cdc_catchup" => CdcWorkloads.catchup(spark, job, tracer, out)
        case "cdc_live_tail" => CdcWorkloads.liveTail(spark, job, tracer, out)
        case "query_suite" => QuerySuite.run(spark, job, tracer, out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally {
      out.put("peak_rss_kb", peakRssKb())
      tracer.writeSpans(Paths.get(job.get("run_dir").asText(), "spans.jsonl"))
      Files.write(Paths.get(job.get("run_dir").asText(), "result.json"),
        json.writeValueAsBytes(out))
      spark.stop()
    }
  }

  /** This JVM's resident-set high-water mark (VmHWM). */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def obj(): ObjectNode = json.createObjectNode()
  def arr(): ArrayNode = json.createArrayNode()
}

/** Wall clock in epoch nanoseconds with nanoTime resolution, so spans and
  * batch publish times line up with the emitter's `time.time_ns()`. */
object Clock {
  private val baseEpoch = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpoch + (System.nanoTime() - baseNano)
}

/** Line client for the emitter's control port. */
final class EmitterCtl(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
  private val out = new PrintWriter(sock.getOutputStream, true)

  def cmd(line: String): String = synchronized {
    out.println(line)
    val reply = in.readLine()
    if (reply == null) throw new IllegalStateException(s"emitter gone after '$line'")
    reply
  }

  def stats(): JsonNode = PerfMain.json.readTree(cmd("STATS"))

  override def close(): Unit = sock.close()
}
