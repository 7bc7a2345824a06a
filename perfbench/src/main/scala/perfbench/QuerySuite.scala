package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `query_suite`: declared queries from `SparkEntry.queries`, each run as
  * `fn(spark, dir).count()` by one closed-loop client, pass after pass in
  * the per-pass orders the job lists. Untimed warm passes run first: the
  * first builds the IndexStore artifacts (the JVM's `GRAFT_INDEX_DIR` is
  * fresh), the next lets JIT compilation settle. In the
  * traced run every pass traces half the queries and every query is traced
  * in half the passes, so traced and untraced executions share the window. */
object QuerySuite {
  def run(spark: SparkSession, job: JsonNode, tracer: Tracer, out: ObjectNode): Unit = {
    val dir = job.get("data_dir").asText()
    val names = job.get("queries").elements().asScala.map(_.asText()).toSeq
    val orders = job.get("orders").elements().asScala
      .map(_.elements().asScala.map(_.asText()).toSeq).toSeq
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    val oracle = out.putObject("oracle_sql")
    names.foreach(n => oracle.put(n, SparkEntry.oracleSql(n)))

    // warm passes: artifact builds and first-use costs, off the clock
    val warm = out.putArray("warm")
    for (_ <- 0 until job.get("warm_passes").asInt(); n <- names) {
      val t0 = System.nanoTime()
      val cnt = fns(n)(spark, dir).count()
      val o = warm.addObject()
      o.put("query", n)
      o.put("secs", (System.nanoTime() - t0) / 1e9)
      o.put("count", cnt)
    }

    out.put("first_timed_op_ns", Clock.now())
    val execs = out.putArray("executions")
    val pinned = out.putArray("persistent_rdds_after_pass")
    orders.zipWithIndex.foreach { case (order, pass) =>
      order.foreach { n =>
        if ((pass + names.indexOf(n)) % 2 == 1) tracer.enable(spark) else tracer.disable(spark)
        execs.add(execute(spark, tracer, n, fns(n), dir, pass))
      }
      pinned.add(spark.sparkContext.getPersistentRDDs.size)
    }
    tracer.disable(spark)
  }

  /** One timed `fn(spark, dir).count()`: construction, then the action. */
  private def execute(spark: SparkSession, tracer: Tracer, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      dir: String, pass: Int): ObjectNode = {
    val o = PerfMain.obj()
    o.put("query", name)
    o.put("pass", pass)
    val traced = tracer.on
    o.put("traced", traced)
    val trace = tracer.nextId()
    val before = if (traced) tracer.tasks.snapshot(spark) else Map.empty[String, Long]
    tracer.span(trace, 0, "query") { root =>
      val t0 = System.nanoTime()
      val df = tracer.span(trace, root, "construct")(_ => fn(spark, dir))
      val t1 = System.nanoTime()
      val mid = if (traced) tracer.tasks.snapshot(spark) else Map.empty[String, Long]
      val x0 = Clock.now()
      val cnt = df.count()
      val x1 = Clock.now()
      val t2 = System.nanoTime()
      o.put("construct_s", (t1 - t0) / 1e9)
      o.put("wall_s", (t2 - t0) / 1e9)
      o.put("count", cnt)
      if (traced) {
        val after = tracer.tasks.snapshot(spark)
        o.put("jobs_construct", mid("jobs") - before("jobs"))
        TaskTotals.put(o.putObject("tasks"), TaskTotals.diff(mid, after))
        val ph = o.putObject("phases_ms")
        val phases = tracer.phases.last.getAndSet(Map.empty)
        phases.foreach { case (k, v) => ph.put(k, v) }
        // the count action: planning phases, then the execution after them
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).sum
        val exec = tracer.nextId()
        tracer.record(trace, exec, root, "count", x0, x1)
        tracer.record(trace, tracer.nextId(), exec, "plan", x0, x0 + planMs * 1000000L)
        tracer.record(trace, tracer.nextId(), exec, "execute", x0 + planMs * 1000000L, x1)
      }
    }
    o
  }
}
