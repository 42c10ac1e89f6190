package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters recorded from outside the library, around calls
  * into its public functions. Disabled, every method is a pass-through,
  * so the untraced loop runs the plain public calls.
  *
  * A span is (op, name, parent, start, end); the op's own span is named
  * "op" and every layer span is its child. Spans stay in memory and are
  * written out once, at the end. Spark's own layers are read from two
  * surfaces that are not library code: a SparkListener for jobs, tasks
  * and task metrics, and a QueryExecutionListener whose QueryExecutions
  * carry the planning tracker (phase times and per-rule times). */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  final case class Span(op: Int, label: String, name: String, parent: String,
      startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var opNo = 0
  private var opLabel = ""
  private var opStart = 0L
  private var inOp = false

  private object exec extends SparkListener {
    val jobs, tasks, cpuNs, gcMs, spill, shuffleWrite, inputRows = new AtomicLong
    def reset(): Unit =
      Seq(jobs, tasks, cpuNs, gcMs, spill, shuffleWrite, inputRows).foreach(_.set(0))
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputRows.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  private object plans extends QueryExecutionListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seen.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      seen.add(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
  }

  /** Stop listening; the spans and counters stay readable. */
  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)
  }

  /** Time `body` as layer `name` of the current op. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || !inOp) body
    else {
      val s = System.nanoTime()
      try body
      finally spans += Span(opNo, opLabel, name, "op", s, System.nanoTime())
    }

  /** Time `body` outside any op (set-up layers); recorded also when
    * tracing is off, as it costs nothing in the timed loop. */
  def setupSpan[T](name: String)(body: => T): T = {
      val s = System.nanoTime()
      try body
      finally spans += Span(-1, "setup", name, "setup", s, System.nanoTime())
    }

  /** Add `v` to counter `name` (summed over ops). */
  def count(name: String, v: Double): Unit = if (enabled && inOp) sums(name) += v

  def beginOp(label: String): Unit = if (enabled) {
    opNo += 1
    opLabel = label
    BenchAccess.drain(spark)
    exec.reset()
    plans.seen.clear()
    inOp = true
    opStart = System.nanoTime()
  }

  def endOp(): Unit = if (enabled) {
    val end = System.nanoTime()
    spans += Span(opNo, opLabel, "op", "", opStart, end)
    BenchAccess.drain(spark)
    count("exec.jobs", exec.jobs.get)
    count("exec.tasks", exec.tasks.get)
    count("exec.executor_cpu_s", exec.cpuNs.get / 1e9)
    count("exec.gc_s", exec.gcMs.get / 1e3)
    count("exec.spill_bytes", exec.spill.get)
    count("exec.shuffle_write_bytes", exec.shuffleWrite.get)
    count("exec.input_rows", exec.inputRows.get)
    count(s"op.$opLabel.n", 1)
    count(s"op.$opLabel.wall_s", (end - opStart) / 1e9)
    count(s"op.$opLabel.executor_cpu_s", exec.cpuNs.get / 1e9)
    val it = plans.seen.iterator()
    while (it.hasNext) {
      val t = it.next().tracker
      val ph = t.phases
      def phase(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
      count("catalyst.analysis_s", phase("analysis"))
      count("catalyst.optimization_s", phase("optimization"))
      count("catalyst.planning_s", phase("planning"))
      t.rules.foreach { case (rule, r) =>
        if (rule.startsWith("graft.")) {
          count("optimizer.graft_rules_s", r.totalTimeNs / 1e9)
          count("optimizer.graft_invocations", r.numInvocations)
          count("optimizer.graft_effective", r.numEffectiveInvocations)
        }
      }
    }
    inOp = false
  }

  def total(name: String): Double = sums(name)

  /** Summed span time of layer `name` over all ops. */
  def spanTotal(name: String): Double =
    spans.iterator.filter(s => s.name == name && s.op >= 0)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  def setupSpanMedian(name: String): Double = {
    val xs = spans.iterator.filter(s => s.name == name && s.op < 0)
      .map(s => (s.endNs - s.startNs) / 1e9).toSeq
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** The layer metrics every workload reports; per op unless a count. */
  def layerMetrics(ops: Int, cores: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    val execWall = spanTotal("exec")
    val perOp = Seq("parser", "compiler", "display", "exec").map(l =>
      (if (l == "exec") "exec.wall_s" else s"$l.time_s") -> spanTotal(l) / n)
    val perOpTotals = Seq("exec.jobs", "exec.tasks", "exec.executor_cpu_s",
      "exec.gc_s", "exec.spill_bytes", "exec.shuffle_write_bytes",
      "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
      "optimizer.graft_rules_s").map(k => k -> total(k) / n)
    val inv = total("optimizer.graft_invocations")
    val resultRows = total("exec.result_rows")
    (perOp ++ perOpTotals ++ Seq(
      "optimizer.graft_effective_frac" ->
        (if (inv > 0) total("optimizer.graft_effective") / inv else 0.0),
      "exec.core_util" ->
        (if (execWall > 0) total("exec.executor_cpu_s") / (execWall * cores) else 0.0),
      "exec.input_rows_per_result_row" ->
        (if (resultRows > 0) total("exec.input_rows") / resultRows else 0.0),
      "parser.cache_hit_frac" -> total("parser.cache_hits") / n,
      "display.sniff_frac" ->
        (if (total("display.selects") > 0)
          total("display.sniffs") / total("display.selects") else 0.0)
    )).toMap
  }

  def writeSpans(f: File): Unit = {
    val w = new PrintWriter(f)
    spans.foreach { s =>
      w.println(Json.obj(Seq("op" -> Json.num(s.op), "label" -> Json.str(s.label),
        "name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
    }
    w.close()
  }
}
