package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession

/** One operation of a workload: what the timed loop runs once. `run`
  * returns None when the output was right and a reason when it was not;
  * it throws when the program failed. `check`, when given, is what the
  * untimed warm-up round runs instead: the same work with its output
  * collected and verified, for ops whose timed form discards the output. */
final case class Op(label: String, run: Tracer => Option[String],
    check: Option[() => Option[String]] = None)

/** A workload builds its state in `setup` (called several times; the
  * last state is the one measured), hands out one seeded round of ops at
  * a time, and checks what it can only check after the timed loop. An
  * untimed op of each template follows the last set-up, so the timed ops
  * run on warm caches and compiled code. */
trait Workload {
  def setup(tracer: Tracer): Unit
  /** Set-ups a run makes; `setup_s` is their median. The first pays JVM
    * warm-up and the next ones keep getting faster, so a cheap set-up
    * repeats more often. */
  def setupReps: Int = 3
  def round(rng: Random): Seq[Op]
  /** Whole rounds a run makes at least, however long they take. They take
    * longer than the benchmark's `run_seconds` on every workload, so every
    * run makes exactly this many ops, and a percentile always falls at the
    * same place in the workload's mix. */
  def minRounds: Int = 2
  /** Untimed rounds, in the timed form, after the warm-up: for workloads
    * whose ops keep getting faster over the first rounds. */
  def warmRounds: Int = 0
  /** Checks run outside the timed loop; each failure names its op count. */
  def finalChecks(tracer: Tracer): Seq[(String, Int)] = Nil
  /** SPARQL outputs for the DuckDB oracle, written by the caller. */
  def oracleChecks: Seq[OracleCheck] = Nil
  /** Workload-specific per-layer metrics of the traced run. */
  def layerMetrics(tracer: Tracer, ops: Int): Map[String, Double] = Map.empty
}

/** Arguments: workload, seed, seconds, trace (0|1), data root, output
  * directory. Prints progress lines and writes `result.json` plus
  * `oracle.jsonl` into the output directory; run.py turns them into the
  * benchmark's one result line. */
object Main {
  def session(localDir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("FATAL")
    spark
  }

  /** Heap in use after full collections. Spark frees broadcast and
    * shuffle state from a cleaner thread once their owners are collected,
    * so collect, give the cleaner time, and keep the smallest reading. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, dataRoot, outDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    new File(outDir).mkdirs()
    val t0 = System.nanoTime()
    val spark = session(outDir + "/spark-local")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val wl: Workload = name match {
      case "sparql_lookup" => new SparqlWorkload(spark, s"$dataRoot/small",
        Seq("customer", "orders", "lineitem", "nation", "region"), Sparql.lookup)
      case "sparql_analytic" => new SparqlWorkload(spark, s"$dataRoot/analytic",
        Seq("lineitem", "orders", "customer", "nation"), Sparql.analytic)
      case "corpus_curation" => new CorpusCuration(spark, s"$dataRoot/corpus", outDir)
      case "graph_update" => new GraphUpdate(spark, s"$dataRoot/tiny", outDir)
    }
    val cores = Runtime.getRuntime.availableProcessors()

    val off = new Tracer(spark, enabled = false)
    val tr = new Tracer(spark, enabled = traced)
    val setupTimes = (1 to wl.setupReps).map { _ =>
      val s0 = System.nanoTime(); wl.setup(tr); (System.nanoTime() - s0) / 1e9
    }
    val tSetup = System.nanoTime()
    val rng = new Random(seed)
    val (warmOps, warm) = {
      val (n, f) = Loop.warmUp(wl, rng, off)
      val (rn, rf) = Loop.warmRounds(wl, rng, off)
      (n + rn, f ++ rf)
    }
    // A traced run interleaves traced and untraced ops in one loop, so
    // both halves see the same warm-up and the same machine, and the
    // difference between them is the tracing overhead. The composed path
    // keeps its own parse cache, warmed here as the engine's was above.
    val (trWarmOps, trWarm) = if (traced) Loop.warmUp(wl, new Random(seed), tr) else (0, Nil)
    val tWarm = System.nanoTime()
    val loop = Loop.run(wl, rng, seconds, if (traced) Seq(off, tr) else Seq(off))
    val tLoop = System.nanoTime()
    val after = wl.finalChecks(off) ++ (if (traced) wl.finalChecks(tr) else Nil)
    // sparql_lookup makes no update; its traced run measures the update
    // and store layers on one untimed graph_update round of its own.
    val (phaseOps, phaseFailures, phaseMetrics) =
      if (traced && name == "sparql_lookup")
        GraphUpdate.phase(spark, s"$dataRoot/tiny", outDir + "/update-phase", new Random(seed))
      else (0, Nil, Map.empty[String, Double])
    val tChecks = System.nanoTime()
    val failures = ArrayBuffer.empty[String] ++= warm ++= trWarm ++= loop.failures ++=
      after.map(_._1) ++= phaseFailures
    val failed = warm.size + trWarm.size + loop.failed + after.map(_._2).sum +
      phaseFailures.size
    val heapMb = Main.retainedHeapMb()

    val metrics: Map[String, Double] =
      if (!traced) {
        val lat = loop.latencies
        val tailQ = Stats.tailQuantile(lat.size)
        println(f"info: session_s=$sessionS%.3f ops=${lat.size} tail_pct=${100 * tailQ}%.1f " +
          f"order_stat_p50=${Stats.median(lat)}%.4f " +
          f"setup_reps=${setupTimes.map(t => f"$t%.3f").mkString(",")} " +
          f"phases_s=${(tSetup - t0) / 1e9}%.1f,${(tWarm - tSetup) / 1e9}%.1f," +
          f"${(tLoop - tWarm) / 1e9}%.1f,${(tChecks - tLoop) / 1e9}%.1f")
        Map(
          "setup_s" -> Stats.median(setupTimes),
          "latency_p50_s" -> Stats.harrellDavis(lat, 0.5),
          "latency_tail_s" -> Stats.harrellDavis(lat, tailQ),
          "ops_per_s" -> loop.opsPerS,
          "retained_heap_mb" -> heapMb)
      } else {
        tr.writeSpans(new File(outDir, "spans.jsonl"))
        // in a closed loop, ops per second is one over the mean latency
        def rate(i: Int) = {
          val xs = loop.ops.filter(_.tracer == i).map(_.seconds)
          xs.size / xs.sum
        }
        val ops = loop.ops.count(_.tracer == 1)
        Map(
          "trace.ops_per_s" -> rate(1),
          "trace.untraced_ops_per_s" -> rate(0),
          "trace.overhead_frac" -> Loop.traceOverhead(loop.ops)) ++
          tr.layerMetrics(ops, cores) ++ wl.layerMetrics(tr, ops) ++ phaseMetrics
      }

    val ow = new PrintWriter(new File(outDir, "oracle.jsonl"))
    wl.oracleChecks.foreach(c => ow.println(c.json))
    ow.close()
    failures.take(20).foreach(f => println("failure: " + f))
    val res = new PrintWriter(new File(outDir, "result.json"))
    res.println(Json.obj(Seq(
      "attempted" -> Json.num(warmOps + trWarmOps + loop.ops.size + phaseOps),
      "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }))))
    res.close()
    spark.stop()
  }
}

/** The closed loop: one client, the next op starts when the previous one
  * has finished. It runs whole rounds until `seconds` have passed and the
  * workload's minimum of rounds is done, so every run sees the same mix
  * of templates. */
object Loop {
  /** One timed op: its label, the index of the tracer it ran under, and
    * its latency in seconds. */
  final case class Timed(label: String, tracer: Int, seconds: Double)
  final case class Result(ops: Seq[Timed], failed: Int, failures: Seq[String], wallS: Double) {
    def latencies: Seq[Double] = ops.map(_.seconds)
    def opsPerS: Double = ops.size / wallS
  }

  /** One untimed pass over a round: the first op of each template or
    * stage (the label up to a '/'), in its checking form. Returns the op
    * count and the failures. */
  def warmUp(wl: Workload, rng: Random, tr: Tracer): (Int, Seq[String]) = {
    val ops = wl.round(rng).groupBy(_.label.takeWhile(_ != '/')).values.map(_.head).toSeq
      .sortBy(_.label)
    (ops.size, ops.flatMap { op =>
      (try op.check.fold(op.run(tr))(_())
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") })
        .map(why => s"${op.label} (warm-up): ${why.take(300)}")
    })
  }

  /** `wl.warmRounds` untimed rounds; returns the op count and the failures. */
  def warmRounds(wl: Workload, rng: Random, tr: Tracer): (Int, Seq[String]) = {
    val ops = (1 to wl.warmRounds).flatMap(_ => wl.round(rng))
    (ops.size, ops.flatMap { op =>
      (try op.run(tr)
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") })
        .map(why => s"${op.label} (warm-up round): ${why.take(300)}")
    })
  }

  /** Runs whole rounds. With several tracers, the ops of each label take
    * the tracers in turn, and the rounds are a multiple of the tracer
    * count, so every tracer sees each label equally often. The k-th label
    * to appear starts at tracer k, so later (warmer) ops fall on each
    * tracer alike. */
  def run(wl: Workload, rng: Random, seconds: Double, tracers: Seq[Tracer]): Result = {
    val timed = ArrayBuffer.empty[Timed]
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val failures = ArrayBuffer.empty[String]
    var failed = 0
    var rounds = 0
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (elapsed < seconds || rounds < wl.minRounds || rounds % tracers.size != 0) {
      rounds += 1
      wl.round(rng).foreach { op =>
        val n = seen.getOrElseUpdate(op.label, seen.size)
        seen(op.label) = n + 1
        val i = n % tracers.size
        val tr = tracers(i)
        tr.beginOp(op.label)
        val o0 = System.nanoTime()
        val outcome =
          try op.run(tr)
          catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        timed += Timed(op.label, i, (System.nanoTime() - o0) / 1e9)
        tr.endOp()
        outcome.foreach { why => failed += 1; failures += s"${op.label}: ${why.take(300)}" }
      }
    }
    timed.groupBy(_.label).toSeq.sortBy(_._1).foreach { case (l, xs) =>
      println(f"info: op $l%-24s n=${xs.size}%3d median_s=${Stats.median(xs.map(_.seconds).toSeq)}%.3f")
    }
    println("info: sequence " + timed.map(t => f"${t.label}:${t.seconds}%.2f").mkString(" "))
    Result(timed.toSeq, failed, failures.toSeq, elapsed)
  }

  /** Tracing overhead: per label, the median latency of its traced ops
    * over that of its untraced ops; the geometric mean of these ratios,
    * less one. */
  def traceOverhead(ops: Seq[Timed]): Double = {
    val ratios = ops.groupBy(_.label).values.toSeq.flatMap { xs =>
      val (on, off) = xs.partition(_.tracer == 1)
      if (on.isEmpty || off.isEmpty) None
      else Some(Stats.median(on.map(_.seconds)) / Stats.median(off.map(_.seconds)))
    }
    math.exp(ratios.map(math.log).sum / ratios.size) - 1
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it; NaN
    * below eleven samples. */
  def tailQuantile(n: Int): Double = if (n < 11) Double.NaN else (n - 10).toDouble / n

  /** Harrell-Davis estimate of quantile `q`: a Beta-weighted mean of all
    * order statistics. With a few dozen ops drawn from a mix of templates
    * of different cost, one order statistic jumps between templates from
    * run to run; the weighted mean moves smoothly. */
  def harrellDavis(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0 || q.isNaN) return Double.NaN
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    val cdf = (0 to n).map(i => Beta.regularizedBeta(i.toDouble / n, a, b))
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  /** A result cell: numbers stay numbers, everything else a string. */
  def cell(v: Any): String = v match {
    case null => "null"
    case n: java.lang.Long => n.toString
    case n: java.lang.Integer => n.toString
    case n: java.lang.Short => n.toString
    case n: java.lang.Byte => n.toString
    case d: java.lang.Double => num(d)
    case f: java.lang.Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case b: java.lang.Boolean => b.toString
    case o => str(o.toString)
  }
}
