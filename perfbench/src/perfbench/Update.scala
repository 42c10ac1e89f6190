package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.{Engine, Tables}
import graft.sources.GraphStore

/** graph_update: the write path beside the reads. Set-up saves the sf0.001
  * customer/orders/nation graph with `GraphStore.save` and the measured
  * engine starts from `GraphStore.load`. One op is one SPARQL UPDATE
  * through `Engine.update` and one read-back SELECT. A round is eight
  * updates, the engine's lineage-truncation period, so the two timed
  * rounds of a run span two truncations; they have the shape of an
  * inference loop: rules that add `rich` and `vip` types, retractions and
  * asserted facts, with seeded constants in a seeded order. The benchmark
  * keeps its own copy of both type sets; every read-back must equal it.
  * Without `readAll`, only the first update of a round and the eighth,
  * which truncates, are read back. */
final class GraphUpdate(spark: SparkSession, data: String, work: String,
    readAll: Boolean = true) extends Workload {
  private val Rich = "<urn:graft:class/rich>"
  private val Vip = "<urn:graft:class/vip>"
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private def readBackText(cls: String) = s"SELECT (COUNT(*) AS ?n) { ?c a $cls }"
  private val store = new File(work, "store").getAbsolutePath

  private var engine: Engine = _
  private var runner: SelectRunner = _
  private val rich = mutable.Set.empty[Long]
  private val vip = mutable.Set.empty[Long]
  private var updates = 0
  // custkey -> (acctbal, nationkey, segment), read once from the input
  private lazy val customers: Map[Long, (Double, Int, String)] =
    spark.read.parquet(s"$data/customer.parquet")
      .select("c_custkey", "c_acctbal", "c_nationkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2), r.getString(3)))).toMap

  def setup(tr: Tracer): Unit = {
    customers.size
    val g = tr.setupSpan("tables.graph_build")(Tables.graph(spark, data, "customer", "orders", "nation"))
    tr.setupSpan("graphstore.save")(GraphStore.save(g, store))
    val loaded = tr.setupSpan("graphstore.load")(GraphStore.load(spark, store))
    engine = Engine.fromGraph(loaded)
    runner = new SelectRunner(spark, data)
    rich.clear(); vip.clear()
    updates = 0
    readBack(tr, "warmup", readRich = true)
  }

  /** Count the members of one class; it must equal the kept set's size. */
  private def readBack(tr: Tracer, label: String, readRich: Boolean): Option[String] = {
    val (cls, want) = if (readRich) (Rich, rich.size) else (Vip, vip.size)
    val rows = runner.select(engine, Sparql.Prefixes + readBackText(cls), Map.empty, tr, label)
    val got = rows(0).getAs[Number]("n").longValue
    if (got == want) None else Some(s"read-back count of $cls = $got, expected $want")
  }

  private def op(label: String, sparql: String, model: () => Unit)(implicit rng: Random): Op = {
    val readRich = rng.nextBoolean()
    Op(label, tr => {
      tr.span("engine.update")(engine.update(Sparql.Prefixes + sparql))
      model()
      updates += 1
      if (tr.enabled) {
        var nodes = 0
        engine.graph.triples.queryExecution.logical.foreach(_ => nodes += 1)
        tr.count("engine.plan_nodes", nodes)
      }
      if (readAll || updates % 8 == 1 || updates % 8 == 0) readBack(tr, label, readRich)
      else None
    })
  }

  def round(rng: Random): Seq[Op] = {
    implicit val r: Random = rng
    def insertRich() = {
      val k = 7000 + rng.nextInt(2900)
      op("insert_where_rich", s"INSERT { ?c a $Rich } WHERE { ?c gp:c_acctbal ?b FILTER(?b > $k.0) }",
        () => rich ++= customers.collect { case (c, (b, _, _)) if b > k => c })
    }
    def inferVip() = {
      val seg = Segments(rng.nextInt(Segments.size))
      op("insert_where_vip",
        s"""INSERT { ?c a $Vip } WHERE { ?c a $Rich . ?c gp:c_mktsegment "$seg" }""",
        () => vip ++= rich.filter(c => customers(c)._3 == seg))
    }
    def retractNation() = {
      val n = rng.nextInt(25)
      op("delete_rich_nation",
        s"DELETE { ?c a $Rich } WHERE { ?c a $Rich . ?c gp:c_nation_ref <urn:graft:nation/$n> }",
        () => rich --= rich.filter(c => customers(c)._2 == n))
    }
    def assertFacts() = {
      val c = rng.nextInt(customers.size).toLong
      op("insert_data", s"INSERT DATA { <urn:graft:customer/$c> a $Rich , $Vip }",
        () => { rich += c; vip += c })
    }
    val clearVip = op("delete_where_vip", s"DELETE WHERE { ?c a $Vip }", () => vip.clear())
    rng.shuffle(Seq(insertRich(), inferVip(), retractNation(), assertFacts(),
      insertRich(), inferVip(), retractNation(), clearVip))
  }

  override def layerMetrics(tr: Tracer, ops: Int): Map[String, Double] = {
    val files = Iterator.iterate(Seq(new File(store)))(_.flatMap(f =>
      Option(f.listFiles()).map(_.toSeq).getOrElse(Nil))).takeWhile(_.nonEmpty)
      .flatten.filter(_.isFile).toSeq
    val triples = spark.read.parquet(store).count()
    Map(
      "engine.update_s" -> tr.spanTotal("engine.update") / math.max(ops, 1),
      "engine.plan_nodes" -> tr.total("engine.plan_nodes") / math.max(ops, 1),
      "engine.readback_sniff_frac" ->
        tr.total("display.sniffs") / math.max(tr.total("display.selects"), 1.0),
      "tables.graph_build_s" -> tr.setupSpanMedian("tables.graph_build"),
      "graphstore.save_s" -> tr.setupSpanMedian("graphstore.save"),
      "graphstore.load_s" -> tr.setupSpanMedian("graphstore.load"),
      "graphstore.files" -> files.size,
      "graphstore.bytes_per_triple" -> files.map(_.length).sum.toDouble / triples)
  }
}

object GraphUpdate {
  /** The update and store layers for a workload that makes no update:
    * one set-up and one untimed round (eight updates, the last of which
    * truncates the engine's lineage; the first and the last read back) on
    * a fresh engine, every op traced by a tracer of its own. Returns the op count, the failures, and the
    * round's `engine.*` and `graphstore.*` metrics. */
  def phase(spark: SparkSession, data: String, work: String,
      rng: Random): (Int, Seq[String], Map[String, Double]) = {
    val wl = new GraphUpdate(spark, data, work, readAll = false)
    val tr = new Tracer(spark, enabled = true)
    wl.setup(tr)
    val ops = wl.round(rng)
    val failures = ops.flatMap { op =>
      tr.beginOp(op.label)
      val outcome =
        try op.run(tr)
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      tr.endOp()
      outcome.map(why => s"${op.label} (update phase): ${why.take(300)}")
    }
    tr.close()
    new File(work).mkdirs()
    tr.writeSpans(new File(work, "spans.jsonl"))
    val metrics = wl.layerMetrics(tr, ops.size).filter { case (k, _) =>
      k.startsWith("engine.") || k.startsWith("graphstore.") }
    (ops.size, failures, metrics)
  }
}
