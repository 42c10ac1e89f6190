package graft

import org.apache.spark.sql.Row
import graft.rdf._

/** The jobs of peel and DESCRIBE: the walk is a seeded `*` closure
  * (Fixpoints.reach) over the edges whose object is blank, so a chain of
  * d blank nodes costs one fetch per level (d + 1 jobs) without predicate
  * counts, and one job in all when the counts prove the store small. */
class DescribeJobsSpec extends SparkSpec {

  private val d = 4
  private val root = Iri("http://ex/root")
  private val p = Iri("http://ex/p")

  /** root → _:b1 → … → _:bd → "leaf", and an unrelated blank node. */
  private val chain: Seq[(RdfTerm, RdfTerm, RdfTerm)] = {
    val nodes: Seq[RdfTerm] = root +: (1 to d).map(i => Blank(s"b$i"))
    nodes.zip(nodes.tail :+ Lit.plain("leaf")).map { case (s, o) => (s, p, o) } ++
      Seq((Iri("http://ex/other"), p, Blank("z")), (Blank("z"), p, Lit.plain("z")))
  }

  /** The store as one unshuffled scan, so that each fetch is one job. */
  private def store(withCounts: Boolean): RdfGraph = {
    val rows = chain.map { case (s, pr, o) =>
      Row(Terms.termRow(s), Terms.termRow(pr), Terms.termRow(o)) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      Terms.tripleType)
    RdfGraph(df, RdfGraph.defaultPrefixes,
      predCounts = if (withCounts) Map(p.value -> chain.size.toLong) else Map.empty)
  }

  private def jobsOf[A](body: => A): (Int, A) = {
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      Thread.sleep(500)
      (jobs, a)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("peel and DESCRIBE <iri> of a blank chain run d + 1 jobs, or 1 with " +
    "predicate counts") {
    for ((withCounts, bound) <- Seq(false -> (d + 1), true -> 1)) {
      val e = Engine.fromGraph(store(withCounts))
      e.peel(root).size // warm: first-use scans
      val (peelJobs, peeled) = jobsOf(e.peel(root))
      val (describeJobs, described) =
        jobsOf(e.describe(s"DESCRIBE <${root.value}>"))
      assert(peelJobs <= bound, s"peel ran $peelJobs jobs (counts: $withCounts)")
      assert(describeJobs <= bound,
        s"DESCRIBE ran $describeJobs jobs (counts: $withCounts)")
      // the chain's d + 1 triples, not the unrelated blank node's
      val got = peeled.triples.collect().toSet
      assert(got.size == d + 1 && got == described.triples.collect().toSet)
    }
  }
}
