package graft

import java.nio.file.Files
import org.apache.spark.sql.{functions => F}
import graft.sources.GraphStore

/** Predicate-partitioned persistent graph layout: round-trip fidelity,
  * query equivalence, and — the point of the layout — partition-pruned
  * scans for constant-predicate patterns. */
class GraphStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("save/load round-trips triples and prefixes") {
    val out = Files.createTempDirectory("graft-store").toFile.getAbsolutePath
    val g = Tables.graph(spark, dir, "region", "nation")
      .withPrefix("gp", "urn:graft:p/")
      .withPrefix("q\"b\\s", "urn:a\"b\\c/")
    GraphStore.save(g, out)
    val loaded = GraphStore.load(spark, out)
    assert(loaded.size == g.size)
    assert(loaded.triples.except(g.triples).isEmpty)
    assert(g.triples.except(loaded.triples).isEmpty)
    assert(loaded.prefixes("gp") == "urn:graft:p/")
    assert(loaded.prefixes("q\"b\\s") == "urn:a\"b\\c/")
  }

  test("a saved QUAD store round-trips its named graphs") {
    import graft.rdf._
    val ex = "http://example.org/"
    def iri(s: String) = Iri(ex + s)
    val quads = RdfGraph.fromQuads(spark, Seq(
      (iri("g1"), iri("label"), Lit.plain("graph one"), None),
      (iri("alice"), iri("knows"), iri("bob"), Some(iri("g1"))),
      (iri("carol"), iri("name"), Lit.plain("Carol"), Some(iri("g2")))),
      Map("ex" -> ex))
    val out = Files.createTempDirectory("graft-quads").toFile.getAbsolutePath
    GraphStore.save(quads, out)
    val loaded = GraphStore.load(spark, out)
    assert(loaded.isQuads) // the g column survives the round trip
    val e = Engine.fromGraph(loaded)
    // default graph sees only the g-null triple
    assert(e.select("SELECT ?s WHERE { ?s ex:label ?l }").count() == 1)
    // named graphs still exist and scope correctly
    val named = e.select(
      "SELECT ?g ?s WHERE { GRAPH ?g { ?s ?p ?o } } ORDER BY ?g")
      .collect().map(_.getString(0))
    assert(named.toSeq == Seq("ex:g1", "ex:g2")) // display-shortened
    // Turtle has no quad syntax: ttl() emits the DEFAULT graph only,
    // never fabricating named-graph triples into it
    val ttl = e.ttl()
    assert(ttl.contains("label") && !ttl.contains("knows") &&
      !ttl.contains("Carol"), ttl)
    // N-Triples shares the no-quad-syntax boundary
    val ntDir = Files.createTempDirectory("graft-nt").toFile.getAbsolutePath
    graft.sources.NTriples.write(loaded, ntDir)
    val nt = spark.read.text(ntDir).collect().map(_.getString(0)).mkString("\n")
    assert(nt.contains("label") && !nt.contains("knows") &&
      !nt.contains("Carol"), nt)
    // N-Quads is the text format that DOES round-trip named graphs
    val nqDir = Files.createTempDirectory("graft-nq").toFile.getAbsolutePath
    graft.sources.NQuads.write(loaded, nqDir)
    val back = graft.sources.NQuads.read(spark, nqDir)
    assert(back.isQuads)
    assert(back.triples.except(loaded.triples.drop("__g")).isEmpty &&
      loaded.triples.drop("__g").except(back.triples).isEmpty)
    val e2 = Engine.fromGraph(back.withPrefix("ex", ex))
    assert(e2.select(
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s ?p ?o } } ORDER BY ?g")
      .collect().map(_.getString(0)).toSeq == Seq("ex:g1", "ex:g2"))
    // default-graph lines are plain triples: the literal object is the
    // last term before the dot, no graph label follows
    val nq = spark.read.text(nqDir).collect().map(_.getString(0))
    assert(nq.exists(_.endsWith("\"graph one\" .")), nq.mkString("\n"))
  }

  test("GRAPH <g> scans on a loaded quad store prune graph partitions") {
    import graft.rdf._
    val ex = "http://example.org/"
    def iri(s: String) = Iri(ex + s)
    val quads = RdfGraph.fromQuads(spark, Seq(
      (iri("d1"), iri("p"), Lit.plain("default"), None),
      (iri("a"), iri("p"), Lit.plain("one"), Some(iri("g1"))),
      (iri("b"), iri("p"), Lit.plain("two"), Some(iri("g2"))),
      (iri("c"), iri("p"), Lit.plain("three"), Some(iri("g3")))),
      Map("ex" -> ex))
    val out = Files.createTempDirectory("graft-qprune").toFile.getAbsolutePath
    GraphStore.save(quads, out)
    // layout: one __g directory per graph, predicate dirs inside
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs.count(_.startsWith("__g=")) == 4, dirs.mkString(", "))
    val e = Engine.fromGraph(GraphStore.load(spark, out))
    // a named-graph scan must prune to that graph's directory
    val df = e.selectRaw(
      "SELECT ?s ?o WHERE { GRAPH ex:g2 { ?s ex:p ?o } }")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__g"),
      s"expected a __g partition filter:\n$plan")
    assert(df.count() == 1)
    // default-graph scans prune to the default directory the same way
    val dflt = e.selectRaw("SELECT ?s WHERE { ?s ex:p ?o }")
    val dplan = dflt.queryExecution.executedPlan.toString
    assert(dplan.contains("PartitionFilters") && dplan.contains("__g"),
      s"expected a __g partition filter on the default graph:\n$dplan")
    assert(dflt.count() == 1)
    // FROM NAMED restriction prunes to the listed graphs
    val named = e.selectRaw(
      """SELECT ?g ?s FROM NAMED <http://example.org/g1>
         WHERE { GRAPH ?g { ?s ex:p ?o } }""")
    assert(named.count() == 1)
    // updates drop the layout helper but keep results right
    e.update("PREFIX ex: <http://example.org/> " +
      "INSERT DATA { GRAPH ex:g2 { ex:z ex:p 'four' } }")
    assert(e.select(
      "SELECT ?s WHERE { GRAPH ex:g2 { ?s ex:p ?o } }").count() == 2)
  }

  test("queries over the loaded graph match the direct graph") {
    val out = Files.createTempDirectory("graft-store2").toFile.getAbsolutePath
    GraphStore.save(Tables.graph(spark, dir, "customer", "nation"), out)
    val loaded = GraphStore.load(spark, out)
    val e = Engine.fromGraph(loaded.withPrefix("gp", "urn:graft:p/"))
    val q = """PREFIX gp: <urn:graft:p/>
               SELECT ?cname ?nname {
                 ?c gp:c_nation_ref ?n . ?c gp:c_name ?cname .
                 ?n gp:n_name ?nname }"""
    val got = e.selectRaw(q).count()
    val want = Engine.fromGraph(Tables.graph(spark, dir, "customer", "nation"))
      .selectRaw(q).count()
    assert(got == want && got == 150)
  }

  test("Zipf-hot predicate splits across write tasks (no straggler file)") {
    // rdf:type-style skew: one predicate holds ~99% of the rows. The
    // range shuffle on (predicate, subject) must spread it over several
    // tasks — one giant single-task file is the 100 TB straggler the
    // r6 verdict flagged.
    import graft.rdf._
    val hot = (0 until 4000).map(i =>
      (Iri(s"urn:s/$i"): RdfTerm, Iri("urn:p/type"): RdfTerm,
        Iri(s"urn:c/${i % 7}"): RdfTerm))
    val cold = (0 until 50).map(i =>
      (Iri(s"urn:s/$i"): RdfTerm, Iri(s"urn:p/cold${i % 5}"): RdfTerm,
        Lit.plain(s"v$i"): RdfTerm))
    val g = RdfGraph.fromTriples(spark, hot ++ cold)
    val out = Files.createTempDirectory("graft-store-skew").toFile
    // AQE rightly coalesces a ~100 KB shuffle to one partition; disable
    // coalescing so the test observes the RANGE boundaries themselves
    // (at real scale the size-based coalesce never merges past the
    // advisory partition size, so hot predicates still split)
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try GraphStore.save(g, out.getAbsolutePath)
    finally spark.conf.set(key, old)
    val hotDir = new java.io.File(out, "__pred=urn%3Ap%2Ftype")
    assert(hotDir.isDirectory, s"missing ${hotDir} in ${out.list.toSeq}")
    val parts = hotDir.listFiles.count(_.getName.startsWith("part-"))
    assert(parts > 1, s"hot predicate written by a single task ($parts file)")
    // and the layout still round-trips
    val loaded = GraphStore.load(spark, out.getAbsolutePath)
    assert(loaded.size == g.size)
  }

  test("load is lazy: zero Spark jobs, zero per-predicate plans up front") {
    val out = Files.createTempDirectory("graft-store4").toFile.getAbsolutePath
    GraphStore.save(Tables.graph(spark, dir, "nation"), out)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val loaded = GraphStore.load(spark, out)
      // a DBpedia-scale store has ~60k predicates; load must not pay a
      // predicate-listing distinct (or build 60k frames) before the
      // first query. The one job the reader itself runs is parquet
      // schema inference — a single-footer read, O(1) in the number of
      // predicates — so the budget is ≤1, not the old 1 + distinct.
      Thread.sleep(500)
      assert(jobs <= 1, s"load ran $jobs Spark jobs")
      // first constant-predicate use builds exactly that scan, pruned
      val one = loaded.predIndex("urn:graft:p/n_name")
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("__pred"), plan)
      assert(one.count() == 25)
      // unknown predicates answer empty without a listing
      assert(loaded.predIndex("urn:graft:p/no_such").isEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("constant-predicate scans are partition-pruned") {
    val out = Files.createTempDirectory("graft-store3").toFile.getAbsolutePath
    GraphStore.save(Tables.graph(spark, dir, "nation"), out)
    val loaded = GraphStore.load(spark, out)
    val e = Engine.fromGraph(loaded.withPrefix("gp", "urn:graft:p/"))
    val df = e.selectRaw(
      "PREFIX gp: <urn:graft:p/> SELECT ?name { ?n gp:n_name ?name }")
    val scan = df.queryExecution.executedPlan.toString
    // the partition filter on __pred must reach the file scan
    assert(scan.contains("PartitionFilters") && scan.contains("__pred"),
      s"expected a pruned partition scan in:\n$scan")
    assert(df.count() == 25)
  }

  test("streaming N-Triples ingest merges into the store with set semantics") {
    val landing = Files.createTempDirectory("graft-ingest-land").toString
    val store = Files.createTempDirectory("graft-ingest").toString + "/store"
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt").toString
    Files.writeString(java.nio.file.Paths.get(landing, "a.nt"),
      "<http://e.com/s1> <http://e.com/knows> <http://e.com/s2> .\n" +
        "<http://e.com/C\\u00F3rdoba> <http://e.com/label> \"x\"@en-US .\n")
    val q1 = GraphStore.startNtIngest(spark, landing, store, "ntingest1",
      checkpointDir = Some(ckpt))
    q1.awaitTermination()
    val g1 = GraphStore.load(spark, store)
    assert(g1.size == 2)
    // a later run over the same checkpoint sees only the NEW file; its
    // duplicate line is anti-joined away, its new line appends
    Files.writeString(java.nio.file.Paths.get(landing, "b.nt"),
      "<http://e.com/s1> <http://e.com/knows> <http://e.com/s2> .\n" +
        "<http://e.com/s2> <http://e.com/knows> <http://e.com/s3> .\n")
    val q2 = GraphStore.startNtIngest(spark, landing, store, "ntingest2",
      checkpointDir = Some(ckpt))
    q2.awaitTermination()
    val g2 = GraphStore.load(spark, store)
    assert(g2.size == 3, s"expected 3 after merge, got ${g2.size}")
    // the merged store queries through the engine; stats sidecar merged
    val e = Engine.fromGraph(g2.withPrefix("ec", "http://e.com/"))
    assert(e.select("PREFIX ec: <http://e.com/> SELECT ?a ?b { ?a ec:knows ?b }")
      .count() == 2)
    assert(g2.predCounts.get("http://e.com/knows").contains(2L))
    assert(g2.predCounts.get("http://e.com/label").contains(1L))
    // UCHAR unescaped on the way in
    assert(e.select(
      "SELECT ?o { <http://e.com/Córdoba> <http://e.com/label> ?o }")
      .count() == 1)
  }

  test("the ingest anti-join probe reads ONLY the batch's directories") {
    // the store holds predicates the batch does NOT touch; the probe
    // must read only the touched partition directories — per-batch
    // merge cost (scan AND file listing; read.parquet(root) pays the
    // listing over the whole store even when the scan prunes) scales
    // with the batch, not the store
    val out = Files.createTempDirectory("graft-probe").toFile.getAbsolutePath
    GraphStore.save(Tables.graph(spark, dir, "region", "nation"), out)
    val probe = GraphStore.prunedProbe(spark, out,
      Seq("urn:graft:p/n_name")).get
    // inputFiles URI-encodes the (already dir-escaped) names once more;
    // one decode recovers the partition-dir form
    def dec(f: String) = java.net.URLDecoder.decode(f, "UTF-8")
    val files = probe.inputFiles
    assert(files.nonEmpty &&
      files.forall(f => dec(f).contains("__pred=urn%3Agraft%3Ap%2Fn_name")),
      s"probe must list only the touched predicate dir:\n${files.toSeq}")
    // and reads exactly the touched predicate's rows
    assert(probe.count() == 25)
    // a batch of only-new predicates has no probe at all
    assert(GraphStore.prunedProbe(spark, out, Seq("urn:none")).isEmpty)
    // quad stores prune BOTH partition levels
    import graft.rdf._
    val ex = "http://example.org/"
    def iri(s: String) = Iri(ex + s)
    val qout = Files.createTempDirectory("graft-probeq").toFile.getAbsolutePath
    GraphStore.save(RdfGraph.fromQuads(spark, Seq(
      (iri("a"), iri("p"), Lit.plain("one"), Some(iri("g1"))),
      (iri("b"), iri("q"), Lit.plain("two"), Some(iri("g2"))),
      (iri("c"), iri("p"), Lit.plain("three"), None)), Map("ex" -> ex)),
      qout)
    // quad keys are the EXACT touched (graph-partition, predicate)
    // pairs — never a gparts × preds cross product (ADVICE r15: the
    // cross product listed directories no batch row could match)
    val qprobe = GraphStore.prunedProbe(spark, qout,
      Seq("i:" + ex + "g1 " + ex + "p")).get
    val qfiles = qprobe.inputFiles
    assert(qfiles.nonEmpty && qfiles.forall(f =>
        dec(f).contains("__pred=http%3A%2F%2Fexample.org%2Fp") &&
          dec(f).contains("__g=i%3Ahttp%3A%2F%2Fexample.org%2Fg1")),
      s"quad probe must list only the touched (graph, predicate) dir:\n${qfiles.toSeq}")
    assert(qprobe.count() == 1)
  }

  test("a crash between parquet commit and sidecar writes cannot duplicate") {
    // the ADVICE r14 window: first batch's parquet committed, process
    // died before the prefix/stats sidecars were written, checkpoint
    // never advanced → the whole batch replays. The existence probe
    // keys on partition DATA (not the last-written sidecar), so the
    // replay anti-joins and appends nothing.
    val landing = Files.createTempDirectory("graft-crash-land").toString
    val store = Files.createTempDirectory("graft-crash").toString + "/store"
    Files.writeString(java.nio.file.Paths.get(landing, "a.nt"),
      "<http://e.com/s1> <http://e.com/p> <http://e.com/o1> .\n" +
        "<http://e.com/s2> <http://e.com/p> <http://e.com/o2> .\n")
    // first delivery, fresh checkpoint
    GraphStore.startNtIngest(spark, landing, store, "crash1",
      checkpointDir = Some(
        Files.createTempDirectory("graft-crash-ck1").toString))
      .awaitTermination()
    // simulate the crash: data committed, sidecars lost
    Files.deleteIfExists(java.nio.file.Paths.get(store, "_prefixes.json"))
    Files.deleteIfExists(java.nio.file.Paths.get(store, "_stats.json"))
    // replay: a NEW checkpoint redelivers the same file from scratch
    GraphStore.startNtIngest(spark, landing, store, "crash2",
      checkpointDir = Some(
        Files.createTempDirectory("graft-crash-ck2").toString))
      .awaitTermination()
    val g = GraphStore.load(spark, store)
    assert(g.size == 2, s"replay duplicated triples: ${g.size}")
    // and the replay HEALED the sidecars the crash destroyed
    assert(g.predCounts.get("http://e.com/p").contains(2L))
    assert(g.prefixes.nonEmpty)
  }

  test("streaming N-Quads ingest merges named graphs with set semantics") {
    val landing = Files.createTempDirectory("graft-nq-land").toString
    val store = Files.createTempDirectory("graft-nq-store").toString + "/store"
    val ckpt = Files.createTempDirectory("graft-nq-ckpt").toString
    Files.writeString(java.nio.file.Paths.get(landing, "a.nq"),
      "<http://e.com/s1> <http://e.com/knows> <http://e.com/s2> <http://e.com/g1> .\n" +
        "<http://e.com/s1> <http://e.com/label> \"default graph\" .\n")
    GraphStore.startNqIngest(spark, landing, store, "nqingest1",
      checkpointDir = Some(ckpt)).awaitTermination()
    val g1 = GraphStore.load(spark, store)
    assert(g1.isQuads && g1.size == 2)
    // second delivery: one duplicate quad, one NEW graph, one duplicate
    // of the default-graph line (NULL g must anti-join via <=>)
    Files.writeString(java.nio.file.Paths.get(landing, "b.nq"),
      "<http://e.com/s1> <http://e.com/knows> <http://e.com/s2> <http://e.com/g1> .\n" +
        "<http://e.com/s1> <http://e.com/label> \"default graph\" .\n" +
        "<http://e.com/s3> <http://e.com/knows> <http://e.com/s4> <http://e.com/g2> .\n")
    GraphStore.startNqIngest(spark, landing, store, "nqingest2",
      checkpointDir = Some(ckpt)).awaitTermination()
    val g2 = GraphStore.load(spark, store)
    assert(g2.size == 3, s"expected 3 after quad merge, got ${g2.size}")
    val e = Engine.fromGraph(g2.withPrefix("ec", "http://e.com/"))
    // the new graph appeared, the replayed lines added nothing
    assert(e.select("PREFIX ec: <http://e.com/> " +
        "SELECT ?g ?s { GRAPH ?g { ?s ec:knows ?o } } ORDER BY ?g")
      .collect().map(_.getString(0)).toSeq == Seq("ec:g1", "ec:g2"))
    assert(e.select(
      "SELECT ?o { <http://e.com/s1> <http://e.com/label> ?o }").count() == 1)
    // the layout is the quad layout: graph dirs outside, predicates in
    val dirs = new java.io.File(store).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("__g=")).sorted
    assert(dirs.length == 3, dirs.mkString(", ")) // d, i:g1, i:g2
    // full replay from a fresh checkpoint (both files) adds nothing
    GraphStore.startNqIngest(spark, landing, store, "nqingest3",
      checkpointDir = Some(
        Files.createTempDirectory("graft-nq-ckpt2").toString))
      .awaitTermination()
    assert(GraphStore.load(spark, store).size == 3)
  }

  test("mismatched ingest flavor fails fast instead of corrupting the store") {
    // ADVICE r15: an N-Quads ingest into a triples-layout store found
    // none of its probed directories, treated every row as new, and
    // appended a second partition scheme Spark's discovery then chokes
    // on. Both directions must fail before writing anything.
    import graft.rdf._
    val tstore = Files.createTempDirectory("graft-mm-t").toString + "/s"
    GraphStore.save(RdfGraph.fromTriples(spark, Seq(
      (Iri("urn:a"): RdfTerm, Iri("urn:p"): RdfTerm, Iri("urn:b"): RdfTerm))),
      tstore)
    val land1 = Files.createTempDirectory("graft-mm-l1").toString
    Files.writeString(java.nio.file.Paths.get(land1, "a.nq"),
      "<urn:c> <urn:p> <urn:d> <urn:g1> .\n")
    val ex1 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      GraphStore.startNqIngest(spark, land1, tstore, "mm1").awaitTermination()
    }
    assert(ex1.getMessage.contains("triples-layout"), ex1.getMessage)
    val g1 = GraphStore.load(spark, tstore) // store intact, still loads
    assert(!g1.isQuads && g1.size == 1)

    val qstore = Files.createTempDirectory("graft-mm-q").toString + "/s"
    GraphStore.save(RdfGraph.fromQuads(spark, Seq(
      (Iri("urn:a"), Iri("urn:p"), Iri("urn:b"), Some(Iri("urn:g")))),
      Map.empty), qstore)
    val land2 = Files.createTempDirectory("graft-mm-l2").toString
    Files.writeString(java.nio.file.Paths.get(land2, "a.nt"),
      "<urn:c> <urn:p> <urn:d> .\n")
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      GraphStore.startNtIngest(spark, land2, qstore, "mm2").awaitTermination()
    }
    assert(ex2.getMessage.contains("quad-layout"), ex2.getMessage)
    val g2 = GraphStore.load(spark, qstore)
    assert(g2.isQuads && g2.size == 1)
  }

  test("bloom sidecars: fresh-data batches merge without reading the store") {
    import graft.rdf._
    // one hot directory (20k rows): without the bloom prefilter every
    // batch touching it anti-joins against its full extension — the
    // rdf:type-at-100TB access pattern the sidecar exists to kill
    val hot = (0 until 20000).map(i =>
      (Iri(s"urn:s/$i"): RdfTerm, Iri("urn:p/hot"): RdfTerm,
        Iri(s"urn:o/$i"): RdfTerm))
    val store = Files.createTempDirectory("graft-bloom").toString + "/store"
    GraphStore.save(RdfGraph.fromTriples(spark, hot), store)
    val hotDir = new java.io.File(store, "__pred=urn%3Ap%2Fhot")
    assert(new java.io.File(hotDir, "_bloom.bin").isFile,
      s"save must write the bloom sidecar: ${hotDir.list.toSeq}")
    // a batch of 100 NEW rows on the hot predicate: the bloom excludes
    // (almost) all of them, and the ~fpp stragglers' subject range —
    // above every stored subject, the append-mostly shape — prunes the
    // probe's subject-sorted row groups, so the merge must not read
    // the 20k-row extension either way
    val land1 = Files.createTempDirectory("graft-bloom-l1").toString
    Files.writeString(java.nio.file.Paths.get(land1, "new.nt"),
      (0 until 100).map(i =>
        s"<urn:s/zz$i> <urn:p/hot> <urn:o/x$i> .").mkString("\n"))
    var recordsRead = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recordsRead += t.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      GraphStore.startNtIngest(spark, land1, store, "bloomfresh")
        .awaitTermination()
      Thread.sleep(1000) // listener bus drain
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(recordsRead < 5000,
      s"fresh batch read $recordsRead source records — the bloom " +
        "prefilter must keep the 20k-row store extension unread")
    assert(GraphStore.load(spark, store).size == 20100)
    // replaying the same file (fresh checkpoint) adds nothing: the
    // blooms were updated BEFORE the append, so the redelivered rows
    // route through the anti-join and die there
    GraphStore.startNtIngest(spark, land1, store, "bloomreplay",
      checkpointDir = Some(
        Files.createTempDirectory("graft-bloom-ck").toString))
      .awaitTermination()
    assert(GraphStore.load(spark, store).size == 20100)
    // heal: a deleted bloom degrades to the plain anti-join for one
    // batch and is rebuilt from the committed data afterwards
    assert(new java.io.File(hotDir, "_bloom.bin").delete())
    val land2 = Files.createTempDirectory("graft-bloom-l2").toString
    Files.writeString(java.nio.file.Paths.get(land2, "more.nt"),
      (0 until 50).map(i =>
        s"<urn:s/zzz$i> <urn:p/hot> <urn:o/y$i> .").mkString("\n"))
    GraphStore.startNtIngest(spark, land2, store, "bloomheal")
      .awaitTermination()
    assert(GraphStore.load(spark, store).size == 20150)
    assert(new java.io.File(hotDir, "_bloom.bin").isFile,
      "the merge must rebuild a missing bloom from the committed data")
  }

  test("compact rewrites sliver files without changing contents") {
    import graft.rdf._
    val store = Files.createTempDirectory("graft-compact").toString + "/store"
    val ckpt = Files.createTempDirectory("graft-compact-ck").toString
    val landing = Files.createTempDirectory("graft-compact-l").toString
    // six ingest ticks, each appending one sliver file to the same dir
    for (tick <- 0 until 6) {
      Files.writeString(java.nio.file.Paths.get(landing, s"t$tick.nt"),
        (0 until 200).map(i =>
          s"<urn:s/${tick * 1000 + i}> <urn:p/a> <urn:o/${tick * 1000 + i}> .")
          .mkString("\n"))
      GraphStore.startNtIngest(spark, landing, store, s"ct$tick",
        checkpointDir = Some(ckpt)).awaitTermination()
    }
    val dir = new java.io.File(store, "__pred=urn%3Ap%2Fa")
    def partFiles() = dir.listFiles.count(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val before = partFiles()
    assert(before >= 6, s"expected sliver accumulation, got $before files")
    val g0 = GraphStore.load(spark, store)
    val h0 = g0.merkleHash()
    assert(g0.size == 1200)
    val done = GraphStore.compact(spark, store)
    assert(done == 1, s"compacted $done directories")
    val after = partFiles()
    assert(after < before, s"$before files -> $after")
    // identical content (order-independent canonical hash) and the
    // bloom sidecar carried across the swap
    assert(new java.io.File(dir, "_bloom.bin").isFile)
    assert(GraphStore.load(spark, store).merkleHash() == h0)
    // the ingest checkpoint resumes cleanly after a compaction: only
    // the new file is processed, set semantics hold
    Files.writeString(java.nio.file.Paths.get(landing, "t9.nt"),
      "<urn:s/0> <urn:p/a> <urn:o/0> .\n" + // duplicate of tick 0
        "<urn:s/9000> <urn:p/a> <urn:o/9000> .\n")
    GraphStore.startNtIngest(spark, landing, store, "ct9",
      checkpointDir = Some(ckpt)).awaitTermination()
    assert(GraphStore.load(spark, store).size == 1201)
    // idempotent on an already-compacted store (below minFiles)
    assert(GraphStore.compact(spark, store) == 0)
  }

  test("compact is incremental: full-size files carry across the swap " +
      "by rename, never rewritten") {
    import graft.rdf._
    val store = Files.createTempDirectory("graft-binpack").toString + "/store"
    val ckpt = Files.createTempDirectory("graft-binpack-ck").toString
    val landing = Files.createTempDirectory("graft-binpack-l").toString
    def tick(t: Int): Unit = {
      Files.writeString(java.nio.file.Paths.get(landing, s"t$t.nt"),
        (0 until 300).map(i =>
          s"<urn:s/${t * 1000 + i}> <urn:p/a> <urn:o/${t * 1000 + i}> .")
          .mkString("\n"))
      GraphStore.startNtIngest(spark, landing, store, s"bp$t",
        checkpointDir = Some(ckpt)).awaitTermination()
    }
    for (t <- 0 until 6) tick(t)
    assert(GraphStore.compact(spark, store) == 1)
    val dir = new java.io.File(store, "__pred=urn%3Ap%2Fa")
    def parts() = dir.listFiles.filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    val merged = parts()
    assert(merged.length == 1, s"expected one merged file, got ${merged.length}")
    val (mName, mLen, mTime) =
      (merged(0).getName, merged(0).length, merged(0).lastModified)
    // five more sliver ticks land beside the merged file
    for (t <- 10 until 15) tick(t)
    val h0 = GraphStore.load(spark, store).merkleHash()
    assert(parts().length >= 6) // a tick can append more than one part

    // pick the target so the merged file counts as full-size (≥ half)
    // and the slivers do not: the merged file must cross the swap BY
    // RENAME — same name, same length, same mtime — while only the
    // sliver bytes are read and rewritten
    val slivers = parts().filter(_.getName != mName)
    assert(slivers.forall(_.length < mLen),
      s"test setup: slivers must be smaller than the merged file")
    assert(GraphStore.compact(spark, store, targetBytes = 2 * mLen) == 1)
    val after = parts()
    assert(after.length == 2, s"expected carried + one new merged file: ${
      after.map(_.getName).toSeq}")
    val carried = after.find(_.getName == mName)
    assert(carried.isDefined, "the full-size file must keep its identity")
    assert(carried.get.length == mLen && carried.get.lastModified == mTime,
      "the full-size file was rewritten — bin-packing must carry it untouched")
    assert(GraphStore.load(spark, store).merkleHash() == h0)
    assert(new java.io.File(dir, "_bloom.bin").isFile)
    // no markers left behind
    assert(!new java.io.File(store).list.exists(_.startsWith(".compact-")))
  }

  test("a compaction crash BEFORE the swap heals losslessly " +
      "(carried files restored from the temp dir)") {
    import graft.rdf._
    val store = Files.createTempDirectory("graft-crash1").toString + "/store"
    val ckpt = Files.createTempDirectory("graft-crash1-ck").toString
    val landing = Files.createTempDirectory("graft-crash1-l").toString
    for (t <- 0 until 5) {
      Files.writeString(java.nio.file.Paths.get(landing, s"t$t.nt"),
        (0 until 200).map(i =>
          s"<urn:s/${t * 1000 + i}> <urn:p/a> <urn:o/${t * 1000 + i}> .")
          .mkString("\n"))
      GraphStore.startNtIngest(spark, landing, store, s"c1$t",
        checkpointDir = Some(ckpt)).awaitTermination()
    }
    val rel = "__pred=urn%3Ap%2Fa"
    // one full compaction first: its merged file is the full-size file
    // the crashed bin-packing pass below will have carried into tmp
    assert(GraphStore.compact(spark, store) == 1)
    val dir = new java.io.File(store, rel)
    def parts() = dir.listFiles.filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val mLen = parts()(0).length
    for (t <- 10 until 13) {
      Files.writeString(java.nio.file.Paths.get(landing, s"t$t.nt"),
        (0 until 200).map(i =>
          s"<urn:s/${t * 1000 + i}> <urn:p/a> <urn:o/${t * 1000 + i}> .")
          .mkString("\n"))
      GraphStore.startNtIngest(spark, landing, store, s"c1$t",
        checkpointDir = Some(ckpt)).awaitTermination()
    }
    val h0 = GraphStore.load(spark, store).merkleHash()
    val layout0 = parts().map(f => (f.getName, f.length)).toSet
    assert(GraphStore.crashCompactForTest(spark, store, rel, phase = 1,
      targetBytes = 2 * mLen))
    assert(new java.io.File(store).list.exists(_.startsWith(".compact-tmp-")))
    // the carried full-size file is mid-move: gone from the live dir
    assert(!parts().map(f => (f.getName, f.length)).toSet.contains(
      layout0.maxBy(_._2)))
    // healing runs at the next compact(); with default minFiles the
    // restored directory (3 slivers) is then left alone — the store
    // must come back byte-identical, original file layout included
    GraphStore.compact(spark, store, targetBytes = 2 * mLen)
    assert(!new java.io.File(store).list.exists(_.startsWith(".compact-")))
    assert(parts().map(f => (f.getName, f.length)).toSet == layout0)
    val g = GraphStore.load(spark, store)
    assert(g.merkleHash() == h0 && g.size == 1600)
  }

  test("a compaction crash BETWEEN the swap renames heals at load() — " +
      "queries never see the mid-swap hole") {
    import graft.rdf._
    val store = Files.createTempDirectory("graft-crash2").toString + "/store"
    GraphStore.save(RdfGraph.fromTriples(spark, (0 until 500).map(i =>
      (Iri(s"urn:s/$i"): RdfTerm, Iri("urn:p/a"): RdfTerm,
        Iri(s"urn:o/$i"): RdfTerm))), store)
    val h0 = GraphStore.load(spark, store).merkleHash()
    val rel = "__pred=urn%3Ap%2Fa"
    // force slivers first so there is something to merge
    val landing = Files.createTempDirectory("graft-crash2-l").toString
    Files.writeString(java.nio.file.Paths.get(landing, "x.nt"),
      (0 until 50).map(i =>
        s"<urn:s/x$i> <urn:p/a> <urn:o/x$i> .").mkString("\n"))
    GraphStore.startNtIngest(spark, landing, store, "c2x")
      .awaitTermination()
    val h1 = GraphStore.load(spark, store).merkleHash()
    assert(GraphStore.crashCompactForTest(spark, store, rel, phase = 2))
    // the live directory is GONE (mid-swap), old+tmp markers remain
    assert(!new java.io.File(store, rel).exists)
    assert(new java.io.File(store, ".compact-old-" + rel).isDirectory)
    val g = GraphStore.load(spark, store) // load must heal before reading
    assert(g.merkleHash() == h1 && g.size == 550)
    assert(!new java.io.File(store).list.exists(_.startsWith(".compact-")))
  }

  test("ADVICE r16: an interim writer recreating a mid-swap directory " +
      "loses nothing — heal set-merges both generations") {
    import graft.rdf._
    val store = Files.createTempDirectory("graft-interim").toString + "/store"
    GraphStore.save(RdfGraph.fromTriples(spark, (0 until 300).map(i =>
      (Iri(s"urn:s/$i"): RdfTerm, Iri("urn:p/a"): RdfTerm,
        Iri(s"urn:o/$i"): RdfTerm))), store)
    // slivers so the crash seam has something to compact
    val landing = Files.createTempDirectory("graft-interim-l").toString
    Files.writeString(java.nio.file.Paths.get(landing, "x.nt"),
      (0 until 40).map(i =>
        s"<urn:s/x$i> <urn:p/a> <urn:o/x$i> .").mkString("\n"))
    GraphStore.startNtIngest(spark, landing, store, "int0")
      .awaitTermination()
    val rel = "__pred=urn%3Ap%2Fa"
    assert(GraphStore.crashCompactForTest(spark, store, rel, phase = 2))
    // simulate an r16-vintage writer that bypassed healing: it saw no
    // directory, treated everything as new, and recreated the dir with
    // one DUPLICATE of a stored row plus two fresh rows
    val interim = RdfGraph.fromTriples(spark, Seq(
      (Iri("urn:s/0"): RdfTerm, Iri("urn:p/a"): RdfTerm,
        Iri("urn:o/0"): RdfTerm), // duplicates a stored row
      (Iri("urn:s/f1"): RdfTerm, Iri("urn:p/a"): RdfTerm,
        Iri("urn:o/f1"): RdfTerm),
      (Iri("urn:s/f2"): RdfTerm, Iri("urn:p/a"): RdfTerm,
        Iri("urn:o/f2"): RdfTerm)))
    interim.triples.select("s", "p", "o")
      .write.parquet(new java.io.File(store, rel).getAbsolutePath)
    // the old heal deleted .compact-old-* here (live dir exists →
    // "swap completed"), permanently destroying the 340 original rows;
    // the fixed heal recognizes the surviving tmp, restores old, and
    // set-merges the interim rows
    GraphStore.compact(spark, store)
    val g = GraphStore.load(spark, store)
    assert(g.size == 342,
      s"expected 300 + 40 + 2 fresh interim rows exactly once, got ${g.size}")
    assert(!new java.io.File(store).list.exists(_.startsWith(".compact-")))
    // and a redelivery of the interim rows adds nothing (bloom was
    // dropped during heal; the anti-join path carries set semantics)
    val landing2 = Files.createTempDirectory("graft-interim-l2").toString
    Files.writeString(java.nio.file.Paths.get(landing2, "y.nt"),
      "<urn:s/f1> <urn:p/a> <urn:o/f1> .\n<urn:s/f3> <urn:p/a> <urn:o/f3> .\n")
    GraphStore.startNtIngest(spark, landing2, store, "int1")
      .awaitTermination()
    assert(GraphStore.load(spark, store).size == 343)
  }

  test("a restarted ingest heals its own mid-swap directories before " +
      "probing (scoped per-key heal)") {
    import graft.rdf._
    val store = Files.createTempDirectory("graft-scoped").toString + "/store"
    GraphStore.save(RdfGraph.fromTriples(spark, (0 until 200).map(i =>
      (Iri(s"urn:s/$i"): RdfTerm, Iri("urn:p/a"): RdfTerm,
        Iri(s"urn:o/$i"): RdfTerm))), store)
    val landing0 = Files.createTempDirectory("graft-scoped-l0").toString
    Files.writeString(java.nio.file.Paths.get(landing0, "x.nt"),
      (0 until 30).map(i =>
        s"<urn:s/x$i> <urn:p/a> <urn:o/x$i> .").mkString("\n"))
    GraphStore.startNtIngest(spark, landing0, store, "sc0")
      .awaitTermination()
    assert(GraphStore.crashCompactForTest(spark, store,
      "__pred=urn%3Ap%2Fa", phase = 2))
    // the restarted stream's first batch touches the crashed key: the
    // per-key heal must restore it BEFORE the existence probe, so the
    // redelivered row anti-joins instead of re-appending into a freshly
    // recreated directory
    val landing = Files.createTempDirectory("graft-scoped-l").toString
    Files.writeString(java.nio.file.Paths.get(landing, "y.nt"),
      "<urn:s/0> <urn:p/a> <urn:o/0> .\n" + // duplicate of a stored row
        "<urn:s/n1> <urn:p/a> <urn:o/n1> .\n")
    GraphStore.startNtIngest(spark, landing, store, "sc1")
      .awaitTermination()
    val g = GraphStore.load(spark, store)
    assert(g.size == 231, s"expected 200+30+1, got ${g.size}")
    assert(!new java.io.File(store).list.exists(_.startsWith(".compact-")))
  }

  test("single-writer lock: a held _lock fails writers fast; breakLock " +
      "reclaims a crashed holder's lock") {
    import graft.rdf._
    val store = Files.createTempDirectory("graft-lock").toString + "/store"
    GraphStore.save(RdfGraph.fromTriples(spark, Seq(
      (Iri("urn:a"): RdfTerm, Iri("urn:p"): RdfTerm,
        Iri("urn:b"): RdfTerm))), store)
    Files.writeString(java.nio.file.Paths.get(store, "_lock"),
      """{"owner": "ingest query other-process", "acquired_ms": 0}""")
    val landing = Files.createTempDirectory("graft-lock-l").toString
    Files.writeString(java.nio.file.Paths.get(landing, "a.nt"),
      "<urn:c> <urn:p> <urn:d> .\n")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      GraphStore.startNtIngest(spark, landing, store, "lk1")
        .awaitTermination()
    }
    assert(ex.getMessage.contains("locked by another writer") &&
      ex.getMessage.contains("other-process"), ex.getMessage)
    val ex2 = intercept[GraftException] { GraphStore.compact(spark, store) }
    assert(ex2.getMessage.contains("locked by another writer"))
    // the store itself is untouched and readable
    assert(GraphStore.load(spark, store).size == 1)
    // reclaim (the "holder" is our simulated crashed process) and retry
    assert(GraphStore.breakLock(spark, store))
    GraphStore.startNtIngest(spark, landing, store, "lk2",
      checkpointDir = Some(
        Files.createTempDirectory("graft-lock-ck").toString))
      .awaitTermination()
    assert(GraphStore.load(spark, store).size == 2)
    // the successful writer released its lock on the way out
    assert(!new java.io.File(store, "_lock").exists)
  }

  test("compactWhenFilesExceed keeps the hot directory's file count " +
      "bounded with no operator-scheduled compaction") {
    val store = Files.createTempDirectory("graft-auto").toString + "/store"
    val ckpt = Files.createTempDirectory("graft-auto-ck").toString
    val landing = Files.createTempDirectory("graft-auto-l").toString
    val dir = new java.io.File(store, "__pred=urn%3Ap%2Fa")
    def files() = if (!dir.isDirectory) 0 else dir.listFiles.count(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    var maxSeen = 0
    for (t <- 0 until 14) {
      Files.writeString(java.nio.file.Paths.get(landing, s"t$t.nt"),
        (0 until 100).map(i =>
          s"<urn:s/${t * 1000 + i}> <urn:p/a> <urn:o/${t * 1000 + i}> .")
          .mkString("\n"))
      GraphStore.startNtIngest(spark, landing, store, s"auto$t",
        checkpointDir = Some(ckpt),
        compactWhenFilesExceed = Some(3)).awaitTermination()
      maxSeen = maxSeen.max(files())
    }
    // a batch can append a couple of files at once, so the bound is
    // threshold + batch-files, not threshold + 1; without the knob the
    // 14 ticks leave ≥14 files
    assert(maxSeen <= 6,
      s"auto-compaction must bound the sliver count, saw $maxSeen files")
    val g = GraphStore.load(spark, store)
    assert(g.size == 1400)
    assert(g.predCounts.get("urn:p/a").contains(1400L))
    // replay everything from a fresh checkpoint: set semantics survive
    // the interleaved auto-compactions
    GraphStore.startNtIngest(spark, landing, store, "autoreplay",
      checkpointDir = Some(
        Files.createTempDirectory("graft-auto-ck2").toString),
      compactWhenFilesExceed = Some(3)).awaitTermination()
    assert(GraphStore.load(spark, store).size == 1400)
  }

  test("save runs ONE post-write data pass (footer-derived stats, " +
      "single bloom read)") {
    import graft.rdf._
    val n = 4000
    // in-memory source: the write itself reads no file input, so the
    // listener's recordsRead isolates the post-write passes — r16 paid
    // 2n (a groupBy-count read plus the bloom read), the footer path
    // pays n
    val g = RdfGraph.fromTriples(spark, (0 until n).map(i =>
      (Iri(s"urn:s/$i"): RdfTerm, Iri(s"urn:p/p${i % 3}"): RdfTerm,
        Iri(s"urn:o/$i"): RdfTerm)))
    val out = Files.createTempDirectory("graft-onepass").toString + "/store"
    var recordsRead = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recordsRead += t.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      GraphStore.save(g, out)
      Thread.sleep(800) // listener bus drain
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(recordsRead <= (n * 1.5).toLong,
      s"save read $recordsRead records post-write — the stats must come " +
        "from parquet footers, leaving one data pass for the blooms")
    // and the footer-derived sidecars are the exact ones
    val loaded = GraphStore.load(spark, out)
    assert(loaded.predCounts == Map("urn:p/p0" -> 1334L,
      "urn:p/p1" -> 1333L, "urn:p/p2" -> 1333L))
    // blooms landed too: a fresh-data merge must stay store-read-free
    for (p <- 0 until 3)
      assert(new java.io.File(out,
        s"__pred=urn%3Ap%2Fp$p/_bloom.bin").isFile)
  }

  test("ADVICE r16: save(append) deletes touched blooms BEFORE the " +
      "commit, so a crash before the rebuild cannot cause redelivery " +
      "duplicates") {
    import graft.rdf._
    val store = Files.createTempDirectory("graft-appcrash").toString + "/s"
    GraphStore.save(RdfGraph.fromTriples(spark, (0 until 100).map(i =>
      (Iri(s"urn:s/$i"): RdfTerm, Iri("urn:p/a"): RdfTerm,
        Iri(s"urn:o/$i"): RdfTerm))), store)
    val dir = new java.io.File(store, "__pred=urn%3Ap%2Fa")
    assert(new java.io.File(dir, "_bloom.bin").isFile)
    // append 50 rows but "crash" right after the parquet commit —
    // before any sidecar/bloom maintenance ran
    GraphStore.appendCrashForTest(RdfGraph.fromTriples(spark,
      (0 until 50).map(i =>
        (Iri(s"urn:s/a$i"): RdfTerm, Iri("urn:p/a"): RdfTerm,
          Iri(s"urn:o/a$i"): RdfTerm))), store)
    assert(GraphStore.load(spark, store).size == 150)
    // the pre-commit delete ran: no bloom claims knowledge of the
    // appended rows (a stale r16-ordering bloom would pass them as
    // definitely-new below and duplicate them permanently)
    assert(!new java.io.File(dir, "_bloom.bin").exists,
      "append must delete the touched blooms before committing data")
    // redeliver the appended rows through ingest: set semantics hold
    val landing = Files.createTempDirectory("graft-appcrash-l").toString
    Files.writeString(java.nio.file.Paths.get(landing, "r.nt"),
      (0 until 50).map(i =>
        s"<urn:s/a$i> <urn:p/a> <urn:o/a$i> .").mkString("\n"))
    GraphStore.startNtIngest(spark, landing, store, "apc1")
      .awaitTermination()
    assert(GraphStore.load(spark, store).size == 150,
      "redelivery after the append crash must add nothing")
    // and the merge healed the bloom from committed data
    assert(new java.io.File(dir, "_bloom.bin").isFile)
  }

  test("phantom bloom entries (crash between bloom write and append) " +
      "cannot lose rows") {
    // the merge's durability order writes fresh hashes into the blooms
    // BEFORE the parquet append; a crash in between leaves the bloom
    // claiming rows the store does not hold. On redelivery those rows
    // must route through the anti-join (maybe-duplicate), miss, and
    // append — phantom entries cost a probe, never data.
    import graft.rdf._
    val store = Files.createTempDirectory("graft-phantom").toString + "/s"
    GraphStore.save(RdfGraph.fromTriples(spark, (0 until 100).map(i =>
      (Iri(s"urn:s/$i"): RdfTerm, Iri("urn:p/a"): RdfTerm,
        Iri(s"urn:o/$i"): RdfTerm))), store)
    // simulate the crash window: poison the bloom with EVERY hash the
    // upcoming batch will carry (a superset of any real phantom state)
    // by pre-merging the batch rows into the sidecar without appending
    val dir = "__pred=urn%3Ap%2Fa"
    val batchRows = (0 until 50).map(i =>
      (Iri(s"urn:s/new$i"): RdfTerm, Iri("urn:p/a"): RdfTerm,
        Iri(s"urn:o/new$i"): RdfTerm))
    GraphStore.poisonBloomForTest(spark, store, dir,
      RdfGraph.fromTriples(spark, batchRows).triples)
    // deliver the batch: every row is a phantom (bloom says maybe,
    // store says absent) — all 50 must land exactly once
    val landing = Files.createTempDirectory("graft-phantom-l").toString
    Files.writeString(java.nio.file.Paths.get(landing, "a.nt"),
      (0 until 50).map(i =>
        s"<urn:s/new$i> <urn:p/a> <urn:o/new$i> .").mkString("\n"))
    GraphStore.startNtIngest(spark, landing, store, "phantom1")
      .awaitTermination()
    assert(GraphStore.load(spark, store).size == 150)
    // and a replay still adds nothing
    GraphStore.startNtIngest(spark, landing, store, "phantom2",
      checkpointDir = Some(
        Files.createTempDirectory("graft-phantom-ck").toString))
      .awaitTermination()
    assert(GraphStore.load(spark, store).size == 150)
  }

  test("sourceOptions: maxFilesPerTrigger splits batches with set " +
      "semantics held across them; cleanSource empties the landing dir") {
    val landing = Files.createTempDirectory("graft-srcopt").toString
    val store = Files.createTempDirectory("graft-srcopt-s").toString + "/s"
    val ckpt = Files.createTempDirectory("graft-srcopt-ck").toString
    // three landed files; f2 replays f1's line — with one file per
    // micro-batch the duplicate arrives in a LATER batch, so the
    // cross-batch route (bloom -> anti-join) is what dedups it
    Files.writeString(java.nio.file.Paths.get(landing, "f1.nt"),
      "<urn:a> <urn:p> <urn:x> .\n")
    Files.writeString(java.nio.file.Paths.get(landing, "f2.nt"),
      "<urn:a> <urn:p> <urn:x> .\n<urn:b> <urn:p> <urn:y> .\n")
    Files.writeString(java.nio.file.Paths.get(landing, "f3.nt"),
      "<urn:c> <urn:p> <urn:z> .\n")
    GraphStore.startNtIngest(spark, landing, store, "srcopt1",
      checkpointDir = Some(ckpt),
      sourceOptions = Map("maxFilesPerTrigger" -> "1",
        "cleanSource" -> "delete")).awaitTermination()
    assert(GraphStore.load(spark, store).size == 3)
    // cleanSource=delete removes a batch's files when a LATER batch
    // commits, so after the 3-batch run only the newest file can
    // remain — the landing dir stays O(1), not O(ticks). A later
    // data-bearing tick then cleans that tail too (and becomes the
    // new tail itself).
    def landed() = new java.io.File(landing).listFiles.count(_.isFile)
    assert(landed() <= 1, s"cleanSource left ${landed()} landing files")
    Files.writeString(java.nio.file.Paths.get(landing, "f4.nt"),
      "<urn:d> <urn:p> <urn:w> .\n")
    GraphStore.startNtIngest(spark, landing, store, "srcopt2",
      checkpointDir = Some(ckpt),
      sourceOptions = Map("maxFilesPerTrigger" -> "1",
        "cleanSource" -> "delete")).awaitTermination()
    val left = new java.io.File(landing).listFiles
      .filter(_.isFile).map(_.getName)
    assert(!left.contains("f3.nt"),
      s"the earlier tail must be cleaned by the next tick: ${left.toSeq}")
    assert(GraphStore.load(spark, store).size == 4) // f4 merged once
  }

  test("compact handles the two-level quad layout") {
    val store = Files.createTempDirectory("graft-qcompact").toString + "/s"
    val ckpt = Files.createTempDirectory("graft-qcompact-ck").toString
    val landing = Files.createTempDirectory("graft-qcompact-l").toString
    for (tick <- 0 until 5) {
      Files.writeString(java.nio.file.Paths.get(landing, s"t$tick.nq"),
        (0 until 100).map { i =>
          val id = tick * 1000 + i
          s"<urn:s/$id> <urn:p/a> <urn:o/$id> " +
            (if (i % 2 == 0) s"<urn:g/${i % 3}> ." else ".")
        }.mkString("\n"))
      GraphStore.startNqIngest(spark, landing, store, s"qct$tick",
        checkpointDir = Some(ckpt)).awaitTermination()
    }
    val g0 = GraphStore.load(spark, store)
    assert(g0.isQuads && g0.size == 500)
    val h0 = g0.merkleHash()
    // the default-graph leaf accumulated one sliver per tick
    val leaf = new java.io.File(store, "__g=d/__pred=urn%3Ap%2Fa")
    val before = leaf.listFiles.count(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(before >= 5, s"expected slivers in the quad leaf, got $before")
    // every (graph, predicate) leaf with >= 4 files rewrites; the
    // named-graph leaves (fewer rows per tick, same tick count) too
    val done = GraphStore.compact(spark, store)
    assert(done >= 1, s"compacted $done quad leaves")
    assert(leaf.listFiles.count(f =>
      f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")) < before)
    val g1 = GraphStore.load(spark, store)
    assert(g1.isQuads && g1.merkleHash() == h0)
    // named-graph scoping intact after the swap
    val e = Engine.fromGraph(g1)
    assert(e.select(
      "SELECT ?s { GRAPH <urn:g/0> { ?s <urn:p/a> ?o } }").count() > 0)
    // and ingest resumes on the same checkpoint
    Files.writeString(java.nio.file.Paths.get(landing, "t9.nq"),
      "<urn:s/z> <urn:p/a> <urn:o/z> <urn:g/0> .\n")
    GraphStore.startNqIngest(spark, landing, store, "qct9",
      checkpointDir = Some(ckpt)).awaitTermination()
    assert(GraphStore.load(spark, store).size == 501)
  }
}
