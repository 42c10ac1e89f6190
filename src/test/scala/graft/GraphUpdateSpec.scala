package graft

import graft.rdf._

/** SPARQL 1.1 UPDATE over named graphs (Update §3.1-§3.2) — the quad
  * side of the update surface: GRAPH blocks in data/templates, WITH /
  * USING / USING NAMED on Modify, CLEAR/DROP/CREATE and ADD/MOVE/COPY
  * graph management, and LOAD … INTO GRAPH honoring its target.
  *
  * Posture pinned here: on a TRIPLES-ONLY store every named-graph
  * operation raises a loud GraftException (never silently misfiles into
  * the default graph); RdfGraph.asQuadStore is the documented promotion
  * path. Empty graphs are not recorded (a graph exists iff it holds a
  * quad), so CREATE is the §3.2.1 already-exists check and DROP
  * coincides with CLEAR.
  */
class GraphUpdateSpec extends SparkSpec {

  private val EX = "http://example.com/"

  private def quadEngine(): Engine = {
    val g = RdfGraph.fromQuads(spark, Seq(
      (Iri(EX + "s1"), Iri(EX + "p"), Lit.plain("default"), None),
      (Iri(EX + "s2"), Iri(EX + "p"), Lit.plain("in-g1"),
        Some(Iri(EX + "g1"))),
      (Iri(EX + "s3"), Iri(EX + "p"), Lit.plain("in-g2"),
        Some(Iri(EX + "g2")))),
      Map("ex" -> EX))
    Engine.fromGraph(g)
  }

  /** (graphName-or-null, subject-local, object-lexical) rows. */
  private def dump(e: Engine): Set[(String, String, String)] =
    e.graph.triples.collect().toSet.map { r: org.apache.spark.sql.Row =>
      val g = if (r.isNullAt(3)) null else r.getStruct(3).getString(1)
      (g, r.getStruct(0).getString(1).stripPrefix(EX),
        r.getStruct(2).getString(1))
    }

  private val pre = Set(
    (null, "s1", "default"),
    (EX + "g1", "s2", "in-g1"),
    (EX + "g2", "s3", "in-g2"))

  // ------------------------------------------------------ data blocks

  test("INSERT DATA { GRAPH <g> { … } } lands in that graph") {
    val e = quadEngine()
    e.update(s"INSERT DATA { GRAPH <${EX}g1> { <${EX}s9> <${EX}p> 'new' } }")
    assert(dump(e) == pre + ((EX + "g1", "s9", "new")))
  }

  test("INSERT DATA mixes default-graph triples and GRAPH blocks") {
    val e = quadEngine()
    e.update(
      s"""INSERT DATA {
            <${EX}d1> <${EX}p> 'dflt' .
            GRAPH <${EX}g3> { <${EX}n1> <${EX}p> 'named' }
            <${EX}d2> <${EX}p> 'dflt2' .
          }""")
    assert(dump(e) == pre + ((null, "d1", "dflt")) +
      ((EX + "g3", "n1", "named")) + ((null, "d2", "dflt2")))
  }

  test("DELETE DATA { GRAPH <g> { … } } removes only that graph's quad") {
    val e = quadEngine()
    // same s/p/o exists nowhere else, but pin the graph targeting anyway
    e.update(s"DELETE DATA { GRAPH <${EX}g1> { <${EX}s2> <${EX}p> 'in-g1' } }")
    assert(dump(e) == pre - ((EX + "g1", "s2", "in-g1")))
    // deleting a default-graph triple leaves the named graphs alone
    val e2 = quadEngine()
    e2.update(s"DELETE DATA { <${EX}s1> <${EX}p> 'default' }")
    assert(dump(e2) == pre - ((null, "s1", "default")))
  }

  test("INSERT DATA with GRAPH on a triples-only store errors loudly") {
    val e = Engine.inline(s"<${EX}s> <${EX}p> 'x' .")
    val ex = intercept[GraftException](e.update(
      s"INSERT DATA { GRAPH <${EX}g> { <${EX}s> <${EX}p> 'y' } }"))
    assert(ex.getMessage.contains("asQuadStore"))
  }

  test("asQuadStore promotes: same update then succeeds") {
    val e = Engine.fromGraph(
      Engine.inline(s"<${EX}s> <${EX}p> 'x' .").graph.asQuadStore)
    e.update(s"INSERT DATA { GRAPH <${EX}g> { <${EX}s> <${EX}p> 'y' } }")
    assert(dump(e) == Set((null, "s", "x"), (EX + "g", "s", "y")))
  }

  // ------------------------------------------------- templates + WHERE

  test("DELETE WHERE { GRAPH ?g { … } } deletes from every named graph") {
    val e = quadEngine()
    e.update(s"DELETE WHERE { GRAPH ?g { ?s <${EX}p> ?o } }")
    assert(dump(e) == Set((null, "s1", "default")))
  }

  test("DELETE WHERE mixing default and GRAPH blocks joins both scopes") {
    val e = quadEngine()
    // matches only when the default graph has (?s,p,'default') AND g1
    // has some quad — deletes both sides' matched quads
    e.update(
      s"""DELETE WHERE {
            ?s <${EX}p> 'default' .
            GRAPH <${EX}g1> { ?x <${EX}p> ?y }
          }""")
    assert(dump(e) == Set((EX + "g2", "s3", "in-g2")))
  }

  test("INSERT { GRAPH ?g { … } } WHERE — variable graph target") {
    val e = quadEngine()
    e.update(
      s"""INSERT { GRAPH ?g { <${EX}mark> <${EX}p> 'seen' } }
          WHERE { GRAPH ?g { ?s <${EX}p> ?o } }""")
    assert(dump(e) == pre + ((EX + "g1", "mark", "seen")) +
      ((EX + "g2", "mark", "seen")))
  }

  test("Modify moves matched triples between graphs (DELETE+INSERT+GRAPH)") {
    val e = quadEngine()
    e.update(
      s"""DELETE { GRAPH <${EX}g1> { ?s ?p ?o } }
          INSERT { GRAPH <${EX}g2> { ?s ?p ?o } }
          WHERE { GRAPH <${EX}g1> { ?s ?p ?o } }""")
    assert(dump(e) == Set(
      (null, "s1", "default"),
      (EX + "g2", "s2", "in-g1"),
      (EX + "g2", "s3", "in-g2")))
  }

  test("WITH <g> scopes WHERE and both templates to g") {
    val e = quadEngine()
    e.update(
      s"""WITH <${EX}g1>
          DELETE { ?s ?p ?o }
          INSERT { ?s ?p 'renamed' }
          WHERE { ?s ?p ?o }""")
    assert(dump(e) == Set(
      (null, "s1", "default"),
      (EX + "g1", "s2", "renamed"),
      (EX + "g2", "s3", "in-g2")))
  }

  test("WITH does not restrict GRAPH patterns in the WHERE") {
    val e = quadEngine()
    // GRAPH ?g still ranges over ALL named graphs under WITH (§3.1.3)
    e.update(
      s"""WITH <${EX}g1>
          INSERT { <${EX}seen> <${EX}from> ?g }
          WHERE { GRAPH ?g { ?s <${EX}p> ?o } }""")
    val got = dump(e)
    assert(got.contains((EX + "g1", "seen", EX + "g1")))
    assert(got.contains((EX + "g1", "seen", EX + "g2")))
  }

  test("USING <g> overrides WITH for the WHERE; WITH still places templates") {
    val e = quadEngine()
    e.update(
      s"""WITH <${EX}g1>
          INSERT { <${EX}copy> <${EX}p> ?o }
          USING <${EX}g2>
          WHERE { ?s <${EX}p> ?o }""")
    // WHERE matched g2 ('in-g2'), template landed in g1 (WITH)
    assert(dump(e) == pre + ((EX + "g1", "copy", "in-g2")))
  }

  test("USING NAMED restricts GRAPH patterns; bare USING empties the default") {
    val e = quadEngine()
    e.update(
      s"""INSERT { <${EX}tag> <${EX}in> ?g }
          USING NAMED <${EX}g2>
          WHERE { GRAPH ?g { ?s <${EX}p> ?o } }""")
    val got = dump(e)
    assert(got.contains((null, "tag", EX + "g2")))
    assert(!got.contains((null, "tag", EX + "g1")),
      "USING NAMED <g2> must exclude g1 from GRAPH ?g")
  }

  test("WITH / USING / GRAPH templates on a triples-only store error loudly") {
    val e = Engine.inline(s"<${EX}s> <${EX}p> 'x' .")
    for (u <- Seq(
        s"WITH <${EX}g> DELETE { ?s ?p ?o } WHERE { ?s ?p ?o }",
        s"INSERT { <${EX}a> <${EX}b> 'c' } USING <${EX}g> WHERE { ?s ?p ?o }",
        s"INSERT { GRAPH <${EX}g> { ?s ?p ?o } } WHERE { ?s ?p ?o }"))
      assert(intercept[GraftException](e.update(u))
        .getMessage.contains("asQuadStore"), s"update should be rejected: $u")
  }

  // ------------------------------------------------------- management

  test("CLEAR GRAPH <g> / DEFAULT / NAMED / ALL") {
    val e = quadEngine()
    e.update(s"CLEAR GRAPH <${EX}g1>")
    assert(dump(e) == pre - ((EX + "g1", "s2", "in-g1")))
    e.update("CLEAR DEFAULT")
    assert(dump(e) == Set((EX + "g2", "s3", "in-g2")))
    e.update("CLEAR NAMED")
    assert(dump(e).isEmpty)
    val e2 = quadEngine()
    e2.update("CLEAR ALL")
    assert(dump(e2).isEmpty)
    assert(e2.graph.isQuads, "CLEAR ALL must preserve quad-store shape")
  }

  test("CLEAR GRAPH on a missing graph errors; SILENT is a no-op") {
    val e = quadEngine()
    intercept[GraftException](e.update(s"CLEAR GRAPH <${EX}nope>"))
    e.update(s"CLEAR SILENT GRAPH <${EX}nope>")
    assert(dump(e) == pre)
  }

  test("DROP behaves as CLEAR on a store without empty-graph records") {
    val e = quadEngine()
    e.update(s"DROP GRAPH <${EX}g2>")
    assert(dump(e) == pre - ((EX + "g2", "s3", "in-g2")))
    intercept[GraftException](e.update(s"DROP GRAPH <${EX}g2>"))
    e.update(s"DROP SILENT GRAPH <${EX}g2>")
  }

  test("CREATE GRAPH errors on an existing graph, else no-op") {
    val e = quadEngine()
    e.update(s"CREATE GRAPH <${EX}fresh>") // not recorded — no-op
    assert(dump(e) == pre)
    intercept[GraftException](e.update(s"CREATE GRAPH <${EX}g1>"))
    e.update(s"CREATE SILENT GRAPH <${EX}g1>")
  }

  test("ADD copies content, source kept; missing source errors unless SILENT") {
    val e = quadEngine()
    e.update(s"ADD GRAPH <${EX}g1> TO GRAPH <${EX}g2>")
    assert(dump(e) == pre + ((EX + "g2", "s2", "in-g1")))
    e.update(s"ADD DEFAULT TO GRAPH <${EX}g1>")
    assert(dump(e).contains((EX + "g1", "s1", "default")))
    intercept[GraftException](e.update(s"ADD GRAPH <${EX}nope> TO DEFAULT"))
    e.update(s"ADD SILENT GRAPH <${EX}nope> TO DEFAULT")
  }

  test("COPY replaces the destination; MOVE also empties the source") {
    val e = quadEngine()
    e.update(s"COPY GRAPH <${EX}g1> TO GRAPH <${EX}g2>")
    assert(dump(e) == Set(
      (null, "s1", "default"),
      (EX + "g1", "s2", "in-g1"),
      (EX + "g2", "s2", "in-g1")))
    val e2 = quadEngine()
    e2.update(s"MOVE GRAPH <${EX}g1> TO GRAPH <${EX}g2>")
    assert(dump(e2) == Set(
      (null, "s1", "default"),
      (EX + "g2", "s2", "in-g1")))
    // MOVE g TO g is a no-op, not a self-destruction
    val e3 = quadEngine()
    e3.update(s"MOVE GRAPH <${EX}g1> TO GRAPH <${EX}g1>")
    assert(dump(e3) == pre)
  }

  test("MOVE DEFAULT TO GRAPH <g> / COPY GRAPH <g> TO DEFAULT") {
    val e = quadEngine()
    e.update(s"MOVE DEFAULT TO GRAPH <${EX}dst>")
    assert(dump(e) == Set(
      (EX + "dst", "s1", "default"),
      (EX + "g1", "s2", "in-g1"),
      (EX + "g2", "s3", "in-g2")))
    e.update(s"COPY GRAPH <${EX}g1> TO DEFAULT")
    assert(dump(e).contains((null, "s2", "in-g1")))
  }

  // ------------------------------------------------------------- LOAD

  test("LOAD … INTO GRAPH honors its target on a quad store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-load").toFile
    val f = new java.io.File(dir, "doc.ttl")
    java.nio.file.Files.write(f.toPath,
      s"<${EX}loaded> <${EX}p> 'from-file' .".getBytes("UTF-8"))
    val e = quadEngine()
    e.update(s"LOAD <file://${f.getAbsolutePath}> INTO GRAPH <${EX}g9>")
    assert(dump(e) == pre + ((EX + "g9", "loaded", "from-file")))
    // plain LOAD → default graph
    val e2 = quadEngine()
    e2.update(s"LOAD <file://${f.getAbsolutePath}>")
    assert(dump(e2) == pre + ((null, "loaded", "from-file")))
    // triples-only store: INTO GRAPH is a loud error, not a misfile
    val e3 = Engine.inline(s"<${EX}s> <${EX}p> 'x' .")
    assert(intercept[GraftException](e3.update(
      s"LOAD <file://${f.getAbsolutePath}> INTO GRAPH <${EX}g>"))
      .getMessage.contains("asQuadStore"))
  }

  test("LOAD SILENT turns a missing/unparsable document into a no-op; " +
      "the triples-only capability error stays loud") {
    val e = quadEngine()
    e.update("LOAD SILENT <file:///no/such/file.ttl>")
    e.update("LOAD SILENT <file:///no/such/file.ttl> INTO GRAPH <http://example.com/g1>")
    assert(dump(e) == pre)
    intercept[GraftException](e.update("LOAD <file:///no/such/file.ttl>"))
    // store-shape error is NOT a document failure — SILENT must not eat it
    val t = Engine.inline(s"<${EX}s> <${EX}p> 'x' .")
    assert(intercept[GraftException](t.update(
      s"LOAD SILENT <file:///no/such/file.ttl> INTO GRAPH <${EX}g>"))
      .getMessage.contains("asQuadStore"))
  }

  test("empty templates are no-ops: DELETE WHERE { }, INSERT { } WHERE") {
    val e = quadEngine()
    e.update("DELETE WHERE { }")
    e.update("DELETE WHERE { GRAPH <http://example.com/g1> { } }")
    e.update(s"INSERT { } WHERE { ?s <${EX}p> ?o }")
    e.update("INSERT DATA { }")
    assert(dump(e) == pre)
  }

  // ------------------------------------------------ sequences + quads

  test("op sequences interleave graph management and quad templates") {
    val e = quadEngine()
    e.update(
      s"""CREATE SILENT GRAPH <${EX}work> ;
          ADD GRAPH <${EX}g1> TO GRAPH <${EX}work> ;
          WITH <${EX}work> DELETE { ?s ?p ?o }
            INSERT { ?s ?p 'worked' } WHERE { ?s ?p ?o } ;
          DROP GRAPH <${EX}g1>""")
    assert(dump(e) == Set(
      (null, "s1", "default"),
      (EX + "work", "s2", "worked"),
      (EX + "g2", "s3", "in-g2")))
  }

  test("a session checkpoint dir upgrades lineage truncation to RELIABLE") {
    // replaceTriples truncates UPDATE lineage every 8 ops. Without a
    // checkpoint dir that is a localCheckpoint (executor-local blocks —
    // lost executors lose the store); WITH one, the truncation must go
    // through a reliable checkpoint whose blocks live in the dir and
    // survive executor loss. Pinned by observing the checkpoint files.
    val ckpt = java.nio.file.Files.createTempDirectory("graft-upd-ck")
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty) // suite default: local path
    sc.setCheckpointDir(ckpt.toString)
    try {
      val e = quadEngine()
      for (i <- 1 to 10) // crosses the 8-op truncation boundary
        e.update(s"INSERT DATA { <${EX}u$i> <${EX}p> 'v$i' }")
      assert(e.select("SELECT ?s { ?s <http://example.com/p> ?o }")
        .count() == 11) // 1 default-graph seed + 10 inserted
      // the truncation really was reliable: rdd checkpoint data on disk
      def rddFiles(d: java.io.File): Boolean =
        d.isDirectory && d.listFiles.exists(f =>
          f.getName.startsWith("rdd-") || rddFiles(f))
      assert(rddFiles(ckpt.toFile),
        s"no reliable checkpoint data under $ckpt")
    } finally {
      // Option(null) → None: later suites on the shared session keep
      // the default local-checkpoint path
      sc.setCheckpointDir(null)
      assert(sc.getCheckpointDir.isEmpty)
    }
  }

  test("reliable truncation keeps O(1) checkpoint dirs, not O(ops/8), " +
      "with a one-generation grace window") {
    // ADVICE r15: Spark never deletes reliable checkpoint files on its
    // own (cleanCheckpoints defaults false), so a long update session
    // accumulated one full store copy per truncation until the
    // filesystem filled. setGraph checkpoints eagerly and retains the
    // TWO newest truncations (ADVICE r16: deleting the immediately
    // previous copy silently broke lazy frames captured ≥8 updates
    // earlier) — a 24-op run (3 truncation boundaries) must leave
    // exactly two rdd-* directories, the live copy must be queryable,
    // and a lazy frame captured one generation back must still
    // materialize.
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ck-o1")
    val sc = spark.sparkContext
    sc.setCheckpointDir(ckpt.toString)
    try {
      val e = quadEngine()
      for (i <- 1 to 8)
        e.update(s"INSERT DATA { <${EX}c$i> <${EX}p> 'v$i' }")
      // captured right after the op-8 truncation: its plan references
      // that generation's checkpoint files
      val held = e.select(s"SELECT ?s { ?s <${EX}p> ?o }")
      for (i <- 9 to 16)
        e.update(s"INSERT DATA { <${EX}c$i> <${EX}p> 'v$i' }")
      // one generation later the op-8 copy is still on disk: the held
      // frame materializes instead of FileNotFoundException
      assert(held.count() == 9) // 1 default-graph seed + 8 inserted
      for (i <- 17 to 24)
        e.update(s"INSERT DATA { <${EX}c$i> <${EX}p> 'v$i' }")
      def rddDirs(d: java.io.File): Seq[java.io.File] =
        if (!d.isDirectory) Nil
        else if (d.getName.startsWith("rdd-")) Seq(d)
        else d.listFiles.toSeq.flatMap(rddDirs)
      val dirs = rddDirs(ckpt.toFile)
      assert(dirs.length == 2,
        s"expected the two newest checkpoint generations, found ${dirs.mkString(", ")}")
      assert(e.select(s"SELECT ?s { ?s <${EX}p> ?o }").count() == 25)
    } finally {
      sc.setCheckpointDir(null)
      assert(sc.getCheckpointDir.isEmpty)
    }
  }

  test("updates keep working across a lineage truncation of a loaded store") {
    // GraphStore-loaded sf0.001 customers and the benchmark's inference-
    // style update mix: the 8th update truncates lineage; INSERT WHERE and
    // INSERT DATA after it must still apply, with the counts a driver-side
    // model predicts. (The zip failure this guards against showed on the
    // benchmark's own inputs: a union claiming its children's partitioning,
    // see RdfGraph.insert.)
    val dir = TestSpark.sf0001
    val store = java.nio.file.Files.createTempDirectory("graft-upd-trunc")
      .toFile.getAbsolutePath + "/store"
    sources.GraphStore.save(Tables.graph(spark, dir, "customer", "orders", "nation"), store)
    val e = Engine.fromGraph(sources.GraphStore.load(spark, store))
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_acctbal", "c_nationkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2), r.getString(3)))).toMap
    val rich = scala.collection.mutable.Set.empty[Long]
    val vip = scala.collection.mutable.Set.empty[Long]
    val P = "PREFIX gp: <urn:graft:p/> "
    val (richC, vipC) = ("<urn:graft:class/rich>", "<urn:graft:class/vip>")
    def insertRich(k: Int) = {
      e.update(P + s"INSERT { ?c a $richC } WHERE { ?c gp:c_acctbal ?b FILTER(?b > $k.0) }")
      rich ++= cust.collect { case (c, (b, _, _)) if b > k => c }
    }
    def inferVip(seg: String) = {
      e.update(P + s"""INSERT { ?c a $vipC } WHERE { ?c a $richC . ?c gp:c_mktsegment "$seg" }""")
      vip ++= rich.filter(c => cust(c)._3 == seg)
    }
    def retract(n: Int) = {
      e.update(P + s"DELETE { ?c a $richC } WHERE { ?c a $richC . " +
        s"?c gp:c_nation_ref <urn:graft:nation/$n> }")
      rich --= rich.filter(c => cust(c)._2 == n)
    }
    def assertFacts(c: Long) = {
      e.update(s"INSERT DATA { <urn:graft:customer/$c> a $richC , $vipC }")
      rich += c; vip += c
    }
    def count(cls: String) =
      e.select(s"SELECT (COUNT(*) AS ?n) { ?c a $cls }").collect()(0).getLong(0)
    def clearVip() = { e.update(s"DELETE WHERE { ?c a $vipC }"); vip.clear() }
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rnd = new scala.util.Random(7)
    def round(): Seq[() => Unit] = rnd.shuffle(Seq[() => Unit](
      () => insertRich(7000 + rnd.nextInt(2900)),
      () => inferVip(segs(rnd.nextInt(segs.size))),
      () => retract(rnd.nextInt(25)),
      () => assertFacts(rnd.nextInt(cust.size).toLong),
      () => insertRich(7000 + rnd.nextInt(2900)),
      () => inferVip(segs(rnd.nextInt(segs.size))),
      () => retract(rnd.nextInt(25)),
      () => clearVip()))
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    try {
      // two rounds: the 8th update truncates, and the second round's
      // INSERT WHEREs and INSERT DATA run on the truncated store
      for (r <- 1 to 2; (op, i) <- round().zipWithIndex) {
        op()
        val n = (r - 1) * 8 + i + 1
        assert(count(richC) == rich.size, s"rich after update $n")
        assert(count(vipC) == vip.size, s"vip after update $n")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }
}
