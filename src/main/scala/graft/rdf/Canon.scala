package graft.rdf

import scala.collection.mutable

/** RDF Dataset Canonicalization — the W3C RDFC-1.0 REC (the algorithm
  * formerly known as URDNA2015). Assigns every blank node a canonical
  * `c14nN` label that depends only on the STRUCTURE of the dataset,
  * never on input labels or statement order, which makes three things
  * possible that plain serialization cannot give:
  *
  *  - a deterministic, diff-able N-Quads form ([[canonicalNQuads]]),
  *  - dataset hashing / exact-dedup of graphs with blank nodes,
  *  - graph isomorphism as string equality ([[isomorphic]]) — the
  *    reference exposes the same capability through rdflib's
  *    `compare.isomorphic` (gastrodon delegates graph equality to it).
  *
  * The reference's rdflib implements the weaker Tarjan/Sayers iso
  * heuristic; this is the full REC algorithm: first-degree hashes over
  * per-bnode quad serializations, unique hashes issued in order, ties
  * broken by hash-N-degree-quads with permutation search.
  *
  * CONTRACT: driver-side, like `ttl()`/`serialize` — canonicalization
  * is inherently sequential (the REC algorithm walks a global
  * hash-to-bnode state). Use it for display, diffing, golden tests and
  * content-addressing of bounded graphs; at corpus scale, hash GROUND
  * quads distributed (they canonicalize to themselves) and reserve
  * this for the bnode component. The permutation step is factorial in
  * the size of a same-hash bnode group, so [[Canon.canonicalize]]
  * guards with a work cap (default 1e6 steps) and fails loudly on
  * adversarial "poison" graphs rather than spinning — the same
  * bomb-cap posture as the media decoders.
  */
object Canon {

  final class CanonException(msg: String) extends RuntimeException(msg)

  /** A quad: graph term `null` = default graph. */
  type Quad = (RdfTerm, RdfTerm, RdfTerm, RdfTerm)

  // ------------------------------------------------------ label issuer

  /** The REC's "identifier issuer": stable FIFO issue order. */
  private final class Issuer(prefix: String) {
    val issued = mutable.LinkedHashMap[String, String]()
    private var n = 0
    def issue(label: String): String =
      issued.getOrElseUpdate(label, { val id = prefix + n; n += 1; id })
    def has(label: String): Boolean = issued.contains(label)
    def copyOf(): Issuer = {
      val c = new Issuer(prefix)
      c.issued ++= issued; c.n = n
      c
    }
  }

  private def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map("%02x".format(_)).mkString
  }

  // -------------------------------------------------- nquads rendering

  /** Canonical N-Quads term form (the REC serializes with the N-Quads
    * canonical form; quoted triples follow the 1.2 draft syntax). */
  private def termNq(t: RdfTerm, labelOf: String => String): String = t match {
    case Iri(v) => s"<$v>"
    case Blank(l) => "_:" + labelOf(l)
    case Lit(lex, dt, lang) =>
      val esc = Lit.escape(lex)
      if (lang != null) s""""$esc"@$lang"""
      else if (dt == XSD.string) s""""$esc""""
      else s""""$esc"^^<$dt>"""
    case QuotedTriple(s, p, o) =>
      s"<< ${termNq(s, labelOf)} ${termNq(p, labelOf)} ${termNq(o, labelOf)} >>"
  }

  private def quadNq(q: Quad, labelOf: String => String): String = {
    val g = if (q._4 == null) "" else termNq(q._4, labelOf) + " "
    s"${termNq(q._1, labelOf)} ${termNq(q._2, labelOf)} " +
      s"${termNq(q._3, labelOf)} $g."
  }

  private def bnodesOf(t: RdfTerm): Seq[String] = t match {
    case Blank(l) => Seq(l)
    case QuotedTriple(s, p, o) =>
      bnodesOf(s) ++ bnodesOf(p) ++ bnodesOf(o)
    case _ => Nil
  }

  private def quadBnodes(q: Quad): Seq[String] =
    (Seq(q._1, q._2, q._3) ++ Option(q._4).toSeq).flatMap(bnodesOf).distinct

  // ----------------------------------------------------- the algorithm

  /** Canonical label for every blank node in the dataset
    * (input label → `c14nN`). */
  def canonicalLabels(quads: Seq[Quad], maxSteps: Long = 1000000L)
      : Map[String, String] = {
    var steps = 0L
    def budget(n: Long): Unit = {
      steps += n
      if (steps > maxSteps) throw new CanonException(
        s"canonicalization exceeded $maxSteps steps — poison graph? " +
          "(deeply symmetric blank-node structure)")
    }

    // 1-2. bnode → mentioning quads
    val mention = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Quad]]()
    quads.foreach { q =>
      quadBnodes(q).foreach(b =>
        mention.getOrElseUpdate(b, mutable.ArrayBuffer()) += q)
    }
    if (mention.isEmpty) return Map.empty
    val canon = new Issuer("c14n")

    // 3. hash first degree: quads of b with b as "_:a", other bnodes "_:z"
    def hashFirstDegree(b: String): String = {
      val lines = mention(b).map(q =>
        quadNq(q, l => if (l == b) "a" else "z")).sorted
      budget(lines.size)
      sha256Hex(lines.mkString("\n") + "\n")
    }
    val firstDegree = mention.keys.map(b => b -> hashFirstDegree(b)).toMap
    val byHash = firstDegree.groupBy(_._2)
      .view.mapValues(_.keys.toSeq.sorted).toMap

    // 4. unique hashes issue canonical labels in hash order
    val (unique, shared) = byHash.partition(_._2.size == 1)
    unique.toSeq.sortBy(_._1).foreach { case (_, Seq(b)) => canon.issue(b) }

    // hash related blank node (REC §4.8.3 step contributions)
    def hashRelated(related: String, q: Quad, issuer: Issuer,
        position: Char): String = {
      var input = position.toString
      if (position != 'g') input += termNq(q._2, identity)
      input +=
        (if (canon.has(related)) "_:" + canon.issued(related)
         else if (issuer.has(related)) "_:" + issuer.issued(related)
         else firstDegree(related))
      budget(1)
      sha256Hex(input)
    }

    // hash n-degree quads (REC §4.9). `depth` guards the recursion: a
    // long fully-symmetric chain (every interior bnode first-degree-
    // identical) recurses once per node and would overflow the JVM
    // stack long before the step cap trips — fail loudly instead.
    def hashNDegree(b: String, pathIssuer: Issuer,
        depth: Int = 0): (String, Issuer) = {
      // each level spends ~15-20 JVM frames (permutation iterator +
      // closures), so the guard must sit well under the default 1 MiB
      // thread stack; 200 mutually-symmetric recursion levels is far
      // beyond any non-adversarial graph
      if (depth > 200) throw new CanonException(
        "canonicalization recursion exceeded depth 200 — poison graph? " +
          "(a long chain of first-degree-identical blank nodes)")
      var issuer = pathIssuer
      val hn = mutable.Map[String, mutable.ArrayBuffer[String]]()
      mention(b).foreach { q =>
        def rel(t: RdfTerm, pos: Char): Unit =
          bnodesOf(t).filter(_ != b).foreach { r =>
            val h = hashRelated(r, q, issuer, pos)
            hn.getOrElseUpdate(h, mutable.ArrayBuffer()) += r
          }
        rel(q._1, 's'); rel(q._3, 'o')
        if (q._4 != null) rel(q._4, 'g')
      }
      val dataToHash = new StringBuilder
      hn.toSeq.sortBy(_._1).foreach { case (relatedHash, group0) =>
        val group = group0.distinct.toList
        dataToHash.append(relatedHash)
        var chosenPath = ""
        var chosenIssuer: Issuer = null
        budget(group.size.toLong * group.size)
        group.permutations.foreach { perm =>
          budget(perm.size)
          var issuerCopy = issuer.copyOf()
          val path = new StringBuilder
          val recursion = mutable.ArrayBuffer[String]()
          var aborted = false
          perm.foreach { related =>
            if (!aborted) {
              if (canon.has(related)) path.append("_:" + canon.issued(related))
              else {
                if (!issuerCopy.has(related)) recursion += related
                path.append("_:" + issuerCopy.issue(related))
              }
              if (chosenPath.nonEmpty && path.length >= chosenPath.length &&
                  path.toString > chosenPath) aborted = true
            }
          }
          if (!aborted) {
            recursion.foreach { related =>
              if (!aborted) {
                val (h, after) = hashNDegree(related, issuerCopy, depth + 1)
                path.append("_:" + issuerCopy.issue(related))
                path.append("<" + h + ">")
                issuerCopy = after
                if (chosenPath.nonEmpty && path.length >= chosenPath.length &&
                    path.toString > chosenPath) aborted = true
              }
            }
          }
          if (!aborted &&
              (chosenPath.isEmpty || path.toString < chosenPath)) {
            chosenPath = path.toString
            chosenIssuer = issuerCopy
          }
        }
        dataToHash.append(chosenPath)
        issuer = chosenIssuer
      }
      (sha256Hex(dataToHash.toString), issuer)
    }

    // 5. shared hashes: n-degree tie-break in hash order
    shared.toSeq.sortBy(_._1).foreach { case (_, group) =>
      val results = group.map { b =>
        val temp = new Issuer("b")
        temp.issue(b)
        hashNDegree(b, temp)
      }
      results.sortBy(_._1).foreach { case (_, issuer) =>
        issuer.issued.keys.foreach(canon.issue)
      }
    }
    canon.issued.toMap
  }

  /** The canonical N-Quads document: every bnode relabeled `c14nN`,
    * lines sorted in code point order. Equal strings ⇔ isomorphic
    * datasets. */
  def canonicalNQuads(quads: Seq[Quad], maxSteps: Long = 1000000L): String = {
    val labels = canonicalLabels(quads, maxSteps)
    quads.distinct.map(quadNq(_, labels)).sorted.mkString("", "\n", "\n")
  }

  /** Dataset isomorphism (blank-node bijection) via canonical forms. */
  def isomorphic(a: Seq[Quad], b: Seq[Quad],
      maxSteps: Long = 1000000L): Boolean =
    canonicalNQuads(a, maxSteps) == canonicalNQuads(b, maxSteps)

  /** SHA-256 of the canonical N-Quads — a content address for the
    * dataset, stable under any relabeling/reordering. */
  def datasetHash(quads: Seq[Quad], maxSteps: Long = 1000000L): String =
    sha256Hex(canonicalNQuads(quads, maxSteps))

  // ------------------------------------------------- distributed path

  import org.apache.spark.sql.{Column, DataFrame, functions => F}

  /** Canonical N-Quads of a WHOLE [[RdfGraph]] as a distributed `line`
    * column — the scale path for content-addressing and diffing large
    * stores. GROUND rows (no blank node, no quoted triple in any
    * position) render columnar and never touch the driver; only the
    * blank-node-touching component collects for RDFC-1.0 labeling
    * (its canonical labels depend on nothing else — a bnode's
    * first-degree and N-degree hashes range over the quads MENTIONING
    * blank nodes). The bnode component must fit the driver, the usual
    * shape for corpus-scale stores where bnodes are a small fraction;
    * a fully ground store never collects at all. Quoted-triple rows
    * ride with the driver component (rare, and their nesting needs the
    * recursive renderer). */
  def canonicalLines(g: RdfGraph, maxSteps: Long = 1000000L): DataFrame = {
    val t = g.triples
    def special(c: Column): Column = c.isNotNull &&
      Terms.kind(c).isin(Terms.KIND_BLANK, Terms.KIND_TRIPLE)
    val bnodeish = special(F.col("s")) || special(F.col("o")) ||
      (if (g.isQuads) special(F.col("g")) else F.lit(false))
    val ground = t.filter(!bnodeish)
    val gPart: Column =
      if (g.isQuads)
        F.when(F.col("g").isNotNull,
          F.concat(Terms.ntText(F.col("g")), F.lit(" "))).otherwise(F.lit(""))
      else F.lit("")
    // distinct: the driver serializer dedupes quads, so the distributed
    // document must too — a store carrying duplicate rows (set semantics
    // are a property of RdfGraph's loaders, not of arbitrary quad
    // frames) would otherwise break byte-equality with canonicalNQuads
    val groundLines = ground.select(F.concat(
      Terms.ntText(F.col("s")), F.lit(" "),
      Terms.ntText(F.col("p")), F.lit(" "),
      Terms.ntText(F.col("o")), F.lit(" "), gPart, F.lit(".")).as("line"))
      .distinct()

    val driverQuads = RdfGraph(t.filter(bnodeish), g.prefixes).collectQuads()
    val labels = canonicalLabels(driverQuads, maxSteps)
    val driverLines = driverQuads.distinct.map(quadNq(_, labels))
    val spark = t.sparkSession
    val bDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        driverLines.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("line",
          org.apache.spark.sql.types.StringType))))
    groundLines.unionByName(bDf)
  }

  /** Distributed canonical N-Quads sink: [[canonicalLines]] globally
    * sorted (one range exchange) into text part files — concatenated
    * in part order, the directory IS the RDFC-1.0 canonical document. */
  def writeCanonical(g: RdfGraph, path: String,
      maxSteps: Long = 1000000L): Unit =
    canonicalLines(g, maxSteps).orderBy("line")
      .write.mode("overwrite").text(path)

  /** Distributed content address: SHA-256 FOLDED over the globally
    * sorted [[canonicalLines]], streamed into the digest one partition
    * at a time (`toLocalIterator` — a ground-heavy store is never
    * materialized on the driver; memory is O(1), and only the
    * blank-node component collects, exactly as in [[canonicalLines]]).
    * Byte-equal to the driver `datasetHash`/`sha256(canonicalNQuads)`
    * by construction: same lines, same order, same separators. The
    * digest itself is sequential (SHA-256 cannot merge), so the lines
    * flow through the driver — one streamed pass, the unavoidable cost
    * of matching the canonical document's whole-file hash; for a
    * parallel-verifiable address at 100 TB, hash the [[writeCanonical]]
    * part files instead (a Merkle layout, different address space). */
  def distributedHash(g: RdfGraph, maxSteps: Long = 1000000L): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val nl = Array('\n'.toByte)
    val it = canonicalLines(g, maxSteps).orderBy("line").toLocalIterator()
    while (it.hasNext) {
      md.update(it.next().getString(0).getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      md.update(nl)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Parallel Merkle content address — a DIFFERENT address space from
    * [[distributedHash]]/`datasetHash` (which byte-match
    * `sha256(canonical document)` and are therefore a serial fold by
    * construction). Here every canonical line is routed to one of
    * `fanout` segments by the first 12 bits of its own SHA-256 —
    * segmentation is decided by CONTENT, never by physical partition
    * boundaries (Spark's range partitioner samples with a
    * lineage-dependent seed, so part-file boundaries are NOT
    * reproducible across runs; content buckets are). Each segment
    * digests its sorted lines independently in parallel, and the root
    * is the SHA-256 of the ordered `bucket:digest` list. Deterministic
    * under any repartitioning and under blank-node relabeling (the
    * lines are RDFC-1.0 canonical), and computable from a written
    * [[writeCanonical]] directory via [[merkleHashOfLines]] over
    * `spark.read.text(path)` — same lines, same root. `fanout` is part
    * of the address space: the same store hashed at a different fanout
    * yields a different (equally valid) root, so fix it per catalog.
    * At 100 TB the serial fold is the bottleneck (5.65× at 10× in the
    * r13 rehearsal); this path's only serial work is hashing ≤4096
    * digest lines on the driver.
    *
    * SIZING: each segment streams its lines through ONE SHA-256, so
    * per-task work is corpus_bytes / fanout — at the default 4096 a
    * 100 TB canonical store means ~25 GB through a single digest per
    * task. Pick `fanout ≈ corpus_bytes / 256 MB` for healthy segments;
    * fanouts past 4096 (up to 4096² = 16.7M) switch to a TWO-LEVEL
    * tree — leaf segments digest in parallel as before, then ≤4096
    * parent nodes (4096 consecutive buckets each) digest their
    * children's `bucket:digest` lists distributed, and only the parent
    * digests reach the driver. Fanouts ≤ 4096 keep the r14 single-level
    * derivation (first 12 bits of the line hash), so existing catalog
    * roots are unchanged; wider fanouts bucket on the first 24 bits —
    * a different fanout is a different address either way. */
  def merkleHash(g: RdfGraph, fanout: Int = 4096,
      maxSteps: Long = 1000000L): String =
    merkleHashOfLines(canonicalLines(g, maxSteps), fanout)

  /** [[merkleHash]] over an existing `line` column — e.g. the text
    * frame read back from a [[writeCanonical]] directory, letting a
    * catalog verify a stored canonical document without re-canonizing
    * the graph. */
  def merkleHashOfLines(lines: org.apache.spark.sql.DataFrame,
      fanout: Int = 4096): String = {
    require(fanout >= 1 && fanout <= 4096 * 4096,
      s"fanout must be in [1, ${4096 * 4096}], got $fanout")
    val spark = lines.sparkSession
    import spark.implicits._
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    // ≤4096 buckets fit in 12 hash bits (3 hex chars) — the r14
    // derivation, kept so existing catalog roots are stable; wider
    // fanouts draw 24 bits. A fanout is an address space, so the two
    // derivations never have to agree.
    val hexChars = if (fanout <= 4096) 3 else 6
    val segDigests = lines
      .select((F.conv(
          F.substring(F.sha2(F.col("line"), 256), 1, hexChars), 16, 10)
        .cast("int") % fanout).as("bucket"), F.col("line"))
      .repartition(F.col("bucket"))
      .sortWithinPartitions("bucket", "line")
      .toDF("_1", "_2").as[(Int, String)]
      .mapPartitions { it =>
        // fold each contiguous bucket run into one streaming digest —
        // O(1) memory per task regardless of segment size
        val out = Seq.newBuilder[(Int, String)]
        var cur = -1
        var md: java.security.MessageDigest = null
        def flush(): Unit = if (md != null)
          out += ((cur, md.digest().map("%02x".format(_)).mkString))
        it.foreach { case (b, line) =>
          if (b != cur) {
            flush(); cur = b
            md = java.security.MessageDigest.getInstance("SHA-256")
          }
          // name the charset inside the task: Charset isn't serializable
          md.update(line.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          md.update('\n'.toByte)
        }
        flush()
        out.result().iterator
      }
    val rootLines: Array[(Int, String)] =
      if (fanout <= 4096) segDigests.collect().sortBy(_._1)
      else
        // two-level tree: 4096 consecutive leaf buckets per parent
        // node, each parent's child list digested DISTRIBUTED — the
        // driver serializes ≤4096 parent digests, never `fanout` lines
        segDigests.groupByKey(_._1 / 4096)
          .mapGroups { (parent, it) =>
            val md = java.security.MessageDigest.getInstance("SHA-256")
            it.toSeq.sortBy(_._1).foreach { case (b, d) =>
              md.update(s"$b:$d\n".getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
            }
            (parent, md.digest().map("%02x".format(_)).mkString)
          }
          .collect().sortBy(_._1)
    val root = java.security.MessageDigest.getInstance("SHA-256")
    rootLines.foreach { case (b, d) => root.update(s"$b:$d\n".getBytes(utf8)) }
    root.digest().map("%02x".format(_)).mkString
  }
}
