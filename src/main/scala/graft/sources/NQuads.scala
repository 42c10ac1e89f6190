package graft.sources

import org.apache.spark.sql.{Row, SparkSession, functions => F}
import graft.rdf._

/** Distributed N-Quads reader/writer — the line-delimited text format
  * that CAN round-trip a quad store's named graphs (Turtle and
  * N-Triples cannot; their sinks emit the default graph only). Same
  * 100 TB posture as [[NTriples]]: line-splittable, each line parses
  * independently in a narrow map, no shuffle, no driver involvement.
  *
  * Per the N-Quads grammar, the graph label is OPTIONAL: a three-term
  * line is a default-graph statement (g null), a four-term line names
  * its graph. The writer mirrors that — default-graph rows serialize
  * as plain triples, so an all-default quad store writes valid
  * N-Triples too. */
object NQuads {

  /** One line → (s, p, o, g|null), sharing [[NTriples.parseTerm]]. */
  def parseLine(line: String): Option[Row] = {
    val t = line.trim
    if (t.isEmpty || t.startsWith("#")) None
    else {
      val (s, p1) = NTriples.parseTerm(t, 0)
      val (p, p2) = NTriples.parseTerm(t, p1)
      val (o, p3) = NTriples.parseTerm(t, p2)
      var i = p3
      while (i < t.length &&
        (t.charAt(i) == ' ' || t.charAt(i) == '\t')) i += 1
      val (g, after) =
        if (i < t.length && t.charAt(i) != '.') {
          val (gt, p4) = NTriples.parseTerm(t, i)
          require(gt.getByte(0) == graft.rdf.Terms.KIND_IRI ||
            gt.getByte(0) == graft.rdf.Terms.KIND_BLANK,
            s"graph label must be an IRI or blank node: $t")
          (gt, p4)
        } else (null, i)
      NTriples.requireStatement(t, s, p, after)
      Some(Row(s, p, o, g))
    }
  }

  private def quadType = org.apache.spark.sql.types.StructType(
    Terms.tripleType.fields :+ org.apache.spark.sql.types.StructField(
      "g", Terms.termType, nullable = true))

  /** Read .nq / .nq.gz into a QUAD store (g null = default graph). */
  /** Strict/lenient line contract, same as [[NTriples.parseLineChecked]]. */
  def parseLineChecked(line: String, lenient: Boolean): Option[Row] =
    try parseLine(line)
    catch {
      case e if scala.util.control.NonFatal(e) =>
        if (lenient) None
        else throw new graft.GraftException(
          s"malformed N-Quads line: $line", e)
    }

  /** Structured-Streaming N-Quads ingest — the named-graph twin of
    * [[NTriples.readStream]], with the same strict/lenient line
    * contract and the same no-dedup caveat (bound set semantics
    * downstream with a watermark, or merge per micro-batch via
    * `foreachBatch`). */
  def readStream(spark: SparkSession, path: String,
      lenient: Boolean = false,
      sourceOptions: Map[String, String] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rowEnc = org.apache.spark.sql.Encoders.row(quadType)
    // see NTriples.readStream: file-source knobs for long-running
    // ingest (maxFilesPerTrigger batch sizing, cleanSource lifecycle)
    spark.readStream.options(sourceOptions).text(path).as[String]
      .flatMap(parseLineChecked(_, lenient))(rowEnc)
  }

  /** Read .nq / .nq.gz. Strict by default — a malformed line fails the
    * read naming the line; `lenient = true` skips malformed lines. */
  def read(spark: SparkSession, path: String,
      lenient: Boolean = false): RdfGraph = {
    val lines = spark.read.textFile(path)
    val rows = lines.rdd.flatMap(parseLineChecked(_, lenient))
    val df = spark.createDataFrame(rows, quadType)
      .dropDuplicates("s", "p", "o", "g")
    RdfGraph(df, RdfGraph.defaultPrefixes)
  }

  /** Distributed N-Quads sink: named-graph rows carry their graph term,
    * default-graph rows serialize as plain triples. A triple-only graph
    * writes as all-default (valid N-Quads AND valid N-Triples). */
  def write(g: RdfGraph, path: String): Unit = {
    // concat_ws skips the NULL text of a default-graph row's g
    val terms = Seq("s", "p", "o") ++ (if (g.isQuads) Seq("g") else Nil)
    g.triples.select(F.concat_ws(" ",
      terms.map(c => Terms.ntText(F.col(c))) :+ F.lit("."): _*))
      .write.mode("overwrite").text(path)
  }
}
