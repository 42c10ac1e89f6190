package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, Row, functions => F}
import graft.rdf.Terms

/** The part-file layout of the distributed RDF document writers
  * ([[Trig.write]], and through it [[Turtle.write]], [[RdfXml.write]]
  * and [[JsonLd.write]]). The rows of one (graph, subject) group
  * co-locate through a hash repartition and sort within their partition
  * only, so each part streams one block per group with no global sort
  * and no driver materialization. Each non-empty part is framed as a
  * standalone document whose graphs union to the store, and
  * [[Sidecar.readParts]] reads the directory back as one document in
  * name order. */
private[sources] object PartFiles {

  /** Write `rows` (term columns s, p, o and an optional g; a missing g
    * is the default graph) as text parts under `path`. `block` renders
    * one group's rows, each laid out (s, p, o, g) and sorted by (p, o);
    * every block but a part's last is followed by `sep`, and a
    * non-empty part opens with `open` and closes with `close`.
    * `numPartitions = 0` keeps the session's shuffle partitioning. */
  def write(rows: DataFrame, path: String, numPartitions: Int,
      open: Option[String] = None, sep: String = "",
      close: Option[String] = None)(block: Seq[Row] => String): Unit = {
    val g =
      if (rows.columns.contains("g")) F.col("g")
      else F.lit(null).cast(Terms.termType).as("g")
    val quads = rows.select(F.col("s"), F.col("p"), F.col("o"), g)
    val key = Seq(F.col("g"), F.col("s"))
    val parts =
      if (numPartitions > 0) quads.repartition(numPartitions, key: _*)
      else quads.repartition(key: _*)
    parts.sortWithinPartitions("g", "s", "p", "o").mapPartitions { it =>
      val buf = it.buffered
      val blocks = new Iterator[String] {
        def hasNext: Boolean = buf.hasNext
        def next(): String = {
          val head = buf.head
          val group = Seq.newBuilder[Row]
          while (buf.hasNext && buf.head.get(3) == head.get(3) &&
              buf.head.get(0) == head.get(0)) group += buf.next()
          val text = block(group.result())
          if (buf.hasNext) text + sep else text
        }
      }
      if (blocks.hasNext) open.iterator ++ blocks ++ close.iterator
      else Iterator.empty
    }(Encoders.STRING).write.mode("overwrite").text(path)
  }
}
