package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one codec for the small files stored beside parquet data: the
  * JSON sidecars of the six stored indexes and of [[GraphStore]], plus
  * the store's `_lock` and compaction manifest. Its text [[read]] also
  * serves the driver-side document parsers (Turtle LOAD, RDF/XML), and
  * [[readParts]] reads a Turtle, TriG or JSON-LD document that is one
  * file or a directory of part files.
  *
  * IO goes through the directory's Hadoop FileSystem, never java.nio: a
  * 100 TB store lives on HDFS/S3 and its parquet already travels that
  * API, while `java.nio.file.Paths` reads a `file:` or `hdfs:` URI as a
  * relative local path. A local path resolves to the checksummed
  * LocalFileSystem, so each sidecar gets a `.<name>.crc` beside it, which
  * Spark's reader skips like every dot file.
  *
  * JSON goes through Jackson's tree model (on Spark's own classpath).
  * Decimals parse as BigDecimal and narrow once, so a Float or Double
  * written by its `toString` reads back bit-identical (a zero reads as
  * +0.0). Parsing a Float's text as a double and narrowing that rounds
  * twice: on JDK 17 it misreads `7.038531E-26` by one ulp. */
private[graft] object Sidecar {

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
  private val nf = JsonNodeFactory.instance

  /** Text of `dir/name`, or None when there is no such file. */
  def read(conf: Configuration, dir: String, name: String): Option[String] =
    read(conf, new Path(dir, name))

  /** Text of the file at `p`, or None when there is no such file. */
  def read(conf: Configuration, p: Path): Option[String] = {
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None else Some(text(fs, p))
  }

  /** The text of the file at `path`, or the texts of a directory's
    * visible files (names not starting with `_` or `.`) in name order:
    * the parts of a distributed document ([[PartFiles]]), which its
    * reader folds as one document with one blank-node scope. */
  def readParts(conf: Configuration, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (!fs.getFileStatus(p).isDirectory) Seq(p)
      else fs.listStatus(p).toSeq
        .filter { st => val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".") }
        .map(_.getPath).sortBy(_.getName)
    files.map(text(fs, _))
  }

  private def text(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Write `text` to `dir/name`. `overwrite = false` is create-exclusive:
    * an existing file fails the call with an IOException. */
  def write(conf: Configuration, dir: String, name: String, text: String,
      overwrite: Boolean = true): Unit = {
    val p = new Path(dir, name)
    val out = p.getFileSystem(conf).create(p, overwrite)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** One JSON object of `fields`, in order. A value is a String, Int,
    * Long, Float, Double or Boolean, or a Seq of values. */
  def encode(fields: (String, Any)*): String = {
    def node(v: Any): JsonNode = v match {
      case s: String => nf.textNode(s)
      case i: Int => nf.numberNode(i)
      case l: Long => nf.numberNode(l)
      case f: Float => nf.numberNode(f)
      case d: Double => nf.numberNode(d)
      case b: Boolean => nf.booleanNode(b)
      case s: Seq[_] => val a = nf.arrayNode(); s.foreach(x => a.add(node(x))); a
    }
    val o = nf.objectNode()
    for ((k, v) <- fields) o.set[JsonNode](k, node(v))
    mapper.writeValueAsString(o)
  }

  /** [[encode]] `fields` into `dir/name` on the session's Hadoop FS. */
  def save(spark: SparkSession, dir: String, name: String,
      fields: (String, Any)*): Unit =
    write(spark.sparkContext.hadoopConfiguration, dir, name,
      encode(fields: _*))

  /** Decode the JSON object in `dir/name` with `parse`. None when there
    * is no such file; an IllegalArgumentException naming `kind` and the
    * path when the text is no JSON object or `parse` rejects it. */
  def loadOpt[T](spark: SparkSession, dir: String, name: String,
      kind: String)(parse: JsonNode => T): Option[T] =
    read(spark.sparkContext.hadoopConfiguration, dir, name).map { text =>
      try {
        val j = mapper.readTree(text)
        require(j != null && j.isObject, "not a JSON object")
        parse(j)
      } catch {
        case NonFatal(e) => throw new IllegalArgumentException(
          s"not $kind (bad $name): ${new Path(dir, name)}", e)
      }
    }

  /** [[loadOpt]] for a sidecar that must exist. */
  def load[T](spark: SparkSession, dir: String, name: String,
      kind: String)(parse: JsonNode => T): T =
    loadOpt(spark, dir, name, kind)(parse).getOrElse(
      throw new IllegalArgumentException(
        s"not $kind (no $name): ${new Path(dir, name)}"))

  /** Typed reads for `parse`: an absent or mistyped value fails, and
    * [[loadOpt]] turns the failure into one naming the sidecar. */
  implicit final class Json(private val j: JsonNode) extends AnyVal {
    def str(f: String): String = field(f)(_.isTextual).textValue
    def int(f: String): Int =
      field(f)(n => n.isIntegralNumber && n.canConvertToInt).intValue
    def long(f: String): Long = field(f)(integral).longValue
    def double(f: String): Double = field(f)(_.isNumber).doubleValue
    def bool(f: String): Boolean = field(f)(_.isBoolean).booleanValue
    def arr(f: String): Seq[JsonNode] = field(f)(_.isArray).arr
    def arr: Seq[JsonNode] = checked(j, "array")(_.isArray).asScala.toSeq
    def keys: Seq[String] = j.fieldNames.asScala.toSeq
    def floats: Seq[Float] = arr.map(number(_).floatValue)
    def doubles: Seq[Double] = arr.map(number(_).doubleValue)
    def longs: Seq[Long] = arr.map(checked(_, "integer")(integral).longValue)
    private def field(f: String)(ok: JsonNode => Boolean): JsonNode =
      checked(j.get(f), s"field '$f'")(ok)
  }

  private def integral(n: JsonNode) = n.isIntegralNumber && n.canConvertToLong
  private def number(n: JsonNode) = checked(n, "number")(_.isNumber)

  private def checked(n: JsonNode, what: String)(
      ok: JsonNode => Boolean): JsonNode = {
    require(n != null && ok(n), s"$what is absent or mistyped")
    n
  }
}
