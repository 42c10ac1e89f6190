package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the sign-bit LSH bucket id of a numeric
  * vector: `planes` deterministic random-hyperplane projections, the sign
  * of each packed into one long.
  *
  * Hyperplane family is bit-identical to the HOF-composed form
  * (`aggregate(zip_with(vec, sequence, ...))` in
  * the test-scope `ComposedForms.signBits`): component (p, i) =
  * `(parseLong(md5Hex("p#i").take(15), 16) % 1e6) / 1e6 - 0.5` — the
  * same oracle-restatable md5 seed recipe as the CMS bucket matrix, so
  * DuckDB regenerates the exact plane matrix for the q_knn_lsh /
  * q_dedup_embed hash oracles. The per-plane fold accumulates doubles in
  * index order. Edge cases match the composed form exactly: a null
  * element poisons every plane's fold (composed `when(null >= 0)` falls
  * to `otherwise(0)`) → bucket 0; an EMPTY vector is also bucket 0 — the
  * composed `sequence(0, size-1)` degenerates to `[0, -1]` (descending
  * default step), zip_with null-pads, and the fold nulls out; a null
  * vector stays null (default nullable contract).
  *
  * Why native: the composed form lambda-evaluates planes·d multiplies
  * plus a per-component hash through three nested HOFs per plane — on
  * the hot path of `embeddingCosinePairs` (16 planes × 4 tables = 64
  * projections/row) and `knnJoin` that is the dominant cost. This loop
  * reads the vector once, keeps `planes` accumulators, reads plane
  * components from a per-executor cache (the md5 work happens once per
  * (plane, dim) per JVM, never per row), and stays inside whole-stage
  * codegen. */
case class SignBits(child: Expression, planes: Int, planeOffset: Int)
    extends UnaryExpression {
  require(planes >= 1 && planes <= 62, s"planes must be in [1,62], got $planes")
  require(planeOffset >= 0, s"planeOffset must be >= 0, got $planeOffset")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_bits needs array<float|double>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_bits"

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    SignBits.pack(input.asInstanceOf[ArrayData], isFloat, planes, planeOffset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.SignBits.pack($c, $isFloat, $planes, $planeOffset)")

  override protected def withNewChildInternal(newChild: Expression): SignBits =
    copy(child = newChild)
}

object SignBits {
  private val Mod = 1000000L

  /** md5-derived hyperplane component for global plane id `p`,
    * dimension `i`: top 60 bits of md5("p#i") mod 1e6, scaled to
    * [-0.5, 0.5). The DuckDB oracles replay this exact recipe. */
  def component(p: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = md.digest(s"$p#$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // top 60 bits = first 15 hex chars = first 7.5 bytes
    var h = 0L
    var b = 0
    while (b < 7) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
    h = (h << 4) | ((digest(7) & 0xf0L) >> 4)
    (h % Mod).toDouble / 1000000.0 - 0.5
  }

  /** Per-JVM cache of plane-component rows: plane id → components for
    * dims [0, len). Grown on demand (dims are fixed per corpus in
    * practice, so after the first row everything is an array read). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  private def comps(plane: Int, n: Int): Array[Double] = {
    val cur = planeCache.get(plane)
    if (cur != null && cur.length >= n) cur
    else {
      val len = math.max(n, 64)
      val grown = new Array[Double](len)
      var i = 0
      while (i < len) { grown(i) = component(plane, i); i += 1 }
      planeCache.put(plane, grown) // idempotent: pure function of (p, i)
      grown
    }
  }

  def pack(vec: ArrayData, isFloat: Boolean, planes: Int, planeOffset: Int): Long = {
    val n = vec.numElements()
    // empty: composed sequence(0,-1) null-pads the zip and nulls the fold
    if (n == 0) return 0L
    // a null element nulls every plane's fold in the composed form,
    // where when(null >= 0) falls through to otherwise(0) → bucket 0
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return 0L
      i += 1
    }
    val mats = new Array[Array[Double]](planes)
    var p = 0
    while (p < planes) {
      mats(p) = comps(planeOffset + p, n)
      p += 1
    }
    // element-outer: one read of each component, accumulation within a
    // plane still runs in index order → identical double rounding
    val acc = new Array[Double](planes)
    i = 0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      p = 0
      while (p < planes) {
        acc(p) += x * mats(p)(i)
        p += 1
      }
      i += 1
    }
    var bits = 0L
    p = 0
    while (p < planes) {
      if (acc(p) >= 0) bits |= 1L << p
      p += 1
    }
    bits
  }
}
