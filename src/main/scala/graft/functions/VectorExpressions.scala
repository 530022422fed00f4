package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the ANN vector hot path.
  *
  * The HOF formulations in VectorOps (transform / zip_with +
  * aggregate) are interpreted: one closure dispatch per element, 64×
  * per row per reference. These run the same exact-integer math in a
  * tight JVM loop. VectorOps keeps the HOF versions as executable
  * specifications; equivalence is asserted in VectorNativeSpec.
  *
  * Semantics contract (bit-identical to the HOF versions and the
  * DuckDB oracle): quantize = floor(double(x) * Q) per element (null
  * element → null element); qdot = Σ l(i)·r(i), NULL if lengths
  * differ or any touched element is null (zip_with pads the shorter
  * side with nulls and `+` propagates them — same outcome). */
object VectorNative {

  def quantize(v: ArrayData, q: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i))
        out(i) = math.floor(v.getFloat(i).toDouble * q).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Boxed Long so `null` can signal the zip_with-padding cases. */
  def qdot(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Count of agreeing slots between two signature arrays — the
    * native form of the HOF estimator
    * `aggregate(zip_with(a, b, (x,y) => when(x===y,1L).otherwise(0L)),
    *            0L, _+_)`.
    * Bit-identical semantics: zip_with pads the shorter side with
    * nulls and `when(null === y, …)` falls to the 0 branch, so a
    * length mismatch or a null element contributes 0 (NOT null) and
    * the count never nulls out — unlike [[qdot]]. Asserted equal to
    * the HOF form in VectorNativeSpec. */
  def sigAgree(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        acc += 1L
      i += 1
    }
    acc
  }
}

case class QuantizeVector(child: Expression, q: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType,
    child.dataType.asInstanceOf[ArrayType].containsNull)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "quantize_vector"

  override def nullSafeEval(input: Any): Any =
    VectorNative.quantize(input.asInstanceOf[ArrayData], q)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorNative.quantize($c, $q);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class QDotLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "qdot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = VectorNative.qdot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r == null) null else r.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Long ${ev.value}_boxed = graft.functions.VectorNative.qdot($a, $b);
      if (${ev.value}_boxed == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_boxed.longValue(); }""")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Signature-agreement count (see [[VectorNative.sigAgree]]) — the
  * verify-stage kernel of the minhash/OPH estimator families
  * (Dedup.estimated, StoreMaintenance.ophEstPpm). The HOF form it
  * replaces is CodegenFallback: one interpreted closure dispatch per
  * slot per candidate pair, K=64 per pair across every *_recall /
  * calibration / threshold-curve rung. Null only on null INPUT
  * arrays (null elements count 0, matching when-otherwise). */
case class SigAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "sig_agree"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorNative.sigAgree(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorNative.sigAgree($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codebook model for [[CentroidArgmin]]: ONE serialized object
  * holding all k centroids (ids may be sparse/non-contiguous), shipped
  * to executors as a single codegen reference instead of k plan-
  * literal expressions. This is what breaks the k ≈ √N ceiling of the
  * `least()`-over-literals argmin: that form's generated code grows
  * linearly with k and trips JVM method limits / codegen fallback
  * around k ≈ 10³, far below the k ≈ 10⁵ a 100 TB SemDedup needs —
  * here the plan size is O(1) in k and the per-row cost is the same
  * O(k·d) integer loop, minus k closure dispatches.
  *
  * `offset`/`width` select the sub-vector the centroids live in
  * (product-quantization encode scores subspace m against
  * v[m·width, (m+1)·width)); width 0 means "full vector".
  * Ranking contract (bit-identical to the literal form and the
  * DuckDB oracle): argmin of (normTerm + ‖c‖² − 2·v·c, cid) — ties
  * to the LOWEST cid; a null vector element or a width mismatch
  * yields NULL, matching zip_with's null propagation through
  * least(). */
final class CentroidModel(val cids: Array[Long],
    val cents: Array[Array[Long]], val offset: Int) extends Serializable {
  require(cids.length == cents.length && cids.nonEmpty)
  // a ragged codebook would otherwise surface as an executor-side
  // ArrayIndexOutOfBounds (or silent short reads) deep in argmin —
  // fail at construction on the driver instead
  require(cents.forall(_.length == cents(0).length),
    s"ragged codebook: centroid widths ${cents.map(_.length).distinct.mkString(",")}")
  private val norms: Array[Long] = cents.map { c =>
    var s = 0L; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }
  private val width: Int = cents(0).length

  /** Boxed so null can signal the HOF paths' null-propagation cases. */
  def argmin(v: ArrayData, normTerm: Long): java.lang.Long = {
    if (offset + width > v.numElements()) return null
    var i = offset
    while (i < offset + width) { if (v.isNullAt(i)) return null; i += 1 }
    var bestD = Long.MaxValue
    var bestC = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var dot = 0L; var x = 0
      while (x < width) { dot += v.getLong(offset + x) * c(x); x += 1 }
      val d = normTerm + norms(j) - 2L * dot
      if (d < bestD || (d == bestD && cids(j) < bestC)) {
        bestD = d; bestC = cids(j)
      }
      j += 1
    }
    java.lang.Long.valueOf(bestC)
  }
}

/** argmin_{cid} (normTerm + ‖c_cid‖² − 2·vec·c_cid) over a
  * [[CentroidModel]] codebook — the scale form of the per-centroid
  * plan-literal `least()` argmin (see Cluster.assign / Similarity
  * encode). normTerm is the candidate-constant part of the squared
  * distance (‖v‖² for a true L2 argmin; 0 when ranking only — the
  * PQ-encode case, where ‖x_m‖² is constant across candidates). */
case class CentroidArgmin(vec: Expression, norm: Expression,
    model: CentroidModel) extends BinaryExpression {
  override def left: Expression = vec
  override def right: Expression = norm
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "centroid_argmin"

  override def nullSafeEval(v: Any, n: Any): Any = {
    val r = model.argmin(v.asInstanceOf[ArrayData], n.asInstanceOf[Long])
    if (r == null) null else r.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroidModel", model,
      classOf[CentroidModel].getName)
    nullSafeCodeGen(ctx, ev, (v, n) => s"""
      java.lang.Long ${ev.value}_boxed = $m.argmin($v, $n);
      if (${ev.value}_boxed == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_boxed.longValue(); }""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(vec = l, norm = r)
}

/** Column-level API. */
object vectorNative {
  def quantize_vector(v: Column, q: Int): Column =
    ColumnBridge.column(QuantizeVector(ColumnBridge.expression(v), q))
  def qdot(a: Column, b: Column): Column =
    ColumnBridge.column(QDotLong(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))
  def sig_agree(a: Column, b: Column): Column =
    ColumnBridge.column(SigAgreeCount(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))
  def centroid_argmin(vec: Column, norm: Column, cids: Seq[Long],
      cents: Seq[Seq[Long]], offset: Int = 0): Column =
    ColumnBridge.column(CentroidArgmin(ColumnBridge.expression(vec),
      ColumnBridge.expression(norm),
      new CentroidModel(cids.toArray, cents.map(_.toArray).toArray, offset)))
}
