// Lives under org.apache.spark.sql for private[sql] plumbing (see
// CleanTextExpr). Public facade: graft.functions.native_fns.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Fused product-quantization kernels (r15 ANN optimization).
  *
  * The PQ codebook is KB-sized model state (m subspaces x |codebook|
  * subvectors). Expressing the per-row encode/distance-table against it
  * as a composed Catalyst tree (one `quantized_dot` + struct per
  * codebook entry, m·|codebook| of them) made the EXPRESSION the
  * bottleneck — not at execution but at PLANNING: constraint
  * propagation (PruneFilters et al.) re-canonicalizes every Project
  * alias's full subtree per rule iteration, measured at 2.4-3 s per
  * action for x_ann_pq_topk's ~2000-node tree (planning timed alone,
  * RuleExecutor dump; guide §7.3 "planning time itself can become the
  * bottleneck"). These expressions carry the codebook as a PARAMETER —
  * one plan node, zero planning blow-up — and run the m x |codebook|
  * dot products as one fused primitive loop per row (the QuantizedDot
  * discipline: no allocation per entry, primitive getLong access,
  * real codegen via a reference object).
  *
  * Numeric/ordering contract (bit-identical to the composed form):
  *   - subvector s of v = v[s·(len/m), s·(len/m)+len/m) (integer
  *     division, trailing remainder dropped — `slice` semantics);
  *   - dot runs over min(subLen, |cvec|) elements (QuantizedDot's
  *     ragged-length rule);
  *   - encode argmin key: d = (double)Σc² − 2.0·(double)dot, ties to
  *     the lowest code id (array_min/min_by struct(d, code) order);
  *     all terms are exact integers in double, no NaN possible;
  *   - qtable distance: ((double)Σa² − 2.0·(double)dot) + (double)Σc²
  *     — sqDistQ's exact left-associated op order.
  */
abstract class PqKernelBase extends UnaryExpression with ExpectsInputTypes {
  def codes: Array[Long]                 // sorted ascending
  def mat: Array[Array[Array[Long]]]     // mat(s)(ci) = subvector

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))

  @transient protected lazy val m: Int = mat.length
  // Σc² per (sub, code) — plan-time constants, exactly the folded
  // lit(cc) of the composed form
  @transient protected lazy val ccs: Array[Array[Long]] =
    mat.map(_.map(_.map(x => x * x).sum))

  protected def dotMin(x: ArrayData, start: Int, subLen: Int,
                       cvec: Array[Long]): Long = {
    val n = math.min(subLen, cvec.length)
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(start + i) * cvec(i); i += 1 }
    acc
  }
}

/** codes-by-subspace: array<long> of length m, entry s = the nearest
  * codebook entry's code id for subvector s (posexplode recovers the
  * (sub, code) rows the composed form produced).
  */
case class PqEncode(child: Expression, codes: Array[Long],
                    mat: Array[Array[Array[Long]]]) extends PqKernelBase {
  require(mat.nonEmpty && mat.forall(_.length == codes.length),
    "codebook must have >= 1 subspace and one subvector per code")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_encode"

  def encode(x: ArrayData): ArrayData = {
    val subLen = x.numElements() / m
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      val row = mat(s)
      val cc = ccs(s)
      var bestD = Double.PositiveInfinity
      var bestC = 0L
      var ci = 0
      while (ci < row.length) {
        val d = cc(ci).toDouble -
          2.0 * dotMin(x, s * subLen, subLen, row(ci)).toDouble
        // strict <: codes ascend, so ties keep the lowest code id
        if (d < bestD) { bestD = d; bestC = codes(ci) }
        ci += 1
      }
      out(s) = bestC
      s += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $ref.encode($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Per-query ADC distance table: array<struct<sub:int, code:long,
  * qd:double>> with one entry per (subspace, codebook entry) — the
  * m·|codebook| rows the composed explode produced, in the same
  * (sub asc, code asc) order.
  */
case class PqQTable(child: Expression, codes: Array[Long],
                    mat: Array[Array[Array[Long]]]) extends PqKernelBase {
  require(mat.nonEmpty && mat.forall(_.length == codes.length),
    "codebook must have >= 1 subspace and one subvector per code")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sub", IntegerType, nullable = false),
    StructField("code", LongType, nullable = false),
    StructField("qd", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "pq_qtable"

  def table(x: ArrayData): ArrayData = {
    val subLen = x.numElements() / m
    val out = new Array[Any](m * codes.length)
    var s = 0
    var k = 0
    while (s < m) {
      val start = s * subLen
      // Σa² over the subvector — shared across this subspace's entries
      // (the composed form computed dotQ(sv, sv) per entry; identical
      // value, exact integer)
      var aa = 0L
      var i = 0
      while (i < subLen) {
        val v = x.getLong(start + i); aa += v * v; i += 1
      }
      val row = mat(s)
      val cc = ccs(s)
      var ci = 0
      while (ci < row.length) {
        val qd = (aa.toDouble -
          2.0 * dotMin(x, start, subLen, row(ci)).toDouble) +
          cc(ci).toDouble
        out(k) = InternalRow(s, codes(ci), qd)
        ci += 1; k += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = table(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqQTable", this, classOf[PqQTable].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $ref.table($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqQTable =
    copy(child = newChild)
}

object PqExprs {
  def pq_encode(v: Column, codes: Array[Long],
                mat: Array[Array[Array[Long]]]): Column =
    ExpressionUtils.column(PqEncode(ExpressionUtils.expression(v), codes, mat))
  def pq_qtable(v: Column, codes: Array[Long],
                mat: Array[Array[Array[Long]]]): Column =
    ExpressionUtils.column(PqQTable(ExpressionUtils.expression(v), codes, mat))
}
