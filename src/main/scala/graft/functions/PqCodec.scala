package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftnative.Native
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** A product-quantization codebook as a worker-side dimension: the
  * full-dim centroid vectors in ascending-cid order, read per
  * subspace slice. PQ is the memory half of the classic IVF+PQ ANN
  * index: a d-dim float vector becomes `m` small ints (one per
  * d/m-dim subspace, the index of its nearest sub-centroid), cutting
  * 10^11 x 64-dim doubles (~51 TB) to 8-byte codes (~800 GB) that fit
  * an executor cache tier — searches then score codes against a
  * query without touching the original vectors (ADC). Shipped as a
  * broadcast variable like [[IvfCodebook]]; the plan carries O(1)
  * regardless of centroid count.
  *
  * Codes are the centroid's 0-based POSITION in ascending-cid order
  * (canonical PQ form; the oracle reproduces it as
  * `row_number() OVER (ORDER BY cid) - 1`).
  */
case class PqCodebook(m: Int, dsub: Int, cents: Array[Array[Double]]) {
  require(cents.forall(_.length == m * dsub),
    s"centroid dim != m*dsub = ${m * dsub}")
  def k: Int = cents.length
}

/** The PQ expressions as Columns over one broadcast codebook, which
  * each Column carries.
  */
object PqCodebook {
  def pqEncode(v: Column, codebook: Broadcast[PqCodebook]): Column =
    Native(e => PqEncode(e.head, codebook), v)
  def pqAdcE6(codes: Column, q: Column, codebook: Broadcast[PqCodebook]): Column =
    Native(e => PqAdcE6(e(0), e(1), codebook), codes, q)
}

/** Scalar kernels of the PQ path. All distances are the sequential
  * left-to-right fold of squared differences over the subspace slice
  * — the exact FP sequence of the oracle's `list_sum` over the
  * squared-diff list — and argmins keep the FIRST minimum over
  * ascending-cid order (strict <), matching the oracle's
  * (dist ASC, cid ASC) row_number pick. ADC scores are rounded e6
  * longs via the shared Spark-round twin [[IvfUtil.roundToLong]].
  */
object PqUtil {

  /** Squared L2 between `v`'s and `c`'s subspace-`j` slices. */
  private def subL2(v: ArrayData, c: Array[Double], j: Int, dsub: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < dsub) {
      val d = v.getDouble(j * dsub + i) - c(j * dsub + i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** PQ-encode: per subspace, the 0-based index of the nearest
    * sub-centroid.
    */
  def encode(v: ArrayData, cb: PqCodebook): ArrayData = {
    require(v.numElements() == cb.m * cb.dsub,
      s"pq_encode: vector dim ${v.numElements()} != ${cb.m * cb.dsub}")
    val out = new Array[Long](cb.m)
    var j = 0
    while (j < cb.m) {
      var best = Double.MaxValue
      var bestK = -1L
      var k = 0
      while (k < cb.k) {
        val d = subL2(v, cb.cents(k), j, cb.dsub)
        if (d < best) { best = d; bestK = k.toLong }
        k += 1
      }
      out(j) = bestK
      j += 1
    }
    new GenericArrayData(out)
  }

  /** ADC (asymmetric distance computation): the approximate squared
    * L2 between raw query `q` and a CODED vector = the sum over
    * subspaces of the exact sub-distance to the coded centroid —
    * m table lookups + m*dsub multiply-adds, never touching the
    * original vector. Rounded e6 long.
    */
  def adcE6(codes: ArrayData, q: ArrayData, cb: PqCodebook): Long = {
    require(codes.numElements() == cb.m,
      s"pq_adc_e6: code length ${codes.numElements()} != m=${cb.m}")
    require(q.numElements() == cb.m * cb.dsub,
      s"pq_adc_e6: query dim ${q.numElements()} != ${cb.m * cb.dsub}")
    var acc = 0.0
    var j = 0
    while (j < cb.m) {
      acc += subL2(q, cb.cents(codes.getLong(j).toInt), j, cb.dsub)
      j += 1
    }
    IvfUtil.roundToLong(acc * 1e6)
  }
}

/** `pq_encode(v)`: the m-entry PQ code of an array<double> vector —
  * map-only, zero shuffle, broadcast codebook (see [[PqCodebook]]).
  */
case class PqEncode(child: Expression, codebook: Broadcast[PqCodebook])
    extends UnaryExpression {

  @transient private lazy val cb: PqCodebook = codebook.value

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(input: Any): Any =
    PqUtil.encode(input.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("pqCodebookBc", codebook,
      classOf[Broadcast[_]].getName)
    val cbVar = ctx.addMutableState("graft.functions.PqCodebook", "pqCodebook",
      v => s"$v = (graft.functions.PqCodebook) $bcRef.value();")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqUtil.encode($c, $cbVar)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** `pq_adc_e6(codes, qv)`: rounded-e6 ADC squared distance between a
  * PQ code array and a raw query vector.
  */
case class PqAdcE6(left: Expression, right: Expression,
    codebook: Broadcast[PqCodebook]) extends BinaryExpression {

  @transient private lazy val cb: PqCodebook = codebook.value

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc_e6 requires (array<bigint> codes, array<double> query), " +
          s"got ${l.catalogString} and ${r.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc_e6"

  override protected def nullSafeEval(codes: Any, q: Any): Any =
    PqUtil.adcE6(codes.asInstanceOf[ArrayData], q.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("pqCodebookBc", codebook,
      classOf[Broadcast[_]].getName)
    val cbVar = ctx.addMutableState("graft.functions.PqCodebook", "pqCodebook",
      v => s"$v = (graft.functions.PqCodebook) $bcRef.value();")
    defineCodeGen(ctx, ev,
      (c, q) => s"graft.functions.PqUtil.adcE6($c, $q, $cbVar)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcE6 =
    copy(left = newLeft, right = newRight)
}
