package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftnative.Native
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** An IVF coarse-quantizer codebook as a worker-side dimension:
  * centroid ids, vectors, and precomputed norms in ascending-cid
  * order. Shipped to executors as a Spark BROADCAST VARIABLE (torrent
  * blocks, fetched once per executor), NOT as a plan literal — a
  * production codebook (nlist ~ 65k x 64 doubles) embedded via
  * `typedLit` is ~33 M constants the analyzer and codegen must chew
  * per query; as a broadcast it is invisible to the plan. This is the
  * same placement FAISS uses: every worker holds the full codebook.
  *
  * Norms are the sequential self-dot fold ([[graft.vector.VectorOps
  * .seqDot]]), bit-equal to the in-plan and oracle forms.
  */
case class IvfCodebook(cids: Array[Long], vecs: Array[Array[Double]],
    norms: Array[Double]) {
  require(cids.length == vecs.length && cids.length == norms.length,
    s"codebook arrays disagree: ${cids.length}/${vecs.length}/${norms.length}")
  def size: Int = cids.length
}

/** The codebook expressions as Columns over one broadcast codebook:
  * each Column carries its own codebook, so two queries built in one
  * session never share one.
  */
object IvfCodebook {
  def ivfBestCid(v: Column, codebook: Broadcast[IvfCodebook]): Column =
    Native(e => IvfBestCid(e.head, codebook), v)
  def ivfProbe2(v: Column, codebook: Broadcast[IvfCodebook]): Column =
    Native(e => IvfProbe2(e.head, codebook), v)
  def ivfResidual(v: Column, codebook: Broadcast[IvfCodebook]): Column =
    Native(e => IvfResidual(e.head, codebook), v)
}

/** Scalar twins of the q43/q52 codebook-fold columns — the SAME
  * FP-op and rounding sequence, so swapping the `aggregate` fold for
  * these changes no oracle-checked value (pinned bit-for-bit by
  * IvfCodebookSpec against the fold form):
  *
  *   - dot products are the left-to-right multiply-add fold of
  *     [[VecUtil.dotF64]] / DuckDB `list_sum`;
  *   - the score is `round((dot / (nv * cnorm)) * 1e6)` cast to long,
  *     with `round` replicating Spark's `Round(HALF_UP)` on doubles
  *     (decimal-string BigDecimal, NaN/Inf passed through, then the
  *     non-ANSI double->long truncation);
  *   - argmax keeps the FIRST max over ascending-cid order (strict >),
  *     reproducing the oracle's (ccos DESC, cid ASC) row_number pick.
  */
object IvfUtil {

  /** Spark `round(x).cast("long")` on a double, exactly: `Round` uses
    * the decimal string form (`BigDecimal.valueOf`) with HALF_UP and
    * passes NaN/Inf through; the non-ANSI cast then truncates.
    */
  def roundToLong(x: Double): Long =
    if (x.isNaN || x.isInfinite) x.toLong
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** Rounded-e6 cosine of row vector `v` (norm `nv` staged once per
    * row) against one codebook entry.
    */
  private def cosE6(v: ArrayData, nv: Double, cv: Array[Double],
      cnorm: Double): Long = {
    val n = cv.length
    require(v.numElements() == n,
      s"ivf: vector length ${v.numElements()} != codebook dim $n")
    var acc = 0.0
    var i = 0
    while (i < n) { acc += v.getDouble(i) * cv(i); i += 1 }
    roundToLong((acc / (nv * cnorm)) * 1e6)
  }

  private def selfNorm(v: ArrayData): Double = {
    val n = v.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); acc += x * x; i += 1 }
    math.sqrt(acc)
  }

  /** Index of the max-cosine centroid (first-max tie rule over
    * ascending cid), -1 on an empty codebook — the shared argmax of
    * [[bestCid]] and [[residual]].
    */
  private def bestIdx(v: ArrayData, cb: IvfCodebook): Int = {
    val nv = selfNorm(v)
    var bestCos = Long.MinValue
    var best = -1
    var k = 0
    while (k < cb.size) {
      val c = cosE6(v, nv, cb.vecs(k), cb.norms(k))
      if (c > bestCos) { bestCos = c; best = k }
      k += 1
    }
    best
  }

  /** Argmax-cosine centroid id of `v` — the map-only IVF assignment. */
  def bestCid(v: ArrayData, cb: IvfCodebook): Long = {
    val i = bestIdx(v, cb)
    if (i < 0) -1L else cb.cids(i)
  }

  /** The residual of `v` against its max-cosine centroid: v - c. The
    * coarse-assign half of residual product quantization (FAISS
    * IVFPQ's encode path: PQ codes the residual, which is far more
    * concentrated around zero than the raw vector, so the same k sub-
    * centroids quantize it with much lower error). Same argmax/tie
    * rule as [[bestCid]]; plain elementwise double subtraction.
    */
  def residual(v: ArrayData, cb: IvfCodebook): ArrayData = {
    val i = bestIdx(v, cb)
    // bestCid/probe2 degrade to sentinel ids on an empty codebook; a
    // residual has no sentinel — fail loud, not AIOOBE in codegen
    require(i >= 0, "ivf_residual: empty codebook — no centroid to subtract")
    val cv = cb.vecs(i)
    val out = new Array[Double](cv.length)
    var j = 0
    while (j < cv.length) { out(j) = v.getDouble(j) - cv(j); j += 1 }
    new GenericArrayData(out)
  }

  /** Top-2 centroid ids of `v` (the probe lists), same tie order as
    * the fold it replaces: first max wins, runner-up seeded at -2.
    */
  def probe2(v: ArrayData, cb: IvfCodebook): ArrayData = {
    val nv = selfNorm(v)
    var c1 = Long.MinValue; var c1id = -1L
    var c2 = Long.MinValue; var c2id = -2L
    var k = 0
    while (k < cb.size) {
      val c = cosE6(v, nv, cb.vecs(k), cb.norms(k))
      if (c > c1) { c2 = c1; c2id = c1id; c1 = c; c1id = cb.cids(k) }
      else if (c > c2) { c2 = c; c2id = cb.cids(k) }
      k += 1
    }
    new GenericArrayData(Array(c1id, c2id))
  }
}

/** Shared shape of the two codebook expressions: array<double> in,
  * the broadcast codebook read once per generated-class instance
  * (per task), one static scalar call per row inside whole-stage
  * codegen. The plan carries only the broadcast HANDLE — O(1) in the
  * expression tree regardless of nlist.
  */
abstract class IvfCodebookExpression extends UnaryExpression {
  def codebook: Broadcast[IvfCodebook]

  /** Interpreted-path cache: `Broadcast.value` is a soft-ref lookup
    * per call — resolve it once per deserialized expression instance.
    */
  @transient protected lazy val cb: IvfCodebook = codebook.value

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.catalogString}")
  }

  /** The generated-code variable holding the resolved codebook:
    * `Broadcast.value()` runs once in the class initializer, the
    * per-row call sites read a plain field.
    */
  protected def codebookVar(ctx: CodegenContext): String = {
    val bcRef = ctx.addReferenceObj("ivfCodebookBc", codebook,
      classOf[Broadcast[_]].getName)
    ctx.addMutableState("graft.functions.IvfCodebook", "ivfCodebook",
      v => s"$v = (graft.functions.IvfCodebook) $bcRef.value();")
  }
}

/** `ivf_best_cid(v)`: the max-cosine centroid id of `v` over the
  * broadcast codebook — zero joins, zero shuffles, the assignment
  * rides the scan.
  */
case class IvfBestCid(child: Expression, codebook: Broadcast[IvfCodebook])
    extends IvfCodebookExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "ivf_best_cid"

  override protected def nullSafeEval(input: Any): Any =
    IvfUtil.bestCid(input.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbVar = codebookVar(ctx)
    defineCodeGen(ctx, ev, c => s"graft.functions.IvfUtil.bestCid($c, $cbVar)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfBestCid =
    copy(child = newChild)
}

/** `ivf_residual(v)`: v minus its max-cosine centroid — the coarse
  * half of residual PQ, map-only like the other codebook expressions.
  */
case class IvfResidual(child: Expression, codebook: Broadcast[IvfCodebook])
    extends IvfCodebookExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "ivf_residual"

  override protected def nullSafeEval(input: Any): Any =
    IvfUtil.residual(input.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbVar = codebookVar(ctx)
    defineCodeGen(ctx, ev, c => s"graft.functions.IvfUtil.residual($c, $cbVar)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfResidual =
    copy(child = newChild)
}

/** `ivf_probe2(v)`: the 2 nearest centroid ids of `v` (the IVF probe
  * lists), as array<long>.
  */
case class IvfProbe2(child: Expression, codebook: Broadcast[IvfCodebook])
    extends IvfCodebookExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ivf_probe2"

  override protected def nullSafeEval(input: Any): Any =
    IvfUtil.probe2(input.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbVar = codebookVar(ctx)
    defineCodeGen(ctx, ev, c => s"graft.functions.IvfUtil.probe2($c, $cbVar)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbe2 =
    copy(child = newChild)
}
