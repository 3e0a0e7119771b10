package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftnative.Native
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch as a distributed build-aggregate + map-side query
  * pair — the frequency twin of [[BloomBuild]]/[[BloomProbe]]'s
  * membership pair. A d x w counter grid replaces an exact
  * per-key count: update increments one counter per row (d hashed
  * positions), the estimate is the MINIMUM over a key's d counters —
  * never an underestimate (every occurrence incremented all d), only
  * collision overestimates, which shrink as w grows. At 100 TB the
  * win is fixed state: heavy-hitter frequency over 10^11 keys in
  * d*w*8 bytes (32 KB at 4x1024) where an exact groupBy count
  * shuffles and holds every distinct key; the exchange carries one
  * grid per task and merge is elementwise addition — commutative,
  * associative, partitioning-independent (spec-asserted
  * byte-identical).
  *
  * Counter positions hash through the house md5-60-bit convention
  * (`HashUtil.md5Long60`, DuckDB twin `md5IntSql`) so the oracle
  * recomputes the exact same grid cell-by-cell; a production tuning
  * would swap in splitmix64 double hashing (the [[BloomUtil.mix64]]
  * pair) for ~10x cheaper updates at the cost of SQL replayability.
  */
object CmsUtil {

  /** Row j's counter index for a key: md5-60-bit of "cms<j>:<key>"
    * mod w — non-negative, engine-portable.
    */
  def idx(j: Int, key: Long, w: Int): Int =
    (HashUtil.md5Long60(UTF8String.fromString(s"cms$j:$key")) % w).toInt

  /** Serialized layout: [w:int][d:int][counts: d*w longs, row-major]. */
  def toBytes(counts: Array[Long], w: Int, d: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * counts.length)
    bb.putInt(w).putInt(d)
    var i = 0
    while (i < counts.length) { bb.putLong(counts(i)); i += 1 }
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): (Array[Long], Int, Int) = {
    val bb = ByteBuffer.wrap(bytes)
    val w = bb.getInt
    val d = bb.getInt
    val counts = new Array[Long](w * d)
    var i = 0
    while (i < counts.length) { counts(i) = bb.getLong; i += 1 }
    (counts, w, d)
  }

  def estimate(counts: Array[Long], w: Int, d: Int, key: Long): Long = {
    var min = Long.MaxValue
    var j = 0
    while (j < d) {
      val c = counts(j * w + idx(j, key, w))
      if (c < min) min = c
      j += 1
    }
    min
  }
}

/** Mutable build buffer: the counter grid plus its geometry. The
  * two-arg form allocates; the three-arg form ADOPTS an existing
  * grid (deserialize already built one — re-allocating and copying
  * a 32 MB grid per merged partial would double the exchange-side
  * allocation).
  */
final class CmsBuffer(val w: Int, val d: Int, val counts: Array[Long]) {
  def this(w: Int, d: Int) = this(w, d, new Array[Long](w * d))
  def add(key: Long): Unit = {
    var j = 0
    while (j < d) { counts(j * w + CmsUtil.idx(j, key, w)) += 1; j += 1 }
  }
  def plus(other: CmsBuffer): Unit = {
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
  }
}

/** `cms_build(key, <int literal w>, <int literal d>)`: the serialized
  * Count-Min sketch of a group's BIGINT keys. A true partial
  * aggregate: each task fills a local grid, the exchange carries one
  * grid per task (not the keys), merge is elementwise addition.
  */
case class CmsBuild(key: Expression, w: Int, d: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CmsBuffer] {

  override def children: Seq[Expression] = Seq(key)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "cms_build"

  override def checkInputDataTypes(): TypeCheckResult =
    if (w < 16 || w > (1 << 22))
      TypeCheckResult.TypeCheckFailure(
        s"cms_build requires 16 <= w <= 2^22, got $w")
    else if (d < 1 || d > 16)
      TypeCheckResult.TypeCheckFailure(s"cms_build requires 1 <= d <= 16, got $d")
    else if (w.toLong * d > (1L << 22))
      // every task allocates (and every exchange row carries) the full
      // grid: cap the combined size at 4M counters / 32 MB — the bloom
      // cap's role; w and d alone would admit a 2 GB buffer
      TypeCheckResult.TypeCheckFailure(
        s"cms_build grid w*d = ${w.toLong * d} exceeds 2^22 counters " +
          "(32 MB per task buffer) — shrink w or d")
    else key.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cms_build requires a bigint key, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): CmsBuffer = new CmsBuffer(w, d)

  override def update(buffer: CmsBuffer, input: InternalRow): CmsBuffer = {
    val v = key.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: CmsBuffer, other: CmsBuffer): CmsBuffer = {
    buffer.plus(other)
    buffer
  }

  override def eval(buffer: CmsBuffer): Any =
    CmsUtil.toBytes(buffer.counts, buffer.w, buffer.d)

  override def serialize(buffer: CmsBuffer): Array[Byte] =
    CmsUtil.toBytes(buffer.counts, buffer.w, buffer.d)

  override def deserialize(bytes: Array[Byte]): CmsBuffer = {
    val (counts, w0, d0) = CmsUtil.fromBytes(bytes)
    new CmsBuffer(w0, d0, counts)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsBuild =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsBuild =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsBuild =
    copy(key = newChildren(0))
}

/** `cms_query(key)`: frequency estimate against a BROADCAST sketch
  * (held like [[BloomProbe]]'s filter). Map-only,
  * codegen'd; never underestimates.
  */
case class CmsQuery(child: Expression, sketch: Broadcast[Array[Byte]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_query requires a bigint key, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_query"

  override protected def nullSafeEval(input: Any): Any = {
    val (counts, w, d) = CmsQuery.parsed(sketch)
    CmsUtil.estimate(counts, w, d, input.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("cmsBc", sketch,
      classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.CmsQuery.estimate($bcRef, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CmsQuery =
    copy(child = newChild)
}

object CmsQuery {
  private val cache = new ParsedCache[(Array[Long], Int, Int)]()

  /** `cms_query(key)` as a Column that carries its sketch. */
  def cmsQuery(key: Column, sketch: Broadcast[Array[Byte]]): Column =
    Native(e => CmsQuery(e.head, sketch), key)

  private[functions] def parsed(
      bc: Broadcast[Array[Byte]]): (Array[Long], Int, Int) =
    cache.get(bc, CmsUtil.fromBytes)

  def estimate(bc: Broadcast[Array[Byte]], key: Long): Long = {
    val (counts, w, d) = parsed(bc)
    CmsUtil.estimate(counts, w, d, key)
  }
}
