package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Df-capped member accumulator for the inverted-index pair core:
  * parallel (doc_id, n_sh) arrays that STOP ACCUMULATING the moment
  * the group exceeds `cap` — from then on the group is a stop-shingle
  * whose members are discarded and only a one-byte overflow flag
  * survives (in the buffer, through serialization, and across
  * merges). This is what makes the df cap a MEMORY bound again, not
  * just an output bound: a shingle with df ~10^9 at 100 TB costs each
  * task at most `cap` buffered entries before collapsing to the flag,
  * where a plain collect_list-then-filter buffers the full reduce-side
  * member list first (which ran out of memory on hot groups).
  */
final class CappedMembersBuffer(val cap: Int) {
  var ids: Array[Long] = null
  var ns: Array[Int] = null
  var n = 0
  var overflowed = false

  private def ensure(extra: Int): Unit = {
    if (ids == null) {
      val init = math.max(8, math.min(cap, extra))
      ids = new Array[Long](init); ns = new Array[Int](init)
    } else if (n + extra > ids.length) {
      val want = math.min(cap.toLong,
        math.max(ids.length.toLong * 2, n.toLong + extra)).toInt
      ids = java.util.Arrays.copyOf(ids, want)
      ns = java.util.Arrays.copyOf(ns, want)
    }
  }

  private def overflow(): Unit = {
    overflowed = true
    ids = null; ns = null; n = 0 // stop-shingle: drop members NOW
  }

  def add(id: Long, nsh: Int): Unit = {
    if (overflowed) return
    if (n >= cap) { overflow(); return }
    ensure(1)
    ids(n) = id; ns(n) = nsh; n += 1
  }

  def mergeFrom(other: CappedMembersBuffer): Unit = {
    if (overflowed) return
    if (other.overflowed || n.toLong + other.n > cap) { overflow(); return }
    if (other.n > 0) {
      ensure(other.n)
      System.arraycopy(other.ids, 0, ids, n, other.n)
      System.arraycopy(other.ns, 0, ns, n, other.n)
      n += other.n
    }
  }
}

/** `collect_members_capped(doc_id, n_sh, cap)`: the group's
  * (doc_id, n_sh) members sorted by (doc_id, n_sh) as an
  * array<struct<doc_id,n_sh>>, or NULL once the group exceeds `cap`
  * members — the pair core's df-cap filter `size(ms) <= maxDf`,
  * moved INSIDE the aggregate so the cap bounds the aggregation
  * buffer itself (guide §5: what a task holds in memory). Sorting at
  * eval replaces the old `sort_array(collect_list(...))` and is the
  * same struct order, so the output is total and does not depend on
  * merge order even where a doc_id repeats in a group
  * (`TextOps.sharedSpanRuns` collects (doc_id, pos), one doc at many
  * positions). Null inputs are skipped (they never occur on the
  * digest pipeline; a null doc_id would already have failed the
  * fixtures' planted-id checks upstream). Plans as ObjectHashAggregate
  * partial+final, same as collect_list — the shuffle carries at most
  * `cap` entries (or the flag) per (task, shingle).
  */
case class CollectMembersCapped(id: Expression, nsh: Expression, cap: Long,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CappedMembersBuffer] {

  // arrays cannot exceed Int range anyway — the same physical bound
  // the old collect_list had; a cap above it simply never binds
  private val intCap: Int =
    math.min(cap, (Int.MaxValue - 16).toLong).toInt

  override def children: Seq[Expression] = Seq(id, nsh)
  override def nullable: Boolean = true // null == overflowed (dropped)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_sh", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "collect_members_capped"

  override def checkInputDataTypes(): TypeCheckResult =
    (id.dataType, nsh.dataType) match {
      case _ if cap <= 0 => TypeCheckResult.TypeCheckFailure(
        s"collect_members_capped requires cap > 0, got $cap")
      case (LongType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (i, s) => TypeCheckResult.TypeCheckFailure(
        s"collect_members_capped requires (bigint doc_id, int n_sh), " +
          s"got ${i.catalogString} and ${s.catalogString}")
    }

  override def createAggregationBuffer(): CappedMembersBuffer =
    new CappedMembersBuffer(intCap)

  override def update(buffer: CappedMembersBuffer,
      input: InternalRow): CappedMembersBuffer = {
    val i = id.eval(input)
    val s = nsh.eval(input)
    if (i != null && s != null)
      buffer.add(i.asInstanceOf[Long], s.asInstanceOf[Int])
    buffer
  }

  override def merge(buffer: CappedMembersBuffer,
      other: CappedMembersBuffer): CappedMembersBuffer = {
    buffer.mergeFrom(other)
    buffer
  }

  override def eval(buffer: CappedMembersBuffer): Any = {
    if (buffer.overflowed) return null
    val rows = new Array[AnyRef](buffer.n)
    var j = 0
    while (j < buffer.n) {
      rows(j) = new GenericInternalRow(
        Array[Any](buffer.ids(j), buffer.ns(j)))
      j += 1
    }
    java.util.Arrays.sort(rows, new java.util.Comparator[AnyRef] {
      override def compare(a: AnyRef, b: AnyRef): Int = {
        val ra = a.asInstanceOf[GenericInternalRow]
        val rb = b.asInstanceOf[GenericInternalRow]
        val byId = java.lang.Long.compare(ra.getLong(0), rb.getLong(0))
        if (byId != 0) byId
        else java.lang.Integer.compare(ra.getInt(1), rb.getInt(1))
      }
    })
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buffer: CappedMembersBuffer): Array[Byte] = {
    // flag + count + 12 bytes per member, sized as a Long: past ~178M
    // members the Int product would wrap to a negative capacity
    val size = 5L + 12L * buffer.n
    if (size > Int.MaxValue)
      throw new IllegalStateException(
        s"collect_members_capped buffer of ${buffer.n} members needs " +
          s"$size bytes, past the ${Int.MaxValue}-byte array limit; " +
          "lower the cap")
    val bb = ByteBuffer.allocate(size.toInt)
    bb.put(if (buffer.overflowed) 1.toByte else 0.toByte)
    bb.putInt(buffer.n)
    var j = 0
    while (j < buffer.n) {
      bb.putLong(buffer.ids(j)); bb.putInt(buffer.ns(j)); j += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedMembersBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buffer = new CappedMembersBuffer(intCap)
    if (bb.get() == 1.toByte) {
      buffer.overflowed = true
      bb.getInt // n, always 0 for overflowed buffers
    } else {
      val n = bb.getInt
      var j = 0
      while (j < n) { buffer.add(bb.getLong, bb.getInt); j += 1 }
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectMembersCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectMembersCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CollectMembersCapped =
    copy(id = newChildren(0), nsh = newChildren(1))
}
