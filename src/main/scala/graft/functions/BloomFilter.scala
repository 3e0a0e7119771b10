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
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/** A deterministic Bloom filter as a distributed build-aggregate +
  * map-side probe pair — the user-level form of the "runtime filter"
  * pattern every warehouse engine applies to selective joins: build a
  * compact membership filter over the small (filtered-dim) side's
  * keys, ship it to every task, and drop probe-side rows that cannot
  * possibly join BEFORE they reach the join's exchange. At 100 TB the
  * saving is the shuffle itself: a 1%-selective dim turns the fact
  * exchange from 100 TB into ~1 TB for a 64 KB filter broadcast.
  *
  * Spark's own `InjectRuntimeFilter` does this automatically only for
  * selected shapes; this pair makes the pattern explicit, composable
  * (the filter is a value — persist it, reuse it across queries), and
  * deterministic: k bit positions per key via Kirsch–Mitzenmacher
  * double hashing over two splitmix64 finalizer hashes, so the same
  * keys always yield byte-identical filters on any partitioning
  * (merge is a bitwise OR — commutative, associative).
  *
  * False positives are possible (probe-survivors must still be
  * joined — correctness never depends on the filter); false negatives
  * are not (spec-asserted), which is what makes pre-join pruning
  * sound.
  */
object BloomUtil {

  /** splitmix64 finalizer — the public-domain 64-bit mixer. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Set key's k bit positions: h1 + i*h2 mod m (both mixes of the
    * key, the second salted so they are independent).
    */
  def set(words: Array[Long], mBits: Int, key: Long, k: Int): Unit = {
    val h1 = mix64(key)
    val h2 = mix64(key ^ 0x5DEECE66DL)
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h1 + i * h2, mBits.toLong).toInt
      words(pos >>> 6) |= 1L << (pos & 63)
      i += 1
    }
  }

  def mightContain(words: Array[Long], mBits: Int, key: Long, k: Int): Boolean = {
    val h1 = mix64(key)
    val h2 = mix64(key ^ 0x5DEECE66DL)
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h1 + i * h2, mBits.toLong).toInt
      if ((words(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Serialized layout: [mBits:int][k:int][words...]. */
  def toBytes(words: Array[Long], mBits: Int, k: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * words.length)
    bb.putInt(mBits).putInt(k)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): (Array[Long], Int, Int) = {
    val bb = ByteBuffer.wrap(bytes)
    val mBits = bb.getInt
    val k = bb.getInt
    val words = new Array[Long]((mBits + 63) >>> 6)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong; i += 1 }
    (words, mBits, k)
  }
}

/** Mutable build buffer: the bitset plus its geometry. */
final class BloomBuffer(val mBits: Int, val k: Int) {
  val words = new Array[Long]((mBits + 63) >>> 6)
  def add(key: Long): Unit = BloomUtil.set(words, mBits, key, k)
  def or(other: BloomBuffer): Unit = {
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
  }
}

/** `bloom_build(key, <int literal mBits>, <int literal k>)`: the
  * serialized Bloom filter of a group's BIGINT keys. A true partial
  * aggregate: each task fills a local bitset, the exchange carries one
  * m-bit buffer per task (not the keys), merge is bitwise OR.
  */
case class BloomBuild(key: Expression, mBits: Int, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomBuffer] {

  override def children: Seq[Expression] = Seq(key)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bloom_build"

  override def checkInputDataTypes(): TypeCheckResult =
    if (mBits < 64 || mBits > (1 << 28))
      TypeCheckResult.TypeCheckFailure(
        s"bloom_build requires 64 <= mBits <= 2^28, got $mBits")
    else if (k < 1 || k > 16)
      TypeCheckResult.TypeCheckFailure(s"bloom_build requires 1 <= k <= 16, got $k")
    else key.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_build requires a bigint key, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): BloomBuffer = new BloomBuffer(mBits, k)

  override def update(buffer: BloomBuffer, input: InternalRow): BloomBuffer = {
    val v = key.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: BloomBuffer, other: BloomBuffer): BloomBuffer = {
    buffer.or(other)
    buffer
  }

  override def eval(buffer: BloomBuffer): Any =
    BloomUtil.toBytes(buffer.words, buffer.mBits, buffer.k)

  override def serialize(buffer: BloomBuffer): Array[Byte] =
    BloomUtil.toBytes(buffer.words, buffer.mBits, buffer.k)

  override def deserialize(bytes: Array[Byte]): BloomBuffer = {
    val (words, m, kk) = BloomUtil.fromBytes(bytes)
    val buffer = new BloomBuffer(m, kk)
    System.arraycopy(words, 0, buffer.words, 0, words.length)
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuild =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuild =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomBuild =
    copy(key = newChildren(0))
}

/** `bloom_probe(key)`: membership test against a BROADCAST filter
  * (held by the expression like the IVF/PQ codebooks — the filter is a
  * worker-side dimension, O(1) in the plan). Map-only, codegen'd,
  * rides the scan: the idiomatic placement is a `.filter` directly on
  * the fact table before its join exchange.
  */
case class BloomProbe(child: Expression, filter: Broadcast[Array[Byte]])
    extends UnaryExpression {

  @transient private lazy val parsed = BloomUtil.fromBytes(filter.value)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_probe requires a bigint key, got ${other.catalogString}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_probe"

  override protected def nullSafeEval(input: Any): Any = {
    val (words, m, k) = parsed
    BloomUtil.mightContain(words, m, input.asInstanceOf[Long], k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomBc", filter,
      classOf[Broadcast[_]].getName)
    // route through the static helper: it parses the filter once per
    // executor (cached via ParsedCache, keyed by (app id, broadcast
    // id) — NOT bare broadcast id, which repeats across SparkContext
    // restarts); the per-row call is two mixes + k bit reads
    defineCodeGen(ctx, ev, c => s"graft.functions.BloomProbe.probe($bcRef, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomProbe =
    copy(child = newChild)
}

object BloomProbe {
  // shared parse cache keyed by (app id, broadcast id) — see
  // [[ParsedCache]] for why bare bc.id (repeats across SparkContext
  // restarts) and object identity (fresh wrapper per task) are both
  // wrong keys
  private val cache = new ParsedCache[(Array[Long], Int, Int)]()

  /** `bloom_probe(key)` as a Column that carries its filter. */
  def bloomProbe(key: Column, filter: Broadcast[Array[Byte]]): Column =
    Native(e => BloomProbe(e.head, filter), key)

  def probe(bc: Broadcast[Array[Byte]], key: Long): Boolean = {
    val parsed = cache.get(bc, BloomUtil.fromBytes)
    BloomUtil.mightContain(parsed._1, parsed._2, key, parsed._3)
  }
}
