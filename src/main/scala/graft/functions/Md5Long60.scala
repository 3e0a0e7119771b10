package graft.functions

import java.security.MessageDigest

import scala.reflect.{classTag, ClassTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Runtime helper for [[Md5Long60]]: md5 the UTF-8 bytes and take the
  * first 15 hex nibbles (60 bits) as a non-negative long — EXACTLY the
  * value of `conv(substring(md5(s), 1, 15), 16, 10)`, the engine's
  * cross-engine-portable base hash (DuckDB replays it from the hex
  * form). Computing it from the digest bytes skips the 32-char hex
  * string materialization and the string-based base conversion that
  * the built-in-function composition pays per shingle.
  */
object HashUtil {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private def long60(d: Array[Byte]): Long =
    // first 8 bytes big-endian = 16 nibbles; drop the 16th -> 60 bits
    (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4

  def md5Long60(s: UTF8String): Long = {
    val digest = md.get()
    digest.reset()
    long60(digest.digest(s.getBytes))
  }

  /** The thread-local MD5 instance, reset and ready — shared with the
    * sibling native scalars ([[GramUtil]]) so the digest-lifecycle
    * code exists once.
    */
  private[functions] def mdInstance(): MessageDigest = {
    val d = md.get()
    d.reset()
    d
  }

  /** md5Long60 of `prefix ++ bytes` without building the concatenated
    * string — the salted hash-family form ([[SimHashUtil]]'s four
    * limbs): identical to `md5Long60(UTF8String(prefix + s))` because
    * md5 streams its input.
    */
  def md5Long60Salted(prefix: Array[Byte], bytes: Array[Byte]): Long = {
    val digest = md.get()
    digest.reset()
    digest.update(prefix)
    long60(digest.digest(bytes))
  }

  /** All word n-gram shingle hashes of a token array, in order: the
    * 60-bit md5 of each window's tokens joined by a single space —
    * byte-identical to `md5(concat_ws(" ", slice(toks, i, n)))`, but
    * STREAMED into one digest instance (update per token + separator)
    * with zero intermediate shingle strings. Empty array when fewer
    * than n tokens, matching TextOps.wordShingles' guard. Tokens must
    * be non-null (split() output always is); a null element fails fast
    * rather than silently diverging from concat_ws's null-skipping.
    */
  def shingleHashes(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val digest = md.get()
    val toks = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) { toks(i) = arr.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[Long](len - n + 1)
    i = 0
    while (i <= len - n) {
      digest.reset()
      var j = i
      while (j < i + n) {
        if (j > i) digest.update(0x20.toByte)
        digest.update(toks(j))
        j += 1
      }
      out(i) = long60(digest.digest())
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression (with codegen) for the 60-bit md5 base
  * hash — the hot scalar of the near-dup digest stage (SURVEY §2.11).
  * Same value as `conv(substring(md5(s), 1, 15), 16, 10)`; a single
  * static call per row inside whole-stage codegen, no hex string.
  */
case class Md5Long60(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_long60 requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_long60"

  override protected def nullSafeEval(input: Any): Any =
    HashUtil.md5Long60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.md5Long60($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Long60 =
    copy(child = newChild)
}

/** Native shingle-hash expression: `shingle_hash60(toks, n)` maps a
  * token array to the 60-bit md5 of every n-token window (space-
  * joined), replacing the transform+slice+concat_ws+md5 composition —
  * the measured hot spot of the near-dup digest stage was the
  * per-shingle string materialization, not the md5 itself. One static
  * call per row inside whole-stage codegen; the digest streams over
  * token bytes with no intermediate shingle strings.
  */
case class ShingleHash60(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hash60 requires array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash60"

  override protected def nullSafeEval(input: Any): Any =
    HashUtil.shingleHashes(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.shingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash60 =
    copy(child = newChild)
}

/** The engine's 16 native session functions, listed once. Both install
  * routes read this table: [[GraftExtensions]] injects it when a
  * session is built, and [[GraftFunctions.register]] adds whatever a
  * session built elsewhere lacks. Queries reach the functions by name,
  * e.g. `call_function("md5_long60", col)` /
  * `call_function("shingle_hash60", toks, lit(n))`.
  */
object GraftFunctions {
  private def fn[E <: Expression: ClassTag](name: String, usage: String)(
      build: PartialFunction[Seq[Expression], E])
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, name),
      (exprs: Seq[Expression]) => build.applyOrElse(exprs,
        (other: Seq[Expression]) => throw new IllegalArgumentException(
          s"$name$usage — got $other")))

  private[functions] val table
      : Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("md5_long60", "(<string>) takes exactly one argument") {
      case Seq(s) => Md5Long60(s)
    },
    fn("shingle_hash60", "(toks, <int literal n>)") {
      case Seq(toks, Literal(n: Int, IntegerType)) => ShingleHash60(toks, n)
    },
    fn("dot_f64",
        "(<array<double>>, <array<double>>) takes exactly two arguments") {
      case Seq(a, b) => DotF64(a, b)
    },
    fn("topk_by_score", "(score, id, <int literal k>)") {
      case Seq(score, id, Literal(k: Int, IntegerType)) => TopKByScore(score, id, k)
    },
    fn("collect_members_capped", "(doc_id, n_sh, <integral literal cap>)") {
      case Seq(id, nsh, Literal(c: Long, LongType)) =>
        CollectMembersCapped(id, nsh, c)
      case Seq(id, nsh, Literal(c: Int, IntegerType)) =>
        CollectMembersCapped(id, nsh, c.toLong)
    },
    fn("rep_stats2", "(<array<string>>) takes exactly one argument") {
      case Seq(toks) => RepStats2(toks)
    },
    fn("bloom_build", "(key, <int literal mBits>, <int literal k>)") {
      case Seq(key, Literal(m: Int, IntegerType), Literal(k: Int, IntegerType)) =>
        BloomBuild(key, m, k)
    },
    fn("cms_build", "(key, <int literal w>, <int literal d>)") {
      case Seq(key, Literal(w: Int, IntegerType), Literal(d: Int, IntegerType)) =>
        CmsBuild(key, w, d)
    },
    fn("hll_build", "(key, <int literal p>)") {
      case Seq(key, Literal(p: Int, IntegerType)) => HllBuild(key, p)
    },
    fn("hll_merge", "(<binary sketch>) takes exactly one argument") {
      case Seq(sk) => HllMerge(sk)
    },
    fn("hll_card", "(<binary sketch>) takes exactly one argument") {
      case Seq(sk) => HllCard(sk)
    },
    fn("hll_regsum", "(<binary sketch>) takes exactly one argument") {
      case Seq(sk) => HllRegSum(sk)
    },
    fn("char_gram_stats", "(text, <int literal n>)") {
      case Seq(text, Literal(n: Int, IntegerType)) => CharGramStats(text, n)
    },
    fn("simhash64", "(<array<string>>) takes exactly one argument") {
      case Seq(toks) => SimHash64(toks)
    },
    fn("nfc_normalize", "(<string>) takes exactly one argument") {
      case Seq(s) => NfcNormalize(s)
    },
    fn("deflate_len", "(<string>) takes exactly one argument") {
      case Seq(s) => DeflateLen(s)
    })

  /** Registers the functions `spark`'s registry lacks, and nothing
    * else: a session that already carries them (every
    * [[graft.GraftSession]] session) is left untouched. Only a session
    * built without [[GraftExtensions]] needs this call.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}

/** Injects [[GraftFunctions]]' table into every session built with it:
  * `spark.sql.extensions=graft.functions.GraftExtensions`, or
  * `.withExtensions(new GraftExtensions)` as [[graft.GraftSession]]
  * does. Sessions cloned from such a session (`newSession()`, a
  * streaming query's batch session) carry the functions too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach(ext.injectFunction)
}
