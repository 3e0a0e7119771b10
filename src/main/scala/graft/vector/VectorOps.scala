package graft.vector

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Similarity-search operator library over embedding columns
  * (`array<float>`): exact cosine via codegen'd higher-order array
  * functions, brute-force top-k as the small-scale baseline, and
  * signed-random-projection (SRP) LSH bucketing as the 100 TB path —
  * candidate generation becomes an equi join on the bucket id, never
  * an all-pairs cross join.
  *
  * Determinism rules: all arithmetic is double-precision sequential
  * folds (`aggregate`), which DuckDB's `list_sum` reproduces
  * bit-identically (verified empirically), so cosine scores are
  * oracle-checkable; the SRP hyperplanes are Rademacher ±1 vectors
  * derived from md5 parity — a fixed, engine-independent matrix that
  * the oracle SQL embeds as literals.
  */
object VectorOps {

  /** `array<float>` -> `array<double>` (exact widening). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-fold dot product of two double arrays — the native
    * codegen'd expression ([[graft.functions.DotF64]], resolved by
    * name from the session, which [[graft.GraftSession]] installs it
    * into at construction). Same FP
    * op sequence as [[dotHof]]/[[seqDot]]/DuckDB `list_sum`:
    * bit-identical results (spec-asserted), ~an order of magnitude
    * less per-row overhead than the interpreted HOF fold.
    */
  def dot(a: Column, b: Column): Column = call_function("dot_f64", a, b)

  /** The built-in higher-order-function form of [[dot]] — kept as the
    * registration-free fallback and as the cross-check the DotF64Spec
    * compares bit-for-bit against the native expression.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Int8 scalar quantization, encode side (q149; the faiss
    * QT_8bit/absmax shape): code_d = round(127·x_d / scale_d), one
    * int8-range code per DIMENSION. `scales` is the per-dim absmax
    * array (an exact aggregate — max involves no FP summation, so
    * any engine derives identical scales from identical data); the
    * 1e-30 floor makes an all-zero dimension quantize to code 0
    * branch-free instead of NaN.
    */
  def sqEncode(v: Column, scales: Column): Column =
    transform(v, (x, i) =>
      round(lit(127.0) * x / greatest(element_at(scales, i + 1), lit(1e-30)))
        .cast("int"))

  /** Int8 scalar quantization, decode side: dv_d = code_d·scale_d/127
    * — the dequantized double vector search runs distances over.
    * Encode→decode per-dim error is bounded by scale_d/254 (half a
    * quantization step).
    */
  def sqDecode(codes: Column, scales: Column): Column =
    transform(codes, (c, i) =>
      c.cast("double") * element_at(scales, i + 1) / lit(127.0))

  /** Driver-side twin of [[dot]]: the identical FP op sequence
    * (multiply, then left-fold add from 0.0), so norms precomputed on
    * the driver — e.g. an IVF codebook's — are bit-equal to the
    * in-plan and oracle (`list_sum`) forms.
    */
  def seqDot(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Cosine similarity of two double arrays. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Deterministic Rademacher hyperplane matrix: sign(p)(i) = +1 iff
    * the first hex nibble of md5("p:i") is even. Public-recipe SRP —
    * both engines embed the same literals.
    */
  def srpSigns(planes: Int, dim: Int): Seq[Seq[Double]] =
    srpSignsSalted("", planes, dim)

  /** An independent SRP table per salt (md5("<salt>p:i")) — the
    * multi-table banding family: b tables OR-combined trade b× the
    * hashing for the recall a single table loses at high plane counts
    * (the MinHash band trick applied to the vector path). Salt "" is
    * the original [[srpSigns]] table.
    */
  def srpSignsSalted(salt: String, planes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until planes).map { p =>
      (0 until dim).map { i =>
        if ((Character.digit(md5hex(s"$salt$p:$i").charAt(0), 16) & 1) == 0) 1.0
        else -1.0
      }
    }

  /** SRP-LSH bucket id (0 .. 2^planes-1) of a double vector. */
  def srpBucket(v: Column, signs: Seq[Seq[Double]]): Column =
    signs.zipWithIndex.map { case (plane, p) =>
      val proj = dot(v, typedLit(plane))
      when(proj > 0, 1 << p).otherwise(0)
    }.reduce(_ + _)
}
