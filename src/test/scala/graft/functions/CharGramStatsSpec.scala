package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[CharGramStats]] must be value-identical to the composed HOF form
  * it replaces in q37 (sequence + substr-md5 transform + array_min +
  * array_distinct) — the perf rewrite is only sound if the semantics
  * are bit-equal, including codepoint (not byte) gram boundaries.
  */
class CharGramStatsSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def composed = {
    val grams = when(length(col("text")) < 8, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(col("text")) - 7),
        i => md5(col("text").substr(i, lit(8)))))
    struct(array_min(grams).as("fingerprint"),
      size(array_distinct(grams)).cast("long").as("n_distinct"))
  }

  private def check(texts: Seq[String]): Unit = {
    import spark.implicits._
    val rows = texts.toDF("text")
      .select(col("text"),
        call_function("char_gram_stats", col("text"), lit(8)).as("fast"),
        composed.as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getStruct(1) == r.getStruct(2),
        s"mismatch for ${r.getString(0).take(60)}: " +
          s"fast=${r.getStruct(1)} ref=${r.getStruct(2)}")
    }
  }

  test("matches the composed form on edge shapes") {
    check(Seq(
      "", "short", "exactly8", "exactly9!",
      "aaaaaaaaaaaaaaaa",                // all grams identical
      "the quick brown fox jumps over the lazy dog",
      " leading and trailing spaces  ",
      "tabs\tand\nnewlines\tinside"))
  }

  test("codepoint boundaries: multi-byte text grams like substr, not bytes") {
    check(Seq(
      "héllo wörld ünicode tèxt hère",
      "日本語のテキストです、これはテスト",
      "mixed ascii と 日本語 and émoji éèê padding"))
  }

  test("matches on corpus text and the fingerprint is the true min") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).as[String].collect().take(100).toSeq
    check(docs)
  }

  test("malformed UTF-8 strides exactly like Spark's own substring walk") {
    import org.apache.spark.unsafe.types.UTF8String
    // a lone 0xE2 lead byte declares 3 bytes but is followed by
    // ASCII — numBytesForFirstByte strides 3 anyway, which is what
    // length()/substr() do; the native scalar must agree, not fall
    // back to continuation-byte counting
    val bad = UTF8String.fromBytes(Array[Byte](
      'a', 'b', ' ', 0xE2.toByte, 'x', 'y', 'z', 'w', ' ', 'q', 'r',
      's', 't', 'u', 'v', 0xE2.toByte, 'k'))
    val chars = bad.numChars()
    assert(chars >= 8, s"fixture too short: $chars")
    val md = java.security.MessageDigest.getInstance("MD5")
    val ref = (0 to chars - 8).map { i =>
      md.reset()
      md.digest(bad.substring(i, i + 8).getBytes)
        .map("%02x".format(_)).mkString
    }
    val row = GramUtil.charGramStats(bad, 8)
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
    assert(row.getUTF8String(0).toString == ref.min,
      s"fingerprint diverges from the substring-walk reference")
    assert(row.getLong(1) == ref.distinct.size.toLong)
  }

  test("random strings (property sweep)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abc defgé世"
    check((1 to 200).map { _ =>
      val len = rnd.nextInt(40)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    })
  }
}
