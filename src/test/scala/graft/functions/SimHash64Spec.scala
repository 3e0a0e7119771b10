package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.text.TextOps

/** [[SimHash64]] must be value-identical to the staged composed form
  * it replaced (four salted tokenHashes16Limb arrays, each folded by
  * simHash16FromHashes, limb 3 high) — the public helpers still build
  * that reference here.
  */
class SimHash64Spec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def check(texts: Seq[String]): Unit = {
    import spark.implicits._
    val tk = TextOps.tokens(col("text"))
    val staged = texts.toDF("text").select(
      col("text") +: (0 until 4).map(j =>
        TextOps.tokenHashes16Limb(tk, j).as(s"__tv$j")): _*)
    val limbs = (0 until 4).map(j =>
      TextOps.simHash16FromHashes(col(s"__tv$j")))
    val rows = staged
      .select(col("text"),
        concat(limbs.reverse.map(l => format_string("%04x", l)): _*)
          .as("ref"),
        call_function("simhash64", tk).as("fast"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(2) == r.getString(1),
        s"mismatch for '${r.getString(0).take(60)}': " +
          s"fast=${r.getString(2)} ref=${r.getString(1)}")
    }
  }

  test("matches the composed form on edge shapes") {
    check(Seq("", "one", "two tokens", "a b c d e f g h i j",
      "repeated repeated repeated repeated",
      "Tabs\tand  double  spaces",
      "unicode tökens 日本語 mixed"))
  }

  test("matches on corpus text") {
    import spark.implicits._
    check(spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).as[String].collect().take(100).toSeq)
  }

  test("near-duplicate texts stay near in Hamming distance") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 57).map(i => s"tok$i").mkString(" ") + " extra token"
    val far = (1 to 60).map(i => s"other$i").mkString(" ")
    val Seq(h1, h2, h3) = Seq(base, near, far).toDF("text")
      .select(call_function("simhash64", TextOps.tokens(col("text"))))
      .collect().map(_.getString(0)).toSeq
    def ham(a: String, b: String): Int =
      java.lang.Long.bitCount(
        java.lang.Long.parseUnsignedLong(a, 16) ^
          java.lang.Long.parseUnsignedLong(b, 16))
    assert(ham(h1, h2) < 12, s"near dup too far: ${ham(h1, h2)}")
    assert(ham(h1, h3) > 16, s"unrelated too close: ${ham(h1, h3)}")
  }
}
