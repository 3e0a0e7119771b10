package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class RepStats2Spec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def reference(toks: Seq[String]): (Long, Long, Long) = {
    if (toks.length < 2) return (0L, 0L, 0L)
    val counts = toks.sliding(2).map(_.mkString(" ")).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong)
    val top = counts.values.max
    val dup = counts.values.filter(_ > 1).sum
    ((toks.length - 1).toLong, top, dup)
  }

  test("matches a driver-side reference on random repetitive token arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // tiny vocab -> heavy gram repetition, plus degenerate lengths
    val rows = Seq(Seq.empty[String], Seq("solo"), Seq("a", "a"),
      Seq("a", "b", "a", "b", "a")) ++
      Seq.fill(300)(Seq.fill(2 + rnd.nextInt(60))(s"t${rnd.nextInt(6)}"))
    val got = rows.toDF("toks")
      .select(call_function("rep_stats2", col("toks")).as("st"))
      .select(col("st.n_2grams"), col("st.top_c"), col("st.dup_c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.zip(rows).foreach { case (g, toks) =>
      assert(g == reference(toks), s"diverged on $toks")
    }
  }

  test("stays inside whole-stage codegen") {
    val base = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(split(lower(trim(col("text"))), "\\s+").as("toks"))
    val plan = base.select(call_function("rep_stats2", col("toks")).as("st"))
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[rep_stats2""".r.findFirstIn(plan).isDefined,
      s"rep_stats2 projection must be codegen'd:\n$plan")
  }

  test("fails loud on a null token element") {
    import spark.implicits._
    val df = Seq(Seq(Option("a"), None, Option("b"))).toDF("toks")
    val e = intercept[Exception] {
      df.select(call_function("rep_stats2", col("toks"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null token")), s"got: ${msgs(e)}")
  }
}
