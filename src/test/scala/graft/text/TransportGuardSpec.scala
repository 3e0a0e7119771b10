package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, md5, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The digest-set transport guard: [[TextOps.approxDistinct]] estimates
  * the delta's distinct digests, and [[TextOps.matchedBaseDigests]]
  * broadcasts the delta only while that estimate is at most 95% of the
  * cap, falling back to a sort-merge semi-join past it.
  */
class TransportGuardSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def digests(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(md5(col("id").cast("string")).as("h"))

  private def assertBroadcast(p: String): Unit = {
    assert(p.contains("BroadcastHashJoin"), s"expected a broadcast probe:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the base must not shuffle:\n$p")
  }

  test("an empty and an all-null delta estimate 0 and plan the broadcast probe") {
    val base = digests(0, 2000)
    // a filter the optimizer cannot fold away, so the join stays planned
    val empty = base.filter(col("h") === "not a digest")
    // null on every row, but not a literal the optimizer could fold
    val nulls = spark.range(0, 50)
      .select(when(col("id") < 0, lit("x")).as("h"))
    for ((name, delta) <- Seq("empty" -> empty, "all-null" -> nulls)) {
      assert(TextOps.approxDistinct(delta, "h") == 0L, name)
      val hits = TextOps.matchedBaseDigests(base, delta, "h")
      assertBroadcast(plan(hits))
      assert(hits.count() == 0L, name)
    }
  }

  test("a 200-digest delta broadcasts at a cap of 230 and sort-merges at 205") {
    val base = digests(0, 2000)
    val delta = digests(1500, 1700)
    // 95% of 230 is 219 (integer arithmetic), above 200: broadcast
    val bc = TextOps.matchedBaseDigests(base, delta, "h",
      maxBroadcastRows = 230)
    assertBroadcast(plan(bc))
    // 95% of 205 is 195, below 200: the sort-merge fallback
    val smj = TextOps.matchedBaseDigests(base, delta, "h",
      maxBroadcastRows = 205)
    val smjPlan = plan(smj)
    assert(smjPlan.contains("SortMergeJoin"),
      s"past 95% of the cap the probe must sort-merge:\n$smjPlan")
    assert(!smjPlan.contains("BroadcastHashJoin"),
      s"past 95% of the cap the delta must not broadcast:\n$smjPlan")
    val a = bc.collect().map(_.getString(0)).sorted.toSeq
    val b = smj.collect().map(_.getString(0)).sorted.toSeq
    assert(a == b && a.size == 200, s"transports disagree: ${a.size} vs ${b.size}")
  }

  test("the estimate is within 2% of the exact count on 1e5 distinct md5 digests") {
    val n = 100000L
    // every digest twice: the estimate counts distinct values, not rows
    val twice = digests(0, n).unionByName(digests(0, n))
    val est = TextOps.approxDistinct(twice, "h")
    assert(math.abs(est - n).toDouble / n <= 0.02, s"estimate $est for $n distinct")
  }
}
