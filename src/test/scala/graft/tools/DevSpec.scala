package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[Dev]]'s modes are plain functions over a session: plan text and
  * timings come back to the caller, and timing leaves no cached
  * intermediate behind.
  */
class DevSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"
  // q25 persists its pre-sort result, so the cache check has teeth
  private val q = "q25_geodesy2"

  test("plan: formatted explain text per query") {
    val Seq((name, text)) = Dev.plan(spark, dir, Seq(q))
    assert(name == q)
    assert(text.contains("== Physical Plan =="), text.take(500))
  }

  test("time: 3 timings per query, cache empty afterwards") {
    val timed = Dev.time(spark, dir, Seq(q, "q01_pricing_summary"))
    assert(timed.map(_._1) == Seq(q, "q01_pricing_summary"))
    assert(timed.forall { case (_, secs) => secs.size == 3 && secs.forall(_ > 0) })
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
