package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** [[Verify.dump]] records every query's outcome: a throwing entry is
  * named in verify_status.json with its error, and the loop goes on
  * to dump the entries after it.
  */
class VerifySpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  test("verify_status.json names a failing query; the rest still dump") {
    val out = Files.createTempDirectory("verify-spec").toString
    val queries = Seq(
      "q00_throws" -> ((_: org.apache.spark.sql.SparkSession, _: String) =>
        throw new IllegalStateException("planted failure")),
      "q01_pricing_summary" -> SparkEntry.queries("q01_pricing_summary"))
    val statuses = Verify.dump(spark, dir, out, queries)
    assert(statuses.map(_.name) == Seq("q00_throws", "q01_pricing_summary"))
    assert(statuses(0).result.left.exists(_.getMessage == "planted failure"))
    val rows = spark.read.parquet(s"$out/q01_pricing_summary").count()
    assert(statuses(1).result == Right(rows) && rows > 0)

    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(s"$out/verify_status.json")))
    val bad = manifest.get("q00_throws")
    assert(bad.get("status").asText == "error")
    assert(bad.get("class").asText == "java.lang.IllegalStateException")
    assert(bad.get("message").asText == "planted failure")
    assert(bad.get("seconds").isNumber)
    val good = manifest.get("q01_pricing_summary")
    assert(good.get("status").asText == "ok")
    assert(good.get("rows").asLong == rows)
    assert(good.get("seconds").asDouble >= 0)
    assert(manifest.size == 2)
  }
}
