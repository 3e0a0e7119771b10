package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The reason q124 exists, demonstrated on the planted fixture: a
  * per-doc hash split (q46's) assigns near-duplicates independently,
  * so some twin pairs straddle the train/test boundary — the eval
  * leak. The cluster-aware split must (a) put every cluster member
  * in its keeper's split, i.e. zero straddling pairs, and (b) agree
  * with q46 on every singleton doc, so adopting it only re-buckets
  * duplicate groups.
  */
class SplitLeakageSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  test("per-doc hash split leaks near-dup twins across splits; q124 does not") {
    val cs = TextQueries.q124(spark, dir)
      .select(col("doc_id"), col("keeper"), col("split")).persist()
    cs.count()
    // the planted twin relation: doc d's near-copy lives at d + 1e6
    val twins = cs.filter(col("doc_id") >= 1000000)
      .select((col("doc_id") - 1000000).as("orig_id"),
        col("split").as("twin_split"))
    // (a) the leak under the PER-DOC split: hash doc ids the q46 way
    //     and count twin pairs whose members land in different splits
    def docSplit(id: org.apache.spark.sql.Column) = {
      val b = call_function("md5_long60",
        concat(lit("split:"), id.cast("string"))) % 100
      when(b < 80, "train").when(b < 90, "valid").otherwise("test")
    }
    val leaky = twins
      .filter(docSplit(col("orig_id")) =!= docSplit(col("orig_id") + 1000000))
    assert(leaky.count() > 0,
      "fixture produced no straddling twin under the per-doc split — " +
        "the spec's premise is vacuous at this SF")
    // (b) zero straddling under the cluster-aware split
    val crossed = cs.join(twins, col("doc_id") === col("orig_id"))
      .filter(col("split") =!= col("twin_split"))
    assert(crossed.isEmpty,
      s"cluster-aware split leaks: ${crossed.count()} twin pairs straddle")
    // (c) singleton agreement with q46: docs outside any cluster keep
    //     their q46 bucket (keeper == doc_id implies same hash input)
    val q46 = TextQueries.q46(spark, dir)
      .select(col("doc_id").as("qid"), col("split").as("q46_split"))
    val disagree = cs.filter(col("keeper") === col("doc_id"))
      .join(q46, col("doc_id") === col("qid"))
      .filter(col("split") =!= col("q46_split"))
    assert(disagree.isEmpty,
      "self-keeper docs must keep their q46 split")
    cs.unpersist()
  }
}
