package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.TextQueries

/** The streamed drift monitor's finisher must equal q111's batch
  * readout when the same delta arrives as micro-batches: counts ADD,
  * so the accumulated per-batch partials re-aggregate to exactly the
  * all-data counts regardless of batching — and a crash-replayed
  * batch must overwrite its own partials, not double-count them.
  */
class DriftStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  test("drift() before any batch lands degenerates gracefully, not a crash") {
    import spark.implicits._
    val base = Seq(("alpha", 3L), ("beta", 2L)).toDF("term", "cb")
    val counts = Files.createTempDirectory("drift_empty").toString
    val out = DriftStream.drift(spark, counts, base).collect()
    // both base terms present, all diffs zero (no delta has landed)
    assert(out.length == 2 && out.forall(r =>
      r.getLong(r.fieldIndex("diff_x")) == 0L))
  }

  test("streamed drift readout equals q111 across micro-batches and a replay") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val delta = TextQueries.q107Delta(docs)
      .as[NDoc].collect().sortBy(_.doc_id)
    val (b1, b2) = delta.partition(_.doc_id % 2 == 0)
    val counts = Files.createTempDirectory("drift_counts").toString
    val ckpt = Files.createTempDirectory("drift_ckpt").toString
    val in = MemoryStream[NDoc]
    val q = DriftStream.deltaCounts(spark, in.toDS().toDF(), counts, ckpt)
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // replay batch 0 from a fresh checkpoint against the same counts
    // dir — the overwrite must leave the accumulated counts unchanged
    val ckpt2 = Files.createTempDirectory("drift_ckpt2").toString
    val in2 = MemoryStream[NDoc]
    val q2 = DriftStream.deltaCounts(spark, in2.toDS().toDF(), counts, ckpt2)
    try { in2.addData(b1: _*); q2.processAllAvailable() }
    finally q2.stop()
    val base = TextQueries.termCounts(docs, "cb")
    val streamed = DriftStream.drift(spark, counts, base)
    val batch = TextQueries.q111(spark, dir)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed drift readout diverges from q111's batch readout")
  }
}
