package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.VectorQueries

/** The streamed embedding-drift readout must equal the batch
  * computation over the union of all micro-batches: per-source
  * (sum, count) partials ADD, so neither batching nor a
  * crash-replayed batch (idempotent per-batch overwrite) may move
  * the accumulated means.
  */
case class EDoc(source: String, doc_id: Long, v: Seq[Double])

class EmbDriftStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  private def batchTwin(docs: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame) =
    VectorQueries.centroidCos(docs, cents)
      .groupBy(col("source"))
      .agg(sum(col("cos_e6")).as("s"), count(lit(1)).as("n_docs"))
      .select(col("source"), expr("s DIV n_docs").as("mean_cos_e6"),
        col("n_docs"))
      .orderBy(col("source"))

  test("streamed drift readout equals the batch means across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // the q114 relation IS the fixture; centroids from the full
    // release, the stream re-batches the same docs by parity
    val all = VectorQueries.q114Docs(spark, dir)
    val cents = VectorQueries.sourceCentroids(all).persist()
    cents.count()
    val docs = all.as[EDoc].collect().sortBy(_.doc_id)
    val (b1, b2) = docs.partition(_.doc_id % 2 == 0)
    assert(b1.nonEmpty && b2.nonEmpty)
    val parts = Files.createTempDirectory("embdrift_parts").toString
    val ckpt = Files.createTempDirectory("embdrift_ckpt").toString
    val in = MemoryStream[EDoc]
    val q = EmbDriftStream.batchPartials(
      spark, in.toDS().toDF(), cents, parts, ckpt)
    try {
      in.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = EmbDriftStream.drift(spark, parts)
    val batch = batchTwin(all, cents)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed drift means diverge from the batch computation")
    cents.unpersist()
  }

  test("drift() before any batch lands returns the empty readout, not a crash") {
    val parts = Files.createTempDirectory("embdrift_empty").toString
    val out = EmbDriftStream.drift(spark, parts)
    assert(out.columns.toSeq ==
      Seq("source", "mean_cos_e6", "n_docs") && out.count() == 0)
    // and a never-created dir behaves the same
    val out2 = EmbDriftStream.drift(spark, parts + "/never_created")
    assert(out2.count() == 0)
  }

  test("a replayed partials batch overwrites, never double-counts") {
    import spark.implicits._
    val all = VectorQueries.q114Docs(spark, dir)
    val cents = VectorQueries.sourceCentroids(all)
    val parts = Files.createTempDirectory("embdrift_replay").toString
    // crash-replay through THE stream's own per-batch body: same
    // batch id twice — a SaveMode regression would double every sum
    for (_ <- 1 to 2)
      EmbDriftStream.partialsBatch(all, cents, parts, batchId = 3)
    val once = all.count()
    val n = EmbDriftStream.drift(spark, parts)
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(n == once, s"replay double-counted: $n docs vs $once")
  }
}
