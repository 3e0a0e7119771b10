package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.VectorQueries

/** The streaming decon screen must reach exactly q113's flags when
  * the same corpus arrives as micro-batches: a vector's verdict
  * depends only on itself and the fixed eval suite, so it cannot
  * depend on how the corpus was batched or on a crash-replayed batch
  * (idempotent per-batch overwrite).
  */
case class VDoc(vec_id: Long, v: Seq[Double])

class DeconStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  test("streamed decon flags equal q113's batch flags across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // THE q113 fixture (non-eval corpus + planted leaks), split by
    // parity into two micro-batches so each contains planted leaks
    val corpus = VectorQueries.q113Corpus(spark, dir)
      .as[VDoc].collect().sortBy(_.vec_id)
    assert(corpus.count(_.vec_id >= 1000000) >= 2,
      "fixture needs planted leaks in both batches")
    val (b1, b2) = corpus.partition(_.vec_id % 2 == 0)
    val evalIdx = VectorQueries.q113Eval(spark, dir)
    val out = Files.createTempDirectory("decon_out").toString
    val ckpt = Files.createTempDirectory("decon_ckpt").toString
    val in = MemoryStream[VDoc]
    val q = DeconStream.screenStream(
      spark, in.toDS().toDF(), evalIdx, out, ckpt)
    try {
      in.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("vec_id", "eval_id", "cos_e6")
    val batch = VectorQueries.q113(spark, dir)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed decon flags diverge from q113's batch flags")
    // and the planted leaks actually flag through the stream
    assert(streamed.filter(col("vec_id") >= 1000000).count() ==
      corpus.count(_.vec_id >= 1000000).toLong,
      "a planted leak escaped the streaming screen")
  }

  test("a replayed batch overwrites its verdicts, never duplicates them") {
    import spark.implicits._
    val corpus = VectorQueries.q113Corpus(spark, dir)
    val evalIdx = VectorQueries.q113Eval(spark, dir)
    val out = Files.createTempDirectory("decon_replay").toString
    // crash-replay through THE stream's own per-batch body (not a
    // re-spelled write): the same batch id lands twice — a SaveMode
    // or path regression in screenBatch itself would fail this
    for (_ <- 1 to 2)
      DeconStream.screenBatch(corpus, evalIdx, out, batchId = 7)
    val once = VectorQueries.deconFlags(corpus, evalIdx).count()
    assert(spark.read.parquet(out).count() == once,
      "replay duplicated verdict rows instead of overwriting")
  }
}
