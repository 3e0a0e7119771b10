package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.TextQueries

/** The streaming near-dup admission must reach exactly q107's
  * verdicts when the same delta arrives as micro-batches: admission
  * is per-doc-vs-BASE, so a doc's verdict cannot depend on how the
  * crawl was batched, on batch order, or on a crash-replayed batch
  * (idempotent per-batch overwrite).
  */
case class NDoc(doc_id: Long, text: String)

class NearDupStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  test("streamed admission verdicts equal q107's batch verdicts across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val index = NearDupStream.buildBaseIndex(docs)
    // THE q107 fixture, split by parity into two micro-batches so
    // near-copies and fresh docs both land in each
    val delta = TextQueries.q107Delta(docs)
      .as[NDoc].collect().sortBy(_.doc_id)
    assert(delta.length > 5, "fixture too small to split meaningfully")
    val (b1, b2) = delta.partition(_.doc_id % 2 == 0)
    val out = Files.createTempDirectory("neardup_out").toString
    val ckpt = Files.createTempDirectory("neardup_ckpt").toString
    val in = MemoryStream[NDoc]
    val q = NearDupStream.admissionStream(
      spark, in.toDS().toDF(), index, out, ckpt)
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("doc_id", "best_base", "jaccard_e4", "admit")
    val batch = TextQueries.q107(spark, dir)
    assert(streamed.count() == delta.length.toLong,
      "every delta doc must receive exactly one verdict")
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed verdicts diverge from q107's batch verdicts")
  }

  test("admit-and-grow: later batches dedup against earlier ADMITTED docs") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val index = NearDupStream.buildBaseIndex(docs)
    // batch 1: a fresh doc F (admits; no base match). batch 2: an
    // exact copy of F under a new id (must now REJECT with
    // best_base = F's id — only possible if F's signature grew the
    // index) and a fresh doc G (must still admit).
    val f = NDoc(7000001L,
      "aurora borealis shimmered over the quiet fjord all night long")
    val fCopy = NDoc(7000002L, f.text)
    val g = NDoc(7000003L,
      "seven silver submarines circled the coral atoll at dawn today")
    val out = Files.createTempDirectory("neardup_grow_out").toString
    val ckpt = Files.createTempDirectory("neardup_grow_ckpt").toString
    val grow = Files.createTempDirectory("neardup_grow_idx").toString
    val in = MemoryStream[NDoc]
    val q = NearDupStream.admissionStream(
      spark, in.toDS().toDF(), index, out, ckpt, grow)
    try {
      in.addData(f)
      q.processAllAvailable()
      in.addData(fCopy, g)
      q.processAllAvailable()
    } finally q.stop()
    val v = spark.read.parquet(out)
      .select("doc_id", "best_base", "admit").collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2)))
      .sortBy(_._1)
    assert(v.toSeq == Seq(
      (7000001L, None, true),
      (7000002L, Some(7000001L), false),
      (7000003L, None, true)),
      s"admit-and-grow verdicts wrong: ${v.toSeq}")
    // the growth dir holds signatures for exactly the admitted docs
    val grown = spark.read.parquet(grow).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(grown.toSeq == Seq(7000001L, 7000003L),
      s"growth index must hold exactly the admitted docs: ${grown.toSeq}")
  }

  test("a crash-replayed batch overwrites its own verdicts (idempotent)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val index = NearDupStream.buildBaseIndex(docs)
    val rows = Seq(NDoc(5000001L, "one two three four five six seven"))
    val out = Files.createTempDirectory("neardup_out2").toString
    // replay = run the same batch id twice against the same outPath
    // (a restart from an uncommitted checkpoint re-delivers the batch)
    for (_ <- 1 to 2) {
      val ckpt = Files.createTempDirectory("neardup_ckpt2").toString
      val in = MemoryStream[NDoc]
      val q = NearDupStream.admissionStream(
        spark, in.toDS().toDF(), index, out, ckpt)
      try { in.addData(rows: _*); q.processAllAvailable() }
      finally q.stop()
    }
    val verdicts = spark.read.parquet(out)
    assert(verdicts.count() == 1L,
      "replaying batch 0 must overwrite, not duplicate, its verdicts")
    assert(verdicts.head().getAs[Boolean]("admit"),
      "a fresh doc with no base match must admit")
  }
}
