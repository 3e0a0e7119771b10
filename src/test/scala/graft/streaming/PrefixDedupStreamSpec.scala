package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.text.TextOps

/** The streaming EXACT prefix-dedup admission ([[PrefixDedupStream]])
  * must (1) agree with the brute-force cross-Jaccard ground truth —
  * the losslessness the operator exists for — and (2) be invariant to
  * how the crawl was batched, since admission is per-doc-vs-BASE.
  */
case class PDoc(doc_id: Long, text: String)

class PrefixDedupStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  // base corpus: distinct vocabularies per doc so ground truth is
  // controlled; batch: one near-copy (2 of 12 tokens changed,
  // J well above 7/10), one borderline-below copy, one fresh doc
  private val base = Seq(
    PDoc(1L, "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11"),
    PDoc(2L, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"),
    PDoc(3L, "d0 d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11"))
  private val nearCopy = PDoc(100L,
    "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 x0") // 9 shared shingles: J = 9/11
  private val freshDoc = PDoc(101L,
    "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11")
  private val halfCopy = PDoc(102L,
    "c0 c1 c2 c3 c4 c5 y0 y1 y2 y3 y4 y5") // J far below 7/10

  private def df(docs: Seq[PDoc]) = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  /** Brute-force ground truth: cross (batch, base) pairs with
    * J ≥ 7/10 from the UNfiltered inverted index.
    */
  private def bruteRejects(batch: Seq[PDoc]): Map[Long, Long] =
    TextOps.jaccardPairs(df(base ++ batch), 0.7, shingleN = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .collect { case (a, b, j) if a <= 3L && b >= 100L => b -> a }
      .toMap

  test("batch admission equals the brute-force cross-Jaccard truth") {
    val batch = Seq(nearCopy, freshDoc, halfCopy)
    val (ordered, dfTbl) = PrefixDedupStream.buildBaseIndex(df(base))
    val got = PrefixDedupStream.admitBatch(df(batch), ordered, dfTbl)
      .collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(3)))
      .sortBy(_._1)
    val truth = bruteRejects(batch)
    assert(truth.keySet === Set(100L), "fixture: only the near-copy rejects")
    assert(got.toSeq === Seq(
      (100L, Some(1L), false),
      (101L, None, true),
      (102L, None, true)))
  }

  test("streamed verdicts are batching-invariant and idempotent") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val (ordered, dfTbl) = PrefixDedupStream.buildBaseIndex(df(base))
    val out = Files.createTempDirectory("pfx_out").toString
    val ckpt = Files.createTempDirectory("pfx_ckpt").toString
    val in = MemoryStream[PDoc]
    val q = PrefixDedupStream.admissionStream(
      spark, in.toDS().toDF(), ordered, dfTbl, out, ckpt)
    try {
      in.addData(nearCopy)
      q.processAllAvailable()
      in.addData(freshDoc, halfCopy)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("doc_id", "best_base", "jaccard_e4", "admit")
    val oneShot = PrefixDedupStream.admitBatch(
      df(Seq(nearCopy, freshDoc, halfCopy)), ordered, dfTbl)
    assert(streamed.count() === 3L)
    assert(streamed.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(streamed).isEmpty,
      "stream verdicts diverge from the one-shot batch verdicts")
  }

  test("reported jaccard_e4 matches the rational score") {
    val (ordered, dfTbl) = PrefixDedupStream.buildBaseIndex(df(base))
    val got = PrefixDedupStream
      .admitBatch(df(Seq(nearCopy)), ordered, dfTbl)
      .collect().head
    // 12-token docs -> 10 3-gram shingles; the copy keeps 9 of base
    // doc 1's shingles (the b0..b10 run): J = 9/11. Verify against
    // the pair join's own computation rather than hand arithmetic:
    val pair = TextOps.jaccardPairs(df(base :+ nearCopy), 0.5, shingleN = 3)
      .filter(col("id_b") === 100L).collect().head
    assert(got.getLong(2) === pair.getLong(3),
      "admission must report the same e4 score as the pair join")
  }
}
