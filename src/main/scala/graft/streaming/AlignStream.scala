package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.VectorQueries

/** Streaming bitext/alignment mining against a static target corpus —
  * the standing-service twin of q122's batch banded margin miner, the
  * NearDupStream shape applied to the vector path: production bitext
  * mining runs on crawl batches, each probing a release-time index.
  *
  * Release-time artifacts ([[buildIndex]], persisted by the caller):
  * the band-keyed target side, the y-side hubness calibration ay
  * (each target's top-4 average cosine against the REFERENCE source
  * corpus), and the band tables. ay is corpus-level calibration —
  * recomputed per index release, exactly like the band index itself —
  * because a per-batch ay would make a pair's verdict depend on how
  * the crawl was batched, the property the parity spec forbids. With
  * the calibration static, every per-xid quantity (candidates, top-4,
  * ax, ybest) is batch-local, so splitting the source corpus into any
  * number of micro-batches reproduces batch q122's rows EXACTLY.
  *
  * Why foreachBatch and not stateful operators: mining is
  * batch-vs-BASE by definition — no cross-batch state, no event-time
  * ordering — the NearDupStream argument verbatim.
  *
  * Exactly-once: a crash-replayed micro-batch rewrites the same
  * `batch=<id>` dir (idempotent overwrite, the Ingest-quarantine
  * protocol).
  *
  * 100 TB posture: per batch, the index is touched by two map-only
  * passes — band keys -> capped bipartite probe (batch side
  * bucket-joined against the static band index), then calibration
  * fetch -> broadcast semi join on the batch's ybest keys — and never
  * enters an exchange; all shuffles are micro-batch-sized. The
  * calibration pass reads (yid, ay) only: columnar pruning keeps it
  * off the vectors entirely.
  */
object AlignStream {

  /** The release-time index triple: (bandedY, yCal, tables). Persist
    * the first two as parquet per corpus release; `tables` is the
    * deterministic salt-derived SRP family, reconstructed from the
    * corpus dir by the same call.
    */
  def buildIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[Seq[Seq[Double]]]) =
    VectorQueries.alignStreamIndex(spark, dir)

  /** Mine one micro-batch of source vectors (xid, v: array<double>)
    * against the index — exposed for batch callers and the parity
    * spec; [[miningStream]] runs this per micro-batch. The per-xid
    * top-4 is persisted for its two consumers (the calibration-key
    * fetch and the admission join); the caller owns the returned
    * frame, and the persist is dropped by [[miningStream]] after the
    * batch's write (batch-sized — letting it accumulate across ticks
    * would leak the JVM's storage memory).
    */
  def mineBatch(xBatch: DataFrame, bandedY: DataFrame, yCal: DataFrame,
      tables: Seq[Seq[Seq[Double]]]): (DataFrame, DataFrame) = {
    val xTop = VectorQueries.alignXTop4(
      VectorQueries.alignScoredPairs(
        VectorQueries.alignBatchKeys(xBatch, tables), bandedY))
      .persist()
    xTop.count() // eager: key fetch + admission join are siblings
    // fetch ONLY the calibration rows this batch's partners need:
    // a broadcast semi join keyed by the batch's ybest set — the
    // index-sized yCal never shuffles, the fetched slice is
    // batch-sized and safe to broadcast into the admission join
    val need = xTop.select(col("ybest").as("yid")).distinct()
    val cal = yCal.join(broadcast(need), Seq("yid"))
    (VectorQueries.alignAdmit(xTop, cal), xTop)
  }

  /** Start the mining stream. `xs` is a streaming (xid,
    * v: array<double>) frame; admitted alignment rows (xid, yid,
    * cos_e6, margin_e6) land under `outPath/batch=<id>`.
    */
  def miningStream(spark: SparkSession, xs: DataFrame,
      bandedY: DataFrame, yCal: DataFrame,
      tables: Seq[Seq[Seq[Double]]], outPath: String,
      checkpointDir: String): StreamingQuery = {
    xs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val b = batch.persist()
        try {
          // empty ticks happen; don't litter empty batch dirs
          if (!b.isEmpty) {
            val (mined, xTop) = mineBatch(b, bandedY, yCal, tables)
            try mined.write.mode(SaveMode.Overwrite)
              .parquet(s"$outPath/batch=$batchId")
            finally xTop.unpersist()
          }
        } finally b.unpersist()
      }
      .start()
  }
}
