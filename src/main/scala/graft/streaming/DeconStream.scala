package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.VectorQueries

/** Streaming semantic decontamination — the standing-service twin of
  * q113, and the embedding-space sibling of [[NearDupStream]]'s
  * admission: every arriving embedding micro-batch is screened
  * against the FIXED benchmark (eval) suite, and leak verdicts land
  * under a per-batch output dir for the ingest pipeline to subtract.
  *
  * Shape: the eval suite is scored once
  * ([[VectorQueries.evalIndex]] — norms precomputed, eval-sized) and
  * handed to the stream; each micro-batch runs the SAME core as q113
  * (`VectorQueries.deconFlags`): broadcast eval, map-only scoring,
  * bounded top-1 best-match.
  *
  * Why foreachBatch and not stateful operators: decontamination is
  * doc-vs-SUITE by definition — a vector's verdict depends on nothing
  * but itself and the fixed eval set, so there is no cross-batch
  * state and no event time; verdicts are embarrassingly parallel
  * across batches (the parity spec exploits exactly this).
  *
  * Exactly-once: a crash-replayed micro-batch OVERWRITES its own
  * `batch=<id>` dir — idempotent, the Ingest-quarantine protocol
  * shared by every foreachBatch sink in this package.
  *
  * 100 TB posture: identical to q113's — the eval suite broadcasts,
  * the batch is scored in place, and the only exchange is one 24-byte
  * top-1 partial row per batch vector. If the suite ever outgrows the
  * broadcast cap, shard the probe by eval partition and OR the
  * verdicts (DEPLOY.md "Decontamination").
  */
object DeconStream {

  /** The per-micro-batch body — screening + the idempotent per-batch
    * overwrite. Exposed so the replay spec exercises THE sink the
    * stream runs (a re-spelled write in the test could not catch a
    * SaveMode or path regression here).
    */
  def screenBatch(batch: Dataset[Row], evalIdx: DataFrame,
      outPath: String, batchId: Long): Unit = {
    // persisted for the emptiness probe: deconFlags itself is one
    // linear pipeline, but isEmpty is a separate action and would
    // re-read a file-source micro-batch (the Ingest precedent);
    // empty ticks happen and must not litter per-batch dirs
    val b = batch.persist()
    try {
      if (!b.isEmpty)
        VectorQueries.deconFlags(b, evalIdx)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$outPath/batch=$batchId")
    } finally b.unpersist()
  }

  /** Start the screening stream. `vecs` is a streaming
    * (vec_id, v: array&lt;double&gt;) frame; flagged
    * (vec_id, eval_id, cos_e6) rows append under
    * `outPath/batch=&lt;id&gt;`.
    */
  def screenStream(spark: SparkSession, vecs: DataFrame,
      evalIdx: DataFrame, outPath: String,
      checkpointDir: String): StreamingQuery = {
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        screenBatch(batch, evalIdx, outPath, batchId)
      }
      .start()
  }
}
