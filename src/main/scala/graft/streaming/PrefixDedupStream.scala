package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.TextOps

/** Streaming EXACT near-dup admission against a static base corpus —
  * the lossless twin of [[NearDupStream]]: where that service admits
  * through MinHash-LSH (probabilistic recall, band-collision
  * tuning), this one admits through the prefix-filtered exact
  * Jaccard join (q145's machinery via
  * [[TextOps.prefixAdmitVerdicts]]) — a batch doc is rejected iff
  * some base doc's true Jaccard ≥ τ, with the prefix lemma carrying
  * the no-false-negatives guarantee instead of a recall audit. The
  * trade is priced, not hidden: the exact path fetches full shingle
  * sets for its candidates, so LSH stays the cheaper default and
  * this is the service for admission decisions that must be
  * defensible (compliance-grade dedup, eval-set protection).
  *
  * Shape mirrors NearDupStream: the base index is a release-time
  * artifact ([[buildBaseIndex]] = ordered-sets table + the (s, df)
  * shingle order batches sort THEIR shingles by), each micro-batch
  * admits in `foreachBatch` and lands verdicts under a per-batch
  * output dir. Admission is batch-vs-BASE by definition — no
  * cross-batch state, no event time — so foreachBatch over stateful
  * operators is the honest shape, and stream == batch parity is
  * structural (PrefixDedupStreamSpec proves it and the batch-split
  * invariance).
  *
  * Exactly-once: a crash-replayed micro-batch rewrites the same
  * `batch=<id>` dir — idempotent, the Ingest-quarantine protocol.
  *
  * 100 TB posture: per batch the index is touched by two passes —
  * prefix probe (base prefix rows ⋈ broadcast batch prefixes) and
  * verification fetch (base sets ⋈ broadcast candidates) — and never
  * enters an exchange; all shuffles are batch-sized.
  */
object PrefixDedupStream {

  /** Default admission threshold: τ = 7/10, matching q145. */
  val TauNum = 7
  val TauDen = 10

  /** The release-time index: (ordered-sets table, (s, df) order) —
    * persist both as parquet once per corpus build.
    */
  def buildBaseIndex(docs: DataFrame, shingleN: Int = 3)
      : (DataFrame, DataFrame) =
    TextOps.buildPrefixIndex(docs, shingleN)

  /** Verdicts for one crawl batch — exposed for batch callers and the
    * spec; [[admissionStream]] runs this per micro-batch.
    */
  def admitBatch(batch: DataFrame, baseOrdered: DataFrame,
      baseDf: DataFrame, shingleN: Int = 3): DataFrame =
    TextOps.prefixAdmitVerdicts(batch, baseOrdered, baseDf,
      TauNum, TauDen, shingleN)

  /** Start the admission stream. `docs` is a streaming (doc_id, text)
    * Dataset; verdict rows (doc_id, best_base, jaccard_e4, admit)
    * land under `outPath/batch=<id>`.
    */
  def admissionStream(spark: SparkSession, docs: DataFrame,
      baseOrdered: DataFrame, baseDf: DataFrame, outPath: String,
      checkpointDir: String, shingleN: Int = 3): StreamingQuery = {
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // persisted: the emptiness probe plus the admission's batch
        // branches (ordered sets, prefixes, verdict join) would each
        // re-read and re-tokenize the micro-batch's source otherwise
        val b = batch.persist()
        try {
          if (!b.isEmpty) {
            admitBatch(b, baseOrdered, baseDf, shingleN)
              .write.mode(SaveMode.Overwrite)
              .parquet(s"$outPath/batch=$batchId")
          }
        } finally b.unpersist()
      }
      .start()
  }
}
