package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.TextQueries

/** Streaming near-duplicate admission against a static base corpus —
  * the standing-service twin of q107's batch delta admission, and the
  * LSH step Ingest's header deliberately leaves out of the exact-dedup
  * ingest ("near-dup across batches stays LSH territory").
  *
  * Shape: the base's MinHash SIGNATURE INDEX is computed once
  * ([[buildBaseIndex]] = `TextQueries.minHashSig` over the corpus) and
  * persisted by the caller; each arriving micro-batch is a crawl
  * batch, admitted in `foreachBatch` through the SAME core as q107
  * (`TextQueries.nearDupVerdicts`): batch signatures band-join the
  * index with the batch side broadcast, candidates confirm by exact
  * Jaccard, and per-doc verdicts land under a per-batch output dir.
  *
  * Why foreachBatch and not stateful operators: admission is
  * batch-vs-BASE by definition — there is no cross-batch state and no
  * event-time ordering to respect, so a watermarked aggregation would
  * add state for nothing. (Batch-vs-batch near-dup across the stream's
  * own history is a different operator: grow the index with admitted
  * docs — a caller-policy choice this twin deliberately does not make.)
  *
  * Exactly-once: the file-source/MemoryStream checkpoint replays a
  * crashed micro-batch, whose verdicts OVERWRITE the same
  * `batch=<id>` dir — idempotent, the Ingest-quarantine protocol.
  *
  * 100 TB posture: per batch, the index is touched by two map-only
  * passes (band keys → broadcast batch probe; signature fetch →
  * broadcast candidate semi join) and never enters an exchange; all
  * shuffles are micro-batch-sized. Index passes read (doc_id, mh*)
  * and (doc_id, sh) respectively — columnar pruning keeps the band
  * pass off the shingle arrays entirely.
  */
object NearDupStream {

  /** The base signature index: (doc_id, sh, mh0-7) — persist this as
    * parquet once per corpus build; admission re-reads it per batch
    * with column pruning (band pass never reads `sh`).
    */
  def buildBaseIndex(docs: DataFrame): DataFrame =
    TextQueries.minHashSig(docs)

  /** Verdicts for one crawl batch against the index — exposed for
    * batch callers and the spec; [[admissionStream]] runs this per
    * micro-batch.
    */
  def admitBatch(batch: DataFrame, baseIndex: DataFrame): DataFrame =
    TextQueries.nearDupVerdicts(batch.select(col("doc_id")),
      baseIndex, TextQueries.minHashSig(batch))

  /** Start the admission stream. `docs` is a streaming (doc_id, text)
    * Dataset; verdict rows (doc_id, best_base, jaccard_e4, admit)
    * append under `outPath/batch=<id>`.
    *
    * `growIndexPath`: optional admit-and-grow mode — the continuous
    * crawl's real policy, where batch N must also dedup against docs
    * ADMITTED in batches < N, not just the release-time base. When
    * set, each batch (1) reads the accumulated growth dir alongside
    * `baseIndex`, and (2) appends the signatures of its own ADMITTED
    * docs under `growIndexPath/batch=<id>`. Both writes are per-batch
    * overwrites, so a crash-replayed batch converges: its re-run sees
    * the same base ∪ batches<N index (its own half-written growth
    * shard is keyed by ITS id and excluded from its read by the
    * same-batch filter below), re-derives identical verdicts, and
    * rewrites both dirs.
    *
    * Growth keeps the index honest without rebuilds; the signature
    * relation is what [[buildBaseIndex]] emits, so compaction of the
    * accrued `batch=` shards into the next corpus release is a plain
    * parquet rewrite.
    */
  def admissionStream(spark: SparkSession, docs: DataFrame,
      baseIndex: DataFrame, outPath: String,
      checkpointDir: String, growIndexPath: String = null): StreamingQuery = {
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // persisted: the emptiness probe plus admitBatch's delta
        // branches (id set, banded signatures, shingle fetch) would
        // otherwise each re-read and re-tokenize the micro-batch's
        // source files — the Ingest `parsed` precedent
        val b = batch.persist()
        try {
          // empty micro-batches happen (trigger with no new files);
          // writing an empty dir per tick would litter the output
          if (!b.isEmpty) {
            val index =
              if (growIndexPath == null) baseIndex
              else {
                val p = new org.apache.hadoop.fs.Path(growIndexPath)
                val fs = p.getFileSystem(
                  spark.sparkContext.hadoopConfiguration)
                val all =
                  if (!fs.exists(p)) Nil
                  else fs.listStatus(p).toSeq.map(_.getPath)
                    .filter(_.getName.startsWith("batch="))
                Shards.requireNoLaterShards(all, batchId, growIndexPath)
                val shards = all
                  // a replayed batch must not read its own (possibly
                  // half-written) growth shard from the crashed run
                  .filterNot(_.getName == s"batch=$batchId")
                  .map(_.toString)
                if (shards.isEmpty) baseIndex
                else baseIndex.unionByName(
                  spark.read.parquet(shards: _*))
              }
            // verdicts evaluate several times below (write + growth
            // filter); persisted so the band join runs once per batch
            val verdicts = admitBatch(b, index).persist()
            try {
              verdicts.write.mode(SaveMode.Overwrite)
                .parquet(s"$outPath/batch=$batchId")
              if (growIndexPath != null) {
                val admitted = b.join(
                  broadcast(verdicts.filter(col("admit"))
                    .select(col("doc_id"))), Seq("doc_id"))
                TextQueries.minHashSig(admitted)
                  .write.mode(SaveMode.Overwrite)
                  .parquet(s"$growIndexPath/batch=$batchId")
              }
            } finally verdicts.unpersist()
          }
        } finally b.unpersist()
      }
      .start()
  }
}
