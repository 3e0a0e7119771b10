package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.VectorQueries

/** Streaming embedding-drift monitor — the embedding-space member of
  * the monitoring trio (text drift: [[DriftStream]]/q111; join-key
  * skew: SkewStream/q106; this: the q114 centroid geometry).
  *
  * What it answers, standing: are the embeddings of the incoming
  * crawl drifting away from each source's release-time centroid? A
  * falling mean centroid-cosine per source means the new crawl no
  * longer looks like the corpus the centroids (and everything
  * downstream: IVF codebooks, ANN planes, quality classifiers) were
  * fit on — the retrain/recluster signal, caught while the crawl
  * lands.
  *
  * Why this shape streams: the per-source state is (sum of cos_e6,
  * count) and both ADD — associative, commutative, replay-idempotent
  * (the DriftStream/SketchStream decomposition) — so each micro-batch
  * appends one catalog-sized (source, sum_cos_e6, n) partial table
  * and the accumulated table re-aggregates to EXACTLY the all-data
  * sums. The mean (one integer division per source) has no such
  * decomposition, so it lives in the finisher over the tiny partials.
  *
  * Exactly-once: a crash-replayed micro-batch OVERWRITES its own
  * `batch=<id>` dir (the Ingest-quarantine protocol shared by every
  * foreachBatch sink in this package).
  *
  * 100 TB posture: centroids are catalog-sized and broadcast
  * ([[VectorQueries.centroidCos]] is map-only over the batch); the
  * per-batch exchange is the (source, partial-sum) aggregate —
  * sources x tasks rows; the finisher reads only the accrued partial
  * shards. Compact the shards on the quarantine cadence.
  */
object EmbDriftStream {

  /** Start the standing partials stream: per micro-batch of
    * (source, doc_id, v) rows, one map-side-combined
    * (source, sum_cos_e6, n) aggregate appended under
    * `partialsPath/batch=<id>`. `cents` is the release-time centroid
    * table ([[VectorQueries.sourceCentroids]], persisted).
    */
  def batchPartials(spark: SparkSession, docs: DataFrame,
      cents: DataFrame, partialsPath: String,
      checkpointDir: String): StreamingQuery = {
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        partialsBatch(batch, cents, partialsPath, batchId)
      }
      .start()
  }

  /** The per-micro-batch body — exposed so the replay spec exercises
    * THE sink the stream runs (the DeconStream.screenBatch precedent).
    */
  def partialsBatch(batch: Dataset[Row], cents: DataFrame,
      partialsPath: String, batchId: Long): Unit = {
    val b = batch.persist()
    try {
      if (!b.isEmpty)
        VectorQueries.centroidCos(b.toDF(), cents)
          .groupBy(col("source"))
          .agg(sum(col("cos_e6")).as("sum_cos_e6"),
            count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$partialsPath/batch=$batchId")
    } finally b.unpersist()
  }

  /** Finisher: accumulated partials → per-source
    * (mean_cos_e6, n_docs). Truncating integer division (Spark DIV —
    * truncation, not floor: cosine sums can be negative) so any
    * reader and the parity spec's batch twin land on identical
    * values. Before the first non-empty batch lands, the partials
    * dir has no parquet to infer a schema from — return the empty
    * readout instead of throwing (the monitor may be polled from the
    * moment the stream starts).
    */
  def drift(spark: SparkSession, partialsPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    Shards.readOrEmpty(spark, partialsPath, StructType(Seq(
        StructField("source", StringType),
        StructField("sum_cos_e6", LongType),
        StructField("n", LongType))))
      .groupBy(col("source"))
      .agg(sum(col("sum_cos_e6")).as("s"), sum(col("n")).as("n_docs"))
      .select(col("source"), expr("s DIV n_docs").as("mean_cos_e6"),
        col("n_docs"))
      .orderBy(col("source"))
  }
}
