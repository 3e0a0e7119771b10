package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.MultimodalQueries.limbKeysOf

/** Streaming perceptual near-dup admission for IMAGES and AUDIO —
  * the q140/q155 fingerprints' streaming twin: NearDupStream covers text MinHash and PrefixDedupStream
  * exact text, but a crawl's media arrivals need the same
  * admit-against-release-time-index service. Each micro-batch's
  * payloads decode ON THE EXECUTORS to the 64-bit fingerprint
  * (dHash for images — real PGM/JPEG decode; sign-of-energy-delta
  * for audio — real WAV decode), band as four 16-bit limbs against
  * the base index's limb buckets, confirm by EXACT Hamming distance,
  * and emit one verdict row per media item: admit iff no base item
  * within `maxHam`.
  *
  * Shared machinery, not a re-spelling: the bucket-key encoding is
  * `MultimodalQueries.limbKeysOf` — the SAME formula q140/q141/q155/
  * q156 band with — so the stream's recall characteristics are
  * exactly the batch family's (pigeonhole-exhaustive at hamming <= 3
  * with 4 limbs; the q141/q156 anchored audits measure the tail).
  *
  * Shape (q107's delta-admission): the batch's limb keys BROADCAST
  * against the index's exploded keys — the index is touched by one
  * map-only pass per batch and never enters an exchange; candidates,
  * Hamming confirms, and verdicts are all batch-sized. foreachBatch,
  * not stateful operators: admission is batch-vs-BASE, no cross-batch
  * state (growth policy is the caller's, as NearDupStream's header
  * argues).
  *
  * Exactly-once: verdicts overwrite `outPath/batch=<id>` — a
  * crash-replayed batch re-derives identical verdicts from the same
  * release-time index and rewrites its own dir (the Ingest protocol;
  * spec-proven by replaying a batch).
  *
  * 100 TB posture: decode+hash is map-only (payloads never shuffle,
  * one decoder handle per 64-item batch via BatchedDecode); the only
  * joins are broadcast-batch-side against the column-pruned
  * (media_id, l0..l3) index.
  */
object MediaDedupStream {

  /** Hamming admit threshold — q140/q155's MaxHam. */
  val MaxHam = 8

  /** Build the image base index (media_id, l0..l3) from a batch
    * media frame (media_id, payload: PGM/JPEG bytes) — persist as
    * parquet per corpus release. Malformed payloads drop (the
    * decode-or-quarantine rule lives with the caller's walk).
    */
  def buildImageIndex(media: DataFrame): DataFrame =
    graft.multimodal.BatchedDecode.decodeDHash(media).toDF()

  /** Build the audio base index (media_id, l0..l3) from (media_id,
    * payload: WAV bytes). Too-short waveforms (under
    * [[graft.multimodal.AudioHash.MinSamples]]) drop.
    */
  def buildAudioIndex(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        for {
          (_, smp) <- graft.multimodal.Codecs.decodeWavSamples(p)
          l <- graft.multimodal.AudioHash.limbs(smp)
        } yield (id, l(0), l(1), l(2), l(3))
      }
      .toDF("media_id", "l0", "l1", "l2", "l3")
  }

  private def hamming(prefix: String): Column =
    (0 until 4).map(l =>
      bit_count(col(s"$prefix$l").bitwiseXOR(col(s"l$l"))))
      .reduce(_ + _).cast("long")

  /** Verdicts for one hashed micro-batch against the index — exposed
    * for batch callers and the spec; the streams run this per batch.
    * Returns (media_id, best_base, best_hamming, admit, verdict):
    * best = the (hamming, base_id)-min OTHER-item candidate, null
    * when no limb collided; verdict ∈ {admit, duplicate,
    * already_indexed}. A batch id already PRESENT in the base index
    * (a re-delivered item) gets `already_indexed` / admit=false —
    * id-equality means "same item", and silently excluding the
    * self-match would re-admit an exact duplicate whenever the
    * caller's growth policy appends admits to the index. Its
    * best_base/best_hamming still report the nearest OTHER item
    * (null when none collided), so the row stays informative.
    */
  def admitBatch(batchHashes: DataFrame, baseIndex: DataFrame,
      maxHam: Int = MaxHam): DataFrame = {
    val base = baseIndex.select(col("media_id").as("base_id"),
      col("l0").as("bl0"), col("l1").as("bl1"),
      col("l2").as("bl2"), col("l3").as("bl3"),
      explode(limbKeysOf("l")).as("bk"))
    val probe = batchHashes.select(col("media_id"),
      col("l0"), col("l1"), col("l2"), col("l3"),
      explode(limbKeysOf("l")).as("bk"))
    val best = base.join(broadcast(probe), Seq("bk"))
      .filter(col("base_id") =!= col("media_id"))
      .select(col("media_id"), col("base_id"), hamming("bl").as("ham"))
      .distinct() // several limbs may collide for one pair
      .groupBy(col("media_id"))
      .agg(min(struct(col("ham"), col("base_id"))).as("b"))
      .select(col("media_id"), col("b.base_id").as("best_base"),
        col("b.ham").as("best_hamming"))
    // same transport shape as the limb probe: the index is touched by
    // one map-only pass against the broadcast batch ids and never
    // enters an exchange; the hit set is batch-bounded
    val inBase = baseIndex.select(col("media_id"))
      .join(broadcast(batchHashes.select(col("media_id"))),
        Seq("media_id"))
      .distinct()
      .withColumn("in_base", lit(true))
    batchHashes.select(col("media_id"))
      .join(best, Seq("media_id"), "left")
      .join(inBase, Seq("media_id"), "left")
      .withColumn("verdict",
        when(col("in_base"), "already_indexed")
          .when(col("best_hamming").isNotNull &&
            col("best_hamming") <= maxHam, "duplicate")
          .otherwise("admit"))
      .withColumn("admit", col("verdict") === "admit")
      .drop("in_base")
  }

  /** Start the image admission stream: `media` is a streaming
    * (media_id, payload) frame; verdicts land under
    * `outPath/batch=<id>`.
    */
  def imageAdmissionStream(spark: SparkSession, media: DataFrame,
      baseIndex: DataFrame, outPath: String, checkpointDir: String,
      postBatchHook: Long => Unit = _ => ()): StreamingQuery =
    runStream(spark, media, baseIndex, outPath, checkpointDir,
      postBatchHook)(buildImageIndex)

  /** Start the audio admission stream (same protocol, WAV payloads). */
  def audioAdmissionStream(spark: SparkSession, media: DataFrame,
      baseIndex: DataFrame, outPath: String, checkpointDir: String,
      postBatchHook: Long => Unit = _ => ()): StreamingQuery =
    runStream(spark, media, baseIndex, outPath, checkpointDir,
      postBatchHook)(buildAudioIndex)

  private def runStream(spark: SparkSession, media: DataFrame,
      baseIndex: DataFrame, outPath: String, checkpointDir: String,
      postBatchHook: Long => Unit)(hash: DataFrame => DataFrame)
      : StreamingQuery =
    media.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // persisted: the emptiness probe and the verdict join's two
        // probe branches would each re-decode the batch's payloads
        val hashes = hash(batch).persist()
        try {
          if (!hashes.isEmpty) {
            admitBatch(hashes, baseIndex)
              .write.mode(SaveMode.Overwrite)
              .parquet(s"$outPath/batch=$batchId")
            postBatchHook(batchId)
          }
        } finally hashes.unpersist()
      }
      .start()
}
