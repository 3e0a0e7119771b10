package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.queries.TextQueries
import graft.sinks.Sinks
import graft.sources.Jsonl

/** The production drop-folder ingest, composed end-to-end from parts
  * that are each individually oracled: JSONL shards landing in a
  * directory ([[Jsonl.readJsonlStream]]) → the q61 curation decision
  * per micro-batch ([[TextQueries.curate]]) → idempotent keyed upsert
  * into the bucketed curated-documents table
  * ([[Sinks.mergeKeyedTable]]).
  *
  * Exactly-once table state from at-least-once execution: the file
  * source's checkpoint tracks which shards each micro-batch read, and
  * a crash AFTER the merge but BEFORE the checkpoint commit replays
  * the whole micro-batch — whose rows are then either dropped by the
  * cross-batch digest probe (merge committed: digests already in the
  * table) or re-admitted onto the same (doc_id, rev) keys (merge
  * rolled back by its recovery) — both converge (spec-proven with an
  * injected post-merge crash). A crash DURING the merge commit is
  * covered by the merge's own staged-write + parked-rename protocol.
  *
  * Cross-BATCH duplicate text under a different doc_id is handled
  * with the q80 delta-dedup shape: each admitted row carries its
  * text digest into the table, and a new batch's digests are probed
  * against the accumulated table before merging — the table side is
  * one column-pruned scan joined against a BROADCAST of the
  * micro-batch's digests, so the accumulated corpus never shuffles.
  *
  * 100 TB posture: curation's only wide work is the within-batch
  * exact-dedup digest shuffle (micro-batch-sized, not corpus-sized);
  * language/quality/split ride the scan; the cross-batch probe scans
  * one 32-char column of the table per batch (swap in a dedicated
  * digest side-table or Bloom filter — `bloom_build` — when the scan
  * dominates). Near-dup text across batches stays LSH territory
  * (q31/q33 over the accumulated table), deliberately not re-solved
  * per batch.
  */
object Ingest {

  /** Explicit ingest schema ([[Jsonl]]'s no-inference rule). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** PERMISSIVE-mode capture column: `from_json` sets this to the
    * raw input on a parse/conversion failure, distinguishing a
    * malformed line from one that parsed to legitimate nulls.
    */
  private val Corrupt = "_corrupt_record"
  private val parseSchema = docSchema.add(Corrupt, StringType)

  /** Default quarantine location: a SIBLING of the table (never
    * nested inside it — the merge protocol owns the table directory's
    * layout).
    */
  def quarantinePath(tablePath: String): String =
    tablePath.stripSuffix("/") + "_quarantine"

  /** Start the composed ingest. `postMergeHook` is a test seam: it
    * runs after each micro-batch's merge is durable but before Spark
    * commits the batch to the checkpoint — throwing from it simulates
    * a crash in exactly the window that forces a replay of an
    * already-merged batch.
    *
    * Bad shard lines never reach the table OR kill the stream: the
    * shards are tailed as RAW TEXT ([[Jsonl.readJsonlStreamRaw]])
    * and parsed with `from_json`, so the original line travels
    * verbatim next to its parse result — a malformed/ill-typed line
    * or a parsed row with a null key field is routed to
    * `quarantineDir` as `{raw, reason}` JSONL with the raw line
    * preserved BYTE-IDENTICAL for every reason (the JSON source's
    * `_corrupt_record` only surrenders the raw text for unparseable
    * lines; a null-key line would come back reconstructed, losing
    * any fields outside the ingest schema). Quarantine writes land
    * under a fixed `batch=<id>` path with overwrite so a
    * crash-replayed batch rewrites rather than duplicates its rows.
    * At 100 TB a poison shard is a certainty, and the two failure
    * modes this prevents are both silent: crash-looping the stream
    * on a throw, or merging all-null rows under a null key. A
    * long-lived stream accrues one small `batch=<id>` dir per
    * poisoned batch — run [[graft.operators.Compaction]] over the
    * quarantine on whatever cadence its triage runs.
    */
  def curatedJsonlIngest(spark: SparkSession, dropDir: String,
      tablePath: String, checkpointDir: String, buckets: Int = 16,
      postMergeHook: Long => Unit = _ => (),
      quarantineDir: String = null): StreamingQuery =
    Jsonl.readJsonlStreamRaw(spark, dropDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (lines: Dataset[Row], batchId: Long) =>
        import spark.implicits._
        val quarantine =
          Option(quarantineDir).getOrElse(quarantinePath(tablePath))
        // parsed once per batch: quarantine split, emptiness probe,
        // and the curation input all reuse the cached parse instead
        // of re-reading + re-parsing the shard files per evaluation
        // blank separator lines / trailing newlines are a fact of
        // concatenated JSONL; the JSON source skipped them silently
        // and so do we — they carry nothing to triage, and each one
        // would otherwise mint a content-free quarantine dir. \S,
        // not trim(): SQL trim strips only ASCII spaces, and a tab
        // separator line would still slip through
        val parsed = lines
          .filter(col("value").rlike("\\S"))
          .select(col("value"),
            from_json(col("value"), parseSchema, Map(
              "mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> Corrupt)).as("j"))
          .persist()
        try {
          val bad = col("j").isNull || col(s"j.$Corrupt").isNotNull ||
            col("j.doc_id").isNull || col("j.text").isNull
          val invalid = parsed.filter(bad)
            .select(col("value").as("raw"),
              when(col("j").isNull || col(s"j.$Corrupt").isNotNull,
                "malformed").otherwise("null_key").as("reason"))
          if (!invalid.isEmpty)
            invalid.write.mode(SaveMode.Overwrite)
              .json(s"$quarantine/batch=$batchId")
          val batch = parsed.filter(!bad)
            .select(col("j.doc_id").as("doc_id"), col("j.text").as("text"))
          // duplicate doc_ids within one micro-batch (an at-least-once
          // producer landing a doc in two shards) must not upsert two
          // rows onto one (doc_id, rev) key: keep one deterministically
          // (smallest digest) before curation
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(md5(col("text")))
          val deduped = batch
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
          curateAndMerge(spark, deduped, tablePath, buckets,
            postMergeHook, batchId)
        } finally parsed.unpersist()
      }
      .start()

  /** Curate a prepared (doc_id, text) micro-batch and merge the
    * admitted rows into the keyed table — the shared BACK HALF of
    * the ingest family: [[curatedJsonlIngest]] (clean-text shards)
    * and [[CrawlIngest]] (raw-HTML shards with the q142/q143 front)
    * both land here, so the exactly-once + cross-batch-dedup
    * argument is written once.
    */
  private[streaming] def curateAndMerge(spark: SparkSession,
      deduped: DataFrame, tablePath: String, buckets: Int,
      postMergeHook: Long => Unit, batchId: Long): Unit = {
    // persisted: the cross-batch digest probe and the anti-join
    // below both read `kept` — without the persist each would re-run
    // curation AND re-read the batch's source files. The merge
    // itself evaluates its input once (it caches the batch for its
    // own duration)
    val kept = TextQueries.curate(deduped, keepDigest = true)
      .filter(col("keep"))
      .withColumn("rev", lit(0L))
      .select(col("doc_id"), col("rev"), col("lang_pred"),
        col("quality_e4"), col("split"), col("text_md5"))
      .persist()
    try {
      // heal any interrupted merge BEFORE observing the table: a
      // crash mid-promote leaves buckets parked in the backup
      // dir, and a probe read taken first would miss their
      // digests — re-admitting a dup on replay
      Sinks.recoverTable(spark, tablePath)
      val fs = new org.apache.hadoop.fs.Path(tablePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // q80 delta-dedup shape, one table scan per batch: the
      // accumulated table's digest column probes a broadcast of
      // the batch's digests; the matched set (bounded by the
      // batch's distinct texts, never corpus-sized) is PERSISTED
      // on the executors so the merge's evaluation replays a
      // cached-hits broadcast anti-join, never the table
      // scan — and no digest round-trips through an application
      // collect (the broadcast build is Spark's managed,
      // size-guarded path).
      // Lost-cache safety: if evicted/lost `hits` partitions are
      // recomputed, the lineage re-scans the table — which is
      // SAFE here because the merge protocol evaluates its input
      // (one per-bucket id-range collect that fills the merge's
      // cache, then the staged write reading it; a recompute of an evicted
      // cached partition included) strictly BEFORE the first
      // promote rename: every possible recompute observes the
      // stable pre-merge table, the same one the original scan
      // read. A merge that evaluated its input after promoting
      // would break this; mergeApproachesTable's stage-then-
      // promote ordering is the invariant relied on.
      var hits: DataFrame = null
      val admitted =
        if (!Sinks.hasCommittedData(fs, tablePath)) kept
        else {
          val table = spark.read.parquet(tablePath)
          require(table.columns.contains("text_md5"),
            s"curated table at $tablePath was written without text " +
              "digests — the stored rows carry no text to backfill " +
              "from, so cross-batch dedup cannot run against it; " +
              "rewrite the table (re-ingest) or start a new path")
          // guarded transport (broadcast under the cap, SMJ
          // fallback past it) — a poison mega-batch must degrade
          // to a shuffle, not OOM the driver mid-stream
          hits = graft.text.TextOps.matchedBaseDigests(
            table.select(col("text_md5")), kept, "text_md5").persist()
          // the count pins the persist before the merge's
          // evaluation AND guards the anti-join's transport
          // with the same cap as the probe (shared constant, so
          // the two regimes can never drift apart)
          val hitsTransport =
            if (hits.count() <= graft.text.TextOps.MaxBroadcastDigests)
              broadcast(hits)
            else hits.hint("merge")
          kept.join(hitsTransport, Seq("text_md5"), "left_anti")
        }
      try {
        Sinks.mergeKeyedTable(admitted, tablePath, "doc_id", "rev",
          buckets)
      } finally if (hits != null) hits.unpersist()
      postMergeHook(batchId)
    } finally kept.unpersist()
  }

  /** The ingested table, caller-keyed. */
  def readCurated(spark: SparkSession, tablePath: String): DataFrame =
    Sinks.readKeyedTable(spark, tablePath, "doc_id", "rev")
}
