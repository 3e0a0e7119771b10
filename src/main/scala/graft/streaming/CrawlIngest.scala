package graft.streaming

import org.apache.spark.sql.{Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.sources.Jsonl
import graft.text.{Html, Urls}

/** Streaming curation with the CRAWL front — q158's chain as the
  * drop-folder service: shards carry RAW
  * pages `{doc_id, url, html}`, and each micro-batch runs
  * HTML extract (comments/CDATA/entities/quoted-attrs — the hardened
  * q142 pipeline) -> thin gate -> hardened host + suffix blocklist
  * ([[graft.text.Urls]]: userinfo-safe host capture, entries matched
  * as host suffixes — not the last-two-label heuristic) ->
  * q61 curation -> crash-atomic keyed merge, through
  * [[Ingest.curateAndMerge]] — the SAME back half as the clean-text
  * ingest, so the exactly-once and cross-batch-dedup guarantees are
  * inherited, not re-argued.
  *
  * Deliberately NOT here: q158's cluster-aware leakage-safe split.
  * Near-dup CC is corpus-global by nature — a stream cannot know a
  * future member of a cluster — so the split stays a release-time
  * batch job over the accumulated table (q124/q158), and rows merge
  * with q61's per-doc split as the provisional label. Saying so
  * beats faking it.
  *
  * Gating transparency: blocked/thin docs are normal curation
  * outcomes, not malformed input — they are recorded (doc_id,
  * domain, reason) under `gatedDir/batch=<id>` (overwrite,
  * replay-idempotent) rather than quarantined, and never reach the
  * table. Malformed/null-key lines quarantine exactly as the JSONL
  * ingest's do.
  *
  * 100 TB posture: extraction + URL gate are batch-sized map work;
  * the parameter-passed blocklist rides the plan as one array
  * literal probed per row (Urls.blockedByHostSuffix), and a
  * corpus-scale blocklist TABLE gates via
  * [[graft.text.Urls.blockedKeysByTable]]'s broadcast equi-join on
  * the exploded suffix chain (the `blocklistTable` parameter,
  * oracled as q164); everything wide is curateAndMerge's
  * documented machinery.
  */
object CrawlIngest {

  /** Explicit crawl-shard schema ([[Jsonl]]'s no-inference rule). */
  val crawlSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("url", StringType),
    StructField("html", StringType)))

  private val Corrupt = "_corrupt_record"
  private val parseSchema = crawlSchema.add(Corrupt, StringType)

  /** `blocklistTable` is the CORPUS-SCALE gate: a
    * (entry) table — public-suffix-backed deny lists, freehoster
    * registries — matched by [[Urls.blockedKeysByTable]]'s exploded
    * suffix-chain broadcast equi-join instead of riding the plan as
    * a literal. When given, it gates IN ADDITION to `blockedDomains`
    * (a service typically carries both: a small hot list in config
    * plus the big table). Null keeps the literal-only gate.
    */
  def crawlHtmlIngest(spark: SparkSession, dropDir: String,
      tablePath: String, checkpointDir: String,
      blockedDomains: Seq[String], buckets: Int = 16,
      postMergeHook: Long => Unit = _ => (),
      quarantineDir: String = null,
      gatedDir: String = null,
      blocklistTable: org.apache.spark.sql.DataFrame = null,
      blocklistEntryCol: String = "entry"): StreamingQuery = {
    Jsonl.readJsonlStreamRaw(spark, dropDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (lines: Dataset[Row], batchId: Long) =>
        val quarantine =
          Option(quarantineDir).getOrElse(Ingest.quarantinePath(tablePath))
        val parsed = lines
          .filter(col("value").rlike("\\S"))
          .select(col("value"),
            from_json(col("value"), parseSchema, Map(
              "mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> Corrupt)).as("j"))
          .persist()
        try {
          val bad = col("j").isNull || col(s"j.$Corrupt").isNotNull ||
            col("j.doc_id").isNull || col("j.url").isNull ||
            col("j.html").isNull
          val invalid = parsed.filter(bad)
            .select(col("value").as("raw"),
              when(col("j").isNull || col(s"j.$Corrupt").isNotNull,
                "malformed").otherwise("null_key").as("reason"))
          if (!invalid.isEmpty)
            invalid.write.mode(SaveMode.Overwrite)
              .json(s"$quarantine/batch=$batchId")
          val batch = parsed.filter(!bad).select(
            col("j.doc_id").as("doc_id"), col("j.url").as("url"),
            col("j.html").as("html"))
          curatePages(spark, batch, tablePath, buckets, postMergeHook,
            batchId, blockedDomains, blocklistTable, blocklistEntryCol,
            gatedDir)
        } finally parsed.unpersist()
      }
      .start()
  }

  /** One micro-batch of raw pages (doc_id, url, html) through the
    * curation front + the shared merge back half — the q158 chain:
    * extract, then gate on the HARDENED host (userinfo stripped,
    * blocklist entries matched as host suffixes — Urls' contract; the
    * recorded `domain` stays the last-two-label DISPLAY heuristic,
    * the gate key is the host itself), optional table gate, thin
    * gate, gated-doc recording, within-batch doc_id dedupe, then
    * `Ingest.curateAndMerge`. Factored out so the JSONL crawl
    * front and the WARC-shard front ([[ShardIngest
    * .warcCurationIngest]]) share one definition — the service and
    * the container boundary cannot drift.
    */
  private[streaming] def curatePages(spark: SparkSession,
      batch: org.apache.spark.sql.DataFrame, tablePath: String,
      buckets: Int, postMergeHook: Long => Unit, batchId: Long,
      blockedDomains: Seq[String],
      blocklistTable: org.apache.spark.sql.DataFrame,
      blocklistEntryCol: String, gatedDir: String): Unit = {
    val host = Urls.hostOf(col("url"))
    val staged0 = batch
      .select(col("doc_id"),
        host.as("__host"),
        Urls.displayDomain(host).as("domain"),
        Urls.blockedByHostSuffix(host, blockedDomains)
          .as("blocked_lit"),
        Html.extractMain(col("html")).getField("content").as("text"))
    // the table gate joins its MATCHED keys back (narrow explode
    // + broadcast semi join inside blockedKeysByTable; the wide
    // html/text columns never ride the explode)
    val staged1 =
      if (blocklistTable == null)
        staged0.withColumn("blocked", col("blocked_lit"))
      else staged0
        .join(Urls.blockedKeysByTable(
            staged0.select(col("doc_id"), col("__host")),
            "doc_id", "__host", blocklistTable, blocklistEntryCol)
          .withColumn("__tbl_hit", lit(true)),
          Seq("doc_id"), "left")
        .withColumn("blocked", col("blocked_lit") ||
          coalesce(col("__tbl_hit"), lit(false)))
        .drop("__tbl_hit")
    val staged = staged1.drop("blocked_lit", "__host")
      .withColumn("thin", length(col("text")) === 0)
      .persist()
    try {
      if (gatedDir != null) {
        val gated = staged.filter(col("blocked") || col("thin"))
          .select(col("doc_id"), col("domain"),
            when(col("blocked"), "blocked").otherwise("thin")
              .as("reason"))
        if (!gated.isEmpty)
          gated.write.mode(SaveMode.Overwrite)
            .json(s"$gatedDir/batch=$batchId")
      }
      val live = staged.filter(!col("blocked") && !col("thin"))
        .select(col("doc_id"), col("text"))
      // within-batch doc_id dedupe — the jsonl ingest's rule
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(md5(col("text")))
      val deduped = live
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      Ingest.curateAndMerge(spark, deduped, tablePath, buckets,
        postMergeHook, batchId)
    } finally staged.unpersist()
  }

  /** The ingested table, caller-keyed. */
  def readCurated(spark: SparkSession, tablePath: String)
      : org.apache.spark.sql.DataFrame =
    Ingest.readCurated(spark, tablePath)
}
