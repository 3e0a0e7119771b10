package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Release-time index REBUILD — the loop-closing operator between
  * the streaming admissions and the batch releases:
  * LineDedupStream and NearDupStream accrue one small
  * `batch=<id>` growth shard per micro-batch, and a release build
  * compacts base ∪ growth into the NEXT release's single artifact so
  * the per-batch shard list never grows unboundedly.
  *
  * Protocol (the swap is the caller's transaction):
  *   0. the admission stream is STOPPED (quiesced) — this is a
  *      precondition, not a nicety: with the stream still running, a
  *      batch committing between step 1's growth-dir read and the
  *      step-2 restart writes its digests only to the OLD growth dir,
  *      which step 3 deletes — those admitted digests would vanish
  *      from the index and their lines/docs re-admit later;
  *   1. `compactLineIndex` / `compactSignatureIndex` writes the
  *      rebuilt artifact to a NEW path (plain parquet overwrite —
  *      the artifact is immutable once released, so the bucketed
  *      merge protocol would be machinery without a use);
  *   2. the caller restarts the admission stream pointing at the new
  *      base with a FRESH (empty) growth dir;
  *   3. only then is the old growth dir deleted.
  *   A crash between (1) and (3) leaves both the old base + old
  *   growth (still consistent, still serving) and the new artifact
  *   (complete or torn under `_temporary` — either way unreferenced
  *   until the swap). With step 0 honored, nothing in this sequence
  *   loses an admitted digest.
  *
  * Semantics preserved BY CONSTRUCTION: admission against the
  * rebuilt artifact equals admission against base ∪ shards — for
  * lines because membership in a distinct-digest set is union-
  * associative; for signatures because the index relation is
  * doc-keyed rows the band join reads side-by-side (spec-proven on
  * grown streams in both cases). The two artifacts that are NOT
  * union-compactable — the q145 prefix index (corpus-global (s, df)
  * order) and the q124 cluster-split keeper map (a new doc can merge
  * clusters) — rebuild by RE-DERIVATION over the compacted corpus
  * instead ([[rebuiltPrefixIndex]], [[rebuiltKeeperMap]]); their
  * scaladocs carry the argument.
  *
  * 100 TB posture: one wide distinct over 32-char digests (the line
  * form) or a by-key union append (the signature form); growth
  * shards are micro-batch-sized, so the rebuild is dominated by
  * re-writing the base — the cost every release build already pays.
  */
object IndexRebuild {

  /** [[LineDedupStream]]'s growth-shard schema (one digest column),
    * pinned so an empty/missing growth dir reads as zero rows
    * instead of failing inference (the Shards.readOrEmpty rule).
    */
  val LineIndexSchema: StructType =
    StructType(Seq(StructField("lh", StringType)))

  /** Base ∪ accrued growth shards, distinct — the next release's
    * line index as a frame (callers persist or write it).
    */
  def rebuiltLineIndex(spark: SparkSession, baseIndex: DataFrame,
      growIndexPath: String): DataFrame =
    baseIndex.select("lh")
      .unionByName(
        // select the pinned column: reading the growth ROOT triggers
        // partition discovery, which appends a `batch` column the
        // per-shard reads inside the streams never see
        Shards.readOrEmpty(spark, growIndexPath, LineIndexSchema)
          .select("lh"))
      .distinct()

  /** Write the rebuilt line index to `outPath` (step 1 of the swap
    * protocol above).
    */
  def compactLineIndex(spark: SparkSession, baseIndex: DataFrame,
      growIndexPath: String, outPath: String): Unit =
    rebuiltLineIndex(spark, baseIndex, growIndexPath)
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  /** Base ∪ accrued signature growth shards — the next release's
    * MinHash signature index ([[NearDupStream]]'s admit-and-grow
    * appends whole signature rows, so the rebuild is a by-key union;
    * `base` wins a doc_id collision (a replayed batch can only have
    * appended the SAME signature rows, and an id genuinely re-used
    * across base and growth is producer error the anti-join makes
    * harmless rather than silently doubling).
    */
  def rebuiltSignatureIndex(spark: SparkSession, baseIndex: DataFrame,
      growIndexPath: String): DataFrame = {
    val grown = Shards.readOrEmpty(spark, growIndexPath,
        baseIndex.schema)
      // drop the discovered `batch` partition column (see the line
      // form's note)
      .select(baseIndex.columns.map(org.apache.spark.sql.functions.col): _*)
    baseIndex.unionByName(
      grown.join(baseIndex.select("doc_id"), Seq("doc_id"),
        "left_anti"))
  }

  /** Write the rebuilt signature index to `outPath`. */
  def compactSignatureIndex(spark: SparkSession, baseIndex: DataFrame,
      growIndexPath: String, outPath: String): Unit =
    rebuiltSignatureIndex(spark, baseIndex, growIndexPath)
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  // ---- prefix index (PrefixDedupStream / q145) ----

  /** The next release's PREFIX-dedup index — the q145 ordered-sets
    * table + (s, df) shingle order, RE-DERIVED from the compacted
    * corpus (base docs ∪ admitted docs), NOT unioned from shards.
    * Union is wrong here in a way it isn't for the line/signature
    * indexes: the (s, df) order is corpus-global state, so
    * ordered-sets rows written under different orders violate the
    * prefix lemma's premise (both docs' prefixes must be drawn from
    * the SAME total order). Two sound rebuild modes exist —
    *   (a) FULL re-derive (this method): recompute df over the whole
    *       compacted corpus; restores the df-ascending pruning
    *       heuristic to full strength;
    *   (b) frozen-order append (cheap intermediate, not provided as
    *       code because it is a one-line orderedSets call with the
    *       OLD df table): order new docs' sets by the frozen base
    *       order — still lossless (the lemma holds for ANY fixed
    *       total order), but pruning degrades as true df drifts.
    * A release build wants (a); its cost is re-writing the index the
    * release already pays for.
    */
  def rebuiltPrefixIndex(docs: DataFrame, shingleN: Int = 3)
      : (DataFrame, DataFrame) =
    graft.text.TextOps.buildPrefixIndex(docs, shingleN)

  /** Write the re-derived prefix index (ordered-sets + (s, df)) —
    * step 1 of the same stop/compact/restart/delete swap protocol.
    * The (s, df) table is written first and the sets are ordered
    * against the written table, so the shingle pass runs twice (once
    * per write) instead of three times: ordering against the lazy
    * (s, df) frame would recompute it inside the ordered write. The
    * rows equal [[rebuiltPrefixIndex]]'s.
    */
  def compactPrefixIndex(docs: DataFrame, orderedOutPath: String,
      dfOutPath: String, shingleN: Int = 3): Unit = {
    import graft.text.TextOps
    val inv = TextOps.shingleInv(docs, shingleN)
    TextOps.shingleDf(inv).write.mode(SaveMode.Overwrite).parquet(dfOutPath)
    TextOps.orderedSets(inv, docs.sparkSession.read.parquet(dfOutPath))
      .write.mode(SaveMode.Overwrite).parquet(orderedOutPath)
  }

  // ---- cluster-split keeper map (q124) ----

  /** The next release's cluster-aware split KEEPER MAP — (doc_id,
    * keeper, bucket, split), re-derived over the compacted corpus
    * with q124's machinery (near-dup CC, every member bucketed on its
    * keeper's salted hash). Re-derivation, never union, for the same
    * reason as the prefix index: cluster structure is corpus-global —
    * a newly admitted doc can BRIDGE two previously separate
    * clusters, and the merged group must unify under one keeper.
    *
    * Stability contract (the honest semantics, spec-pinned): doc→
    * split assignments are stable under GROWTH that doesn't merge
    * clusters (singletons keep themselves as keeper; existing
    * clusters keep their min label). When a merge happens, the merged
    * group's keeper is the min of the old keepers, so the docs of at
    * most one side flip split — and they flip TOGETHER, preserving
    * the invariant that no near-dup group ever straddles a split
    * boundary. A release that needs frozen assignments for already-
    * shipped eval sets should diff the new map against the old and
    * QUARANTINE flipped groups from eval use rather than pretend the
    * merge didn't happen.
    */
  def rebuiltKeeperMap(docs: DataFrame, minJaccard: Double = 0.5)
      : DataFrame =
    keeperMap(docs, clusters(docs, minJaccard))

  /** The near-dup (id, label) clusters of `docs`, as a persisted frame
    * the caller unpersists ([[graft.text.TextOps.dedupClusters]]). */
  private def clusters(docs: DataFrame, minJaccard: Double): DataFrame = {
    graft.text.TextOps.dedupClusters(
      graft.text.TextOps.jaccardPairs(docs, minJaccard))
  }

  private def keeperMap(docs: DataFrame, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select(col("doc_id"))
      .join(clusters, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("keeper"))
      .withColumn("bucket",
        call_function("md5_long60",
          concat(lit("split:"), col("keeper").cast("string"))) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid").otherwise("test"))
  }

  /** Write the re-derived keeper map — same swap protocol — and
    * release the cluster labels' cache once the write has finished. */
  def compactKeeperMap(docs: DataFrame, outPath: String,
      minJaccard: Double = 0.5): Unit = {
    val labels = clusters(docs, minJaccard)
    try keeperMap(docs, labels).write.mode(SaveMode.Overwrite).parquet(outPath)
    finally labels.unpersist()
  }
}
