package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.storage.StorageLevel

import graft.model.Approach

/** Output sinks (SURVEY.md §2.1 S6/S7). The reference upserts into
  * MySQL (`INSERT .. ON DUPLICATE KEY UPDATE`, FlightAnalysis.py:
  * 400-431) and flips a per-flight done flag (py:432-437). Spark has
  * no multi-table transaction; [[writeApproaches]] is the snapshot
  * form (whole-table replace) and [[mergeApproaches]] is the
  * incremental per-key upsert matching the reference's semantics.
  */
object Sinks {

  /** S6: the 18-column approaches table. Write is partitioned by the
    * bucketed flight id so a 100 TB run produces balanced files and a
    * reader can prune by flight range.
    */
  def writeApproaches(approaches: Dataset[Approach], path: String,
      buckets: Int = 64): Unit = {
    approaches
      .drop("unstable_intervals")
      .withColumn("flight_bucket", pmod(col("flight_id"), lit(buckets)))
      .transform(byBucket(buckets))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("flight_bucket")
      .parquet(path)
    val fs = new Path(path).getFileSystem(
      approaches.sparkSession.sparkContext.hadoopConfiguration)
    writeBucketsMarker(fs, path, buckets)
  }

  /** S6 incremental: per-key upsert of an 18-column approaches batch
    * into the bucketed parquet table at `path`, matching the
    * reference's `INSERT .. ON DUPLICATE KEY UPDATE` on
    * (flight_id, approach_id) (FlightAnalysis.py:400-431): batch rows
    * replace same-key rows, other rows survive untouched. Stale
    * approach ids a re-run no longer produces also survive — exactly
    * the reference's upsert (it never deletes).
    *
    * COST. A batch of more than ~64 flights touches every bucket, so
    * rewriting each touched bucket would rewrite the whole table on
    * every merge. Instead each touched bucket is either APPENDED to,
    * at O(batch) cost, or REWRITTEN, at O(bucket) cost:
    *   - one job collects, per touched bucket, the batch's
    *     [min, max] flight id;
    *   - the driver reads the flight_id footer statistics of the
    *     touched buckets' live files (see [[collidingBuckets]]). A
    *     bucket may collide, and is rewritten as survivors ∪ batch,
    *     when a file's range overlaps the batch's, a file has no
    *     usable range, or the bucket already holds
    *     [[MaxFilesPerBucket]] files (so appends cannot grow a bucket's
    *     file count without bound);
    *   - every other touched bucket gets the batch's rows as one new
    *     file. New flights arrive as new id ranges, so in the common
    *     case nothing collides and the live table is not read.
    * The file cap is a compaction, and a compaction is not O(batch):
    * it rewrites the whole bucket, its oldest and largest file
    * included. Under a fleet stream every bucket fills at the same
    * rate, so one merge in every [[MaxFilesPerBucket]] rewrites the
    * whole table: about table/8 written per merge amortized, paid as
    * a periodic full-table spike. Compacting only the appended files
    * into one, leaving the bucket's largest file in place, with the
    * trigger staggered per bucket, would make it O(batch); that is
    * not done. The probe's driver cost also grows with the files: one
    * listing per touched bucket and one footer open per live file, in
    * series, so up to 64 × 7 = 448 opens just before a compaction.
    * On local disk an open costs well under a millisecond (SCALE.md,
    * "Keyed merge"); on an object store each is a remote round trip,
    * and these reads would have to run in parallel.
    *
    * The rewrite read covers only the colliding bucket dirs, and its
    * anti join broadcasts the batch's key projection (two small
    * columns). The table still holds one row per key. The batch is
    * evaluated once per merge: it is persisted for the merge's
    * duration (unless the caller already cached it) and the range
    * probe, the key projection and the staged write all read that
    * cache. The write runs min(touched buckets, defaultParallelism)
    * tasks and stages exactly one file per touched bucket.
    *
    * Every evaluation of the batch — including Spark's recompute of
    * an evicted cached partition — happens before the first promote
    * rename, so a batch whose lineage reads this table (the ingest's
    * cross-batch dedup probe) always observes the pre-merge table.
    *
    * CRASH SAFETY (the reference got this from MySQL's transaction,
    * py:432-437): every touched bucket's new content is STAGED in a
    * sibling dir while the live table stays untouched — the write's
    * input files are never its output files, so no mid-write state
    * can corrupt or recompute-from-deleted anything — then promoted
    * with atomic renames. A crash at ANY point leaves each bucket
    * wholly old or wholly new, never half-written:
    *   - during staging: live table untouched; stale staging is
    *     discarded by the next merge's recovery;
    *   - during an append: each appended bucket takes one rename (its
    *     staged file into the live dir, or the whole staged dir when
    *     the bucket is new), so it holds the batch's rows or it does
    *     not. A replay finds the appended buckets' footer ranges
    *     overlapping the batch, rewrites them with the same rows, and
    *     converges;
    *   - during a rewrite: replaced buckets are PARKED in the backup
    *     dir, not deleted — [[recoverInterruptedMerge]] (run at every
    *     merge start) restores any bucket missing from the live table,
    *     so survivor rows are never lost; deleting the backup is the
    *     commit point.
    * A replayed merge after recovery upserts the same keys again and
    * converges (idempotent). On a lakehouse deployment a table
    * format's MERGE INTO (Delta/Iceberg) replaces this file dance; the
    * semantics here are identical.
    *
    * SCHEMA EVOLUTION, additive only: a batch may carry columns the
    * table lacks — surviving rows in rewritten buckets null-fill
    * them, untouched buckets and files an append leaves in place keep
    * their old footers, and readers
    * take the authoritative schema from the `_graft_schema` marker
    * (one tiny file — never a per-merge footer sweep at 100 TB; see
    * [[schemaMarker]] for the crash-ordering argument), written
    * BEFORE the widening data. A batch MISSING columns the table has
    * is rejected loudly (almost always a typo'd projection, and
    * null-filling it would silently degrade every upserted key).
    */
  def mergeApproachesTable(batch: DataFrame, path: String,
      buckets: Int = 64): Unit = {
    // a batch the caller already cached is the caller's: unpersisting
    // it here would drop the caller's cache entry
    val owned = batch.storageLevel == StorageLevel.NONE
    if (owned) batch.persist()
    try mergeOnce(batch, path, buckets)
    finally if (owned) batch.unpersist()
  }

  private def mergeOnce(batch: DataFrame, path: String,
      buckets: Int): Unit = {
    val spark = batch.sparkSession
    // upsert of nothing is a no-op — and materially so: an empty
    // FIRST batch would otherwise create a file-less table dir that
    // the next merge's read cannot infer a schema from (streaming
    // micro-batches before the first emission hit exactly this)
    val ranges = batchRanges(batch, buckets)
    if (ranges.isEmpty) return
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverInterruptedMerge(fs, path)
    if (!hasCommittedData(fs, path)) {
      val withBucket = withBucketCol(batch, buckets)
      withBucket
        .transform(byBucket(ranges.size))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("flight_bucket").parquet(path)
      writeBucketsMarker(fs, path, buckets)
      writeSchemaMarker(fs, path, asNullable(withBucket.schema))
      return
    }
    checkBucketsMarker(spark, fs, path, buckets)
    // schema evolution bookkeeping: resolve the CURRENT schema (one
    // marker read; legacy tables pay one footer merge and get
    // upgraded), reject a batch missing table columns, and write the
    // union marker BEFORE any data widens — see [[schemaMarker]]
    val marker = readSchemaMarker(fs, path)
    val current = marker.getOrElse(
      spark.read.option("mergeSchema", "true").parquet(path).schema)
    val missingInBatch =
      current.fieldNames.toSet - "flight_bucket" -- batch.columns.toSet
    require(missingInBatch.isEmpty,
      s"batch is missing table columns ${missingInBatch.mkString(", ")} " +
        s"at $path — evolution is additive-only; project the batch to " +
        "carry every table column (null-fill deliberately if intended). " +
        "If this column comes from a crashed widening merge that never " +
        "landed a file, Sinks.repairSchemaMarker rebuilds the marker " +
        "from the files")
    // a changed TYPE on an existing column is never evolution: the
    // union would coerce staged files to the wide type while the
    // marker keeps the old one, and every later explicit-schema read
    // of the evolved buckets throws — corrupting the table silently
    // at THIS merge and loudly at every future one
    val retyped = batch.schema.fields.flatMap { f =>
      current.fields.find(_.name == f.name)
        .filter(_.dataType != f.dataType)
        .map(c => s"${f.name}: table ${c.dataType.simpleString} vs " +
          s"batch ${f.dataType.simpleString}")
    }
    require(retyped.isEmpty,
      s"batch changes column types at $path — ${retyped.mkString("; ")}; " +
        "type changes are not additive evolution, rewrite the table")
    val added = batch.schema.fields
      .filterNot(f => current.fieldNames.contains(f.name))
    if (added.nonEmpty)
      writeSchemaMarker(fs, path,
        asNullable(org.apache.spark.sql.types.StructType(
          current.fields ++ added)))
    else if (marker.isEmpty)
      writeSchemaMarker(fs, path, asNullable(current)) // legacy upgrade
    val plan = planMerge(fs, path, ranges)
    stageMerge(batch, path, buckets, plan)
    promoteStaged(fs, path, plan)
  }

  private def withBucketCol(batch: DataFrame, buckets: Int): DataFrame =
    batch.withColumn("flight_bucket",
      pmod(col("flight_id"), lit(buckets)).cast("int"))

  /** Per bucket the batch touches, the batch's [min, max] flight id,
    * collected in one job (at most `buckets` small rows); empty iff the
    * batch is.
    */
  private[graft] def batchRanges(batch: DataFrame,
      buckets: Int): Map[Int, (Long, Long)] = {
    val id = col("flight_id").cast("long")
    withBucketCol(batch, buckets).groupBy(col("flight_bucket"))
      .agg(min(id), max(id)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  /** A bucket holding this many files is rewritten to one file by the
    * next merge that touches it: each append adds a file, and every
    * read of the bucket pays per file. The value comes from the
    * steady-state curve in SCALE.md ("Keyed merge", `Dev merges`): a
    * full read of a 64-bucket table grew by about 0.05 s for each file
    * added per bucket, and a compaction merge cost about 0.8–2.3 s
    * more than an append. With one full read per merge, the sum of the
    * amortized compaction and the extra read time is least for a cap
    * between about 6 and 10; a table read more often wants a lower cap.
    */
  private[graft] val MaxFilesPerBucket = 8

  /** Which touched buckets a merge rewrites and which it appends to.
    * `touched` is sorted; `colliding` is the subset to rewrite.
    */
  private[graft] final case class MergePlan(touched: Seq[Int],
      colliding: Set[Int]) {
    def appended: Seq[Int] = touched.filterNot(colliding)
  }

  private[graft] def planMerge(fs: FileSystem, path: String,
      ranges: Map[Int, (Long, Long)]): MergePlan =
    MergePlan(ranges.keys.toSeq.sorted, collidingBuckets(fs, path, ranges))

  private def isPartFile(st: FileStatus): Boolean =
    st.isFile && st.getPath.getName.startsWith("part-")

  /** The touched buckets the batch may share a key with: a live
    * `part-` file's flight_id range overlaps the batch's range for
    * that bucket, or a file has no usable range, or the bucket already
    * holds [[MaxFilesPerBucket]] files. The footers are read on the
    * driver, only for touched buckets, with the read options built once
    * per merge: opening each file with options rebuilt from the Hadoop
    * conf (`HadoopInputFile.fromPath`) cost about 10 ms a file, against
    * 0.3 ms with shared options (64 footers, 4-core VM). The listings
    * and opens run one after another: with 7 files in each of 64
    * buckets (448 footers) they took 0.13–0.23 s on local disk. On an
    * object store each open is a remote round trip, so there they
    * would need to run in parallel.
    */
  private def collidingBuckets(fs: FileSystem, path: String,
      ranges: Map[Int, (Long, Long)]): Set[Int] = {
    val conf = fs.getConf
    val options = HadoopReadOptions.builder(conf).build()
    val live = fs.listStatus(new Path(path)).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    ranges.filter { case (b, (lo, hi)) =>
      live(bucketDir(b)) && {
        val files = fs.listStatus(new Path(path, bucketDir(b)))
          .filter(isPartFile)
        files.length >= MaxFilesPerBucket ||
        files.exists(f => footerIdRange(f, conf, options)
          .forall { case (fLo, fHi) => fLo <= hi && lo <= fHi })
      }
    }.keySet
  }

  /** The [min, max] flight_id over a parquet file's row groups, from
    * its footer statistics; None when any row group lacks a usable
    * range (no statistics, only nulls, not an integer) or the file has
    * no row groups.
    */
  private def footerIdRange(st: FileStatus, conf: Configuration,
      options: ParquetReadOptions): Option[(Long, Long)] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(st, conf), options)
    val perGroup =
      try reader.getFooter.getBlocks.asScala.toSeq.map { block =>
        block.getColumns.asScala
          .find(_.getPath.toDotString == "flight_id")
          .map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
          .flatMap(s => (s.genericGetMin, s.genericGetMax) match {
            case (lo: java.lang.Number, hi: java.lang.Number) =>
              Some((lo.longValue, hi.longValue))
            case _ => None
          })
      } finally reader.close()
    if (perGroup.isEmpty || perGroup.exists(_.isEmpty)) None
    else Some((perGroup.flatten.map(_._1).min, perGroup.flatten.map(_._2).max))
  }

  /** Hash-partitions rows on `flight_bucket` into
    * min(`touched`, defaultParallelism) tasks for a partitioned write.
    * A by-column repartition lets AQE coalesce a small batch into one
    * partition, and one task then writes every bucket file in series;
    * AQE never coalesces a by-number repartition. Each bucket value
    * hashes to exactly one task, so each written bucket dir gets
    * exactly one file.
    */
  private def byBucket(touched: Int)(rows: DataFrame): DataFrame =
    rows.repartition(
      math.max(1, math.min(touched,
        rows.sparkSession.sparkContext.defaultParallelism)),
      col("flight_bucket"))

  private def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(nullable = true)))

  /** Run the merge's crash recovery WITHOUT merging — for readers
    * that must observe a consistent table before the next merge (the
    * ingest's cross-batch probe): a crash mid-promote leaves buckets
    * parked in the backup dir, and a read taken before recovery would
    * miss their rows. Idempotent; a no-op on a clean table.
    */
  def recoverTable(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverInterruptedMerge(fs, path)
  }

  /** True iff `path` holds COMMITTED table data (at least one part
    * file outside `_temporary`). A dir that exists with only write
    * debris — a crashed initial write leaves `_temporary` and no
    * committed files — must be treated as an absent table: reading it
    * throws "unable to infer schema" and a merge must take the
    * initial-write branch (whose Overwrite replaces the debris).
    */
  private[graft] def hasCommittedData(fs: FileSystem,
      path: String): Boolean = {
    val p = new Path(path)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.startsWith("part-") &&
        !f.toString.contains("_temporary")) return true
    }
    false
  }

  /** The table's bucket-count marker (`_graft_buckets`, an
    * underscore-prefixed file the parquet reader ignores). A merge
    * called with a DIFFERENT bucket count than the table was written
    * with would place a flight's new rows in a different partition
    * dir than its old rows — the partition-pruned survivor anti join
    * then never sees the old rows and the "upsert" silently
    * duplicates keys. The marker makes that a loud error instead.
    */
  private def bucketsMarker(path: String) = new Path(path, "_graft_buckets")

  /** The table's schema marker (`_graft_schema`, underscore-prefixed
    * like the buckets marker): the authoritative read schema,
    * written AHEAD of any data that widens it. Without it, an
    * additively-evolved table is only readable correctly via
    * `mergeSchema=true` — a footer sweep across every file, PER
    * MERGE, which at 100 TB turns each micro-batch upsert into a
    * full-table metadata pass. A marker that is AHEAD of the files
    * (crash after marker write, before promote) never corrupts data
    * — the explicit-schema read null-fills the not-yet-written
    * column — though if the crashed widening merge is abandoned
    * instead of replayed, the stranded column blocks normal-width
    * batches until [[repairSchemaMarker]] rebuilds the marker from
    * the files (a loud, one-call repair). A marker BEHIND the files
    * would make the next merge's survivor rewrite silently DROP the
    * new column — unrepairable data loss — which is why it is
    * written before staging, never after promote.
    */
  private def schemaMarker(path: String) = new Path(path, "_graft_schema")

  /** Replace the marker crash-atomically: write a sibling tmp file,
    * delete the old marker, rename the tmp in. An in-place overwrite
    * would have a truncate-then-write window where a crash (or a
    * concurrent reader) sees a half-written marker and every read
    * throws on its JSON; with the rename protocol every crash window
    * leaves either the old marker intact or NO marker — and a missing
    * marker is the legacy state readers already heal from (footer
    * merge, re-upgraded on the next merge).
    */
  private def writeSchemaMarker(fs: FileSystem, path: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val tmp = new Path(path, "_graft_schema.tmp")
    val out = fs.create(tmp, true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    fs.delete(schemaMarker(path), false)
    checkedRename(fs, tmp, schemaMarker(path))
  }

  /** Recompute the schema marker from the files (one footer sweep) —
    * the repair for the one schema crash window the merge protocol
    * cannot self-heal: a widening merge that wrote its marker ahead
    * and then died before promoting any file with the new column. If
    * that merge is never replayed, the marker demands a column no
    * file carries and every normal-width batch is rejected; this
    * rebuilds the marker from what actually landed.
    */
  def repairSchemaMarker(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeSchemaMarker(fs, path, asNullable(
      spark.read.option("mergeSchema", "true").parquet(path).schema))
  }

  private[sinks] def readSchemaMarker(fs: FileSystem, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val m = schemaMarker(path)
    if (!fs.exists(m)) return None
    // exists-then-open races the writer's delete+rename replacement
    // window: a vanished marker is the legacy no-marker state, not an
    // error — fall back to the footer merge like any marker-less read
    val in =
      try fs.open(m)
      catch { case _: java.io.FileNotFoundException => return None }
    val json =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    Some(org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Read the table with the marker schema when present (one tiny
    * file instead of every footer); legacy tables without a marker
    * fall back to a footer merge, which the next merge upgrades.
    * Non-empty `dirs` narrows the read to those bucket dirs of the
    * table, keeping `flight_bucket` as a partition column.
    */
  private def readTableSchemaAware(
      spark: org.apache.spark.sql.SparkSession, fs: FileSystem,
      path: String, dirs: Seq[String] = Nil): DataFrame = {
    val reader = readSchemaMarker(fs, path) match {
      case Some(schema) => spark.read.schema(schema)
      case None => spark.read.option("mergeSchema", "true")
    }
    if (dirs.isEmpty) reader.parquet(path)
    else reader.option("basePath", path).parquet(dirs: _*)
  }

  private def writeBucketsMarker(fs: FileSystem, path: String,
      buckets: Int): Unit = {
    val out = fs.create(bucketsMarker(path), true)
    try out.write(buckets.toString.getBytes("UTF-8")) finally out.close()
  }

  private def checkBucketsMarker(spark: org.apache.spark.sql.SparkSession,
      fs: FileSystem, path: String, buckets: Int): Unit = {
    val m = bucketsMarker(path)
    if (fs.exists(m)) {
      val in = fs.open(m)
      val stored =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(stored == buckets.toString,
        s"approaches table at $path is bucketed with $stored buckets but " +
          s"the merge was called with $buckets — a changed bucket count " +
          "silently splits keys across partition dirs; use the original " +
          "count or rewrite the table")
    } else {
      // pre-marker table: adopt the caller's count — but verify it
      // against the DATA first. Dir names alone cannot confirm a
      // count (an 8-bucket legacy table's dirs 0..7 look consistent
      // with buckets=64 too, and dirs are sparse — only touched
      // buckets exist); the sound invariant is that every row's
      // pmod(flight_id, buckets) equals the partition dir it sits in.
      // One full scan, paid exactly once per legacy table at adoption
      // time; adopting a wrong count would silently duplicate keys on
      // every future merge AND enshrine the wrong count as
      // authoritative, so loud-and-once beats fast-and-wrong.
      if (fs.exists(new Path(path))) {
        val mismatched = spark.read.parquet(path)
          .filter(pmod(col("flight_id"), lit(buckets)).cast("int")
            =!= col("flight_bucket").cast("int"))
          .limit(1).count()
        require(mismatched == 0,
          s"approaches table at $path has rows whose " +
            s"pmod(flight_id, $buckets) differs from their partition " +
            "dir — the caller's count does not match the legacy " +
            "layout; use the original count or rewrite the table")
      }
      writeBucketsMarker(fs, path, buckets)
    }
  }

  private def stagingPath(path: String) = new Path(path + ".__staging")
  private def backupPath(path: String) = new Path(path + ".__backup")
  private def bucketDir(b: Int) = s"flight_bucket=$b"

  /** Phase 1 of the merge commit: write every touched bucket's new
    * content to the staging sibling dir — survivors ∪ batch for the
    * colliding buckets, the batch's rows alone for the appended ones.
    * The live table is only READ here — staging failure leaves it
    * exactly as it was. Returns the plan the promote follows.
    */
  private[sinks] def stageMerge(batch: DataFrame, path: String,
      buckets: Int): MergePlan = {
    val fs = new Path(path)
      .getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val plan = planMerge(fs, path, batchRanges(batch, buckets))
    stageMerge(batch, path, buckets, plan)
    plan
  }

  private def stageMerge(batch: DataFrame, path: String, buckets: Int,
      plan: MergePlan): Unit = {
    val spark = batch.sparkSession
    val newRows = withBucketCol(batch, buckets)
    val staged = if (plan.colliding.isEmpty) newRows else {
      // schema-aware read: after a previous ADDITIVE evolution, older
      // files still carry the old footer — a single-footer read would
      // make the new column invisible for exactly those files. The
      // marker (written ahead of the widening merge) provides the
      // authoritative schema without a footer sweep; the additive-only
      // guard lives in [[mergeApproachesTable]]. Only the colliding
      // bucket dirs are read, so up to Spark's parallel-discovery
      // threshold (32 paths) they are listed on the driver.
      val fs = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val existing = readTableSchemaAware(spark, fs, path,
        plan.colliding.toSeq.sorted.map(b => new Path(path, bucketDir(b)).toString))
        .withColumn("flight_bucket", col("flight_bucket").cast("int"))
      val survivors = existing.join(
        broadcast(batch.select(col("flight_id"), col("approach_id")).distinct()),
        Seq("flight_id", "approach_id"), "left_anti")
      survivors.unionByName(newRows, allowMissingColumns = true)
    }
    staged
      .transform(byBucket(plan.touched.size))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("flight_bucket").parquet(stagingPath(path).toString)
  }

  /** Phase 2 of the merge commit: move the staged buckets into the
    * live table via atomic renames.
    *   - An appended bucket takes one rename: its staged file into the
    *     live bucket dir, or the whole staged dir when the bucket is
    *     new.
    *   - A colliding bucket is swapped: the old version is PARKED in
    *     the backup dir (never deleted before the swap completes) and
    *     the staged dir renamed in; the backup delete at the end is
    *     the commit point. Interrupted at any rename,
    *     [[recoverInterruptedMerge]] restores every parked bucket the
    *     live table is missing.
    * Each bucket is always wholly old or wholly new.
    */
  private[sinks] def promoteStaged(fs: FileSystem, path: String,
      plan: MergePlan): Unit = {
    val staging = stagingPath(path)
    val backup = backupPath(path)
    // validate BEFORE renaming anything: a missing staged bucket must
    // abort while the live table is still fully intact
    plan.touched.foreach { b =>
      require(fs.exists(new Path(staging, bucketDir(b))),
        s"staged bucket $b missing under $staging — aborting promote")
    }
    plan.appended.foreach { b =>
      val (staged, live) = (new Path(staging, bucketDir(b)), new Path(path, bucketDir(b)))
      if (!fs.exists(live)) checkedRename(fs, staged, live)
      else fs.listStatus(staged).filter(isPartFile).foreach { f =>
        checkedRename(fs, f.getPath, new Path(live, f.getPath.getName))
      }
    }
    if (plan.colliding.nonEmpty) {
      val colliding = plan.touched.filter(plan.colliding)
      fs.mkdirs(backup)
      colliding.foreach { b =>
        checkedRename(fs, new Path(path, bucketDir(b)), new Path(backup, bucketDir(b)))
      }
      colliding.foreach { b =>
        checkedRename(fs, new Path(staging, bucketDir(b)),
          new Path(path, bucketDir(b)))
      }
      // the commit point: after this, recovery keeps the new versions
      fs.delete(backup, true)
    }
    fs.delete(staging, true)
  }

  /** Roll back an interrupted merge promotion: every bucket parked in
    * the backup dir that the live table is missing is restored (the
    * crash happened between its park and its promote), then the backup
    * and any stale staging are discarded. Buckets present in BOTH live
    * and backup keep the live (already promoted) version. Idempotent;
    * run at the start of every merge, so an interrupted commit heals
    * on the next attempt and a replayed batch converges.
    */
  private[sinks] def recoverInterruptedMerge(fs: FileSystem,
      path: String): Unit = {
    val backup = backupPath(path)
    val staging = stagingPath(path)
    if (fs.exists(backup)) {
      fs.listStatus(backup).filter(_.isDirectory).foreach { st =>
        val live = new Path(path, st.getPath.getName)
        if (!fs.exists(live)) checkedRename(fs, st.getPath, live)
      }
      fs.delete(backup, true)
    }
    if (fs.exists(staging)) fs.delete(staging, true)
  }

  /** Hadoop filesystems report most rename failures (dest exists, src
    * vanished, transient FS errors) by returning FALSE, not throwing.
    * An unchecked park/promote rename that silently no-ops would let
    * execution reach the backup delete — the commit point — and drop
    * the only surviving copy of a bucket. Every swap rename goes
    * through here so a failed rename aborts BEFORE the commit point,
    * where [[recoverInterruptedMerge]] can still heal the table.
    */
  private def checkedRename(fs: FileSystem, src: Path, dst: Path): Unit =
    require(fs.rename(src, dst),
      s"rename $src -> $dst failed (filesystem returned false) — " +
        "aborting before the merge commit point; the next merge's " +
        "recovery pass will restore any parked buckets")

  /** [[mergeApproachesTable]]'s staged/parked upsert protocol for ANY
    * table keyed by (`keyCol`, `subKeyCol`) — e.g. a curated-documents
    * table keyed by (doc_id, rev). The protocol's canonical internal
    * column names are flight_id / approach_id / flight_bucket; this
    * wrapper maps the caller's key names in (so the batch must not
    * already carry the canonical names), [[readKeyedTable]] maps them
    * back on read. `keyCol` must be integral — it drives the bucket
    * assignment.
    */
  def mergeKeyedTable(batch: DataFrame, path: String, keyCol: String,
      subKeyCol: String, buckets: Int = 64): Unit = {
    // either the caller's keys ARE the canonical names (both of
    // them), or NEITHER canonical name may already exist — a partial
    // overlap would make withColumnRenamed silently produce duplicate
    // columns and fail far from the misuse
    val hasCanonical = batch.columns.contains("flight_id") ||
      batch.columns.contains("approach_id")
    require(!hasCanonical ||
      (keyCol == "flight_id" && subKeyCol == "approach_id"),
      "batch already carries the protocol's canonical column names " +
        "(flight_id/approach_id) — call mergeApproachesTable directly")
    mergeApproachesTable(
      batch.withColumnRenamed(keyCol, "flight_id")
        .withColumnRenamed(subKeyCol, "approach_id"),
      path, buckets)
  }

  /** Read back a table written by [[mergeKeyedTable]], restoring the
    * caller's key column names (the bucket column stays available for
    * pruned reads under its canonical name).
    *
    * A table that evolved additively (see [[mergeApproachesTable]])
    * is read via its schema marker — one tiny file, not a footer
    * sweep — so columns that untouched buckets' footers predate are
    * visible (null-filled). Legacy tables without a marker fall back
    * to a footer merge.
    */
  def readKeyedTable(spark: org.apache.spark.sql.SparkSession,
      path: String, keyCol: String, subKeyCol: String): DataFrame = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readTableSchemaAware(spark, fs, path)
      .withColumnRenamed("flight_id", keyCol)
      .withColumnRenamed("approach_id", subKeyCol)
  }

  /** Typed form of [[mergeApproachesTable]]. */
  def mergeApproaches(batch: Dataset[Approach], path: String,
      buckets: Int = 64): Unit =
    mergeApproachesTable(batch.drop("unstable_intervals"), path, buckets)

  /** S8: console sink — the reference prints each approach tuple to
    * stdout as it inserts (FlightAnalysis.py:426-427). Batch form:
    * `show` without truncation (driver-side, debug scale only).
    */
  def printApproaches(df: DataFrame, numRows: Int = 20): Unit =
    df.show(numRows, truncate = false)

  /** S8 streaming twin: the Structured Streaming console sink, for
    * wiring a streamed approaches table to stdout
    * (`consoleStream(df).start()`).
    */
  def consoleStream(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.format("console").outputMode("append")

  /** S6 streaming twin: continuous per-key upsert. Each micro-batch
    * runs the SAME merge as the batch path (foreachBatch →
    * [[mergeApproachesTable]]), so a streamed detector feeds the
    * identical bucketed table an incremental batch job would.
    * Structured Streaming replays a micro-batch after a crash
    * (at-least-once), and the merge is a per-key upsert of
    * deterministic rows — idempotent — so replayed BATCHES converge
    * to the same table state. Crash-DURING-commit is covered by the
    * merge's staged-write + parked-rename protocol (see
    * [[mergeApproachesTable]]): survivor rows are never deleted
    * before the swap completes, and the replayed micro-batch's
    * recovery step restores any bucket the interrupted promote left
    * parked.
    */
  def mergeStream(approaches: DataFrame, path: String,
      buckets: Int = 64): DataStreamWriter[Row] =
    approaches.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        mergeApproachesTable(batch, path, buckets); ()
      }

  /** S6+S7 coupled commit. The reference runs the approaches upsert
    * and the per-flight done-flag update inside ONE DB transaction
    * (FlightAnalysis.py:432-437); parquet has no cross-table
    * transaction, so this helper provides the same effective
    * guarantee by WRITE ORDER plus idempotence:
    *
    *   1. the approaches batch is merged first ([[mergeApproachesTable]]);
    *   2. the done flags are written only after that merge is durable.
    *
    * A crash between the two leaves the flights still PENDING (flag
    * unset), so the work-list re-runs them — and the re-run's merge
    * is a per-key upsert of identical rows, converging to the same
    * table. Net: at-least-once execution, exactly-once table state —
    * the same end state the reference's transaction gives, without
    * claiming atomic visibility (readers can observe merged approaches
    * for a flight whose flag is not yet set; the reverse, a flagged
    * flight with missing approaches, cannot happen). On a lakehouse,
    * a multi-table transaction (or one Delta/Iceberg commit over both
    * tables) replaces this ordering contract.
    */
  def commitFlightAnalysis(batch: DataFrame, flights: DataFrame,
      approachesPath: String, flagsPath: String, buckets: Int = 64): Unit = {
    mergeApproachesTable(batch, approachesPath, buckets)
    writeAnalysisFlags(flights, flagsPath)
  }

  /** S7: the processed-flag table (flight_id, approach_analysis=1).
    * Derived from the *input* flight set, not the approaches output —
    * a flight with zero approaches is still done (py:56-57 runs the
    * update unconditionally).
    */
  def analysisFlags(flights: DataFrame): DataFrame =
    flights.select(col("flight").as("flight_id")).distinct()
      .withColumn("approach_analysis", lit(1))

  def writeAnalysisFlags(flights: DataFrame, path: String): Unit =
    analysisFlags(flights).write.mode(SaveMode.Overwrite).parquet(path)
}
