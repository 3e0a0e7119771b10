package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared per-batch-shard reading for the standing monitors
  * (DriftStream, EmbDriftStream, RateAnomalyStream): their finishers
  * may be polled from the moment the stream starts, BEFORE the first
  * non-empty micro-batch has written a `batch=<id>` shard — at which
  * point the partials dir has no parquet to infer a schema from and
  * a bare read throws. One helper instead of one copy per monitor.
  */
private[streaming] object Shards {

  /** Read the accumulated `batch=` shards under `path`, or an empty
    * frame of `schema` if none have landed yet (missing dir
    * included).
    */
  def readOrEmpty(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasShards = fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith("batch="))
    if (hasShards)
      // schema PINNED, not inferred: a first batch dir caught
      // mid-write (or crashed mid-write) exists but holds only the
      // committer's _temporary dir — zero data files — and schema
      // inference would throw exactly the pre-first-batch crash this
      // helper closes; with the schema supplied the torn dir reads
      // as zero rows and the next poll sees the completed shard
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Refuse a growth dir carrying shards from batches LATER than the
    * one being processed (found by the release-cycle rehearsal):
    * under one checkpoint lineage that state is impossible — shards
    * land in batch order, and a replayed batch N implies no batch > N
    * ever committed — so a later shard means the stream was restarted
    * with a FRESH checkpoint against an already-grown dir. Batch ids
    * would restart at 0 and silently OVERWRITE the earlier shards
    * (the admitted digests vanish and their docs re-admit later).
    * Failing the query loudly here turns that silent data loss into
    * an operator-visible error; the legitimate restarts are (a) the
    * ORIGINAL checkpoint (ids continue) or (b) the release protocol's
    * rebuilt base + fresh (empty) growth dir.
    *
    * Honest limit: a dir holding ONLY batch=0 clobbered by a fresh
    * checkpoint's batch 0 is indistinguishable from a genuine batch-0
    * replay at the file level (a replay rewrites the same digests, so
    * convergence holds there) — the guard covers the grown (>= 2
    * shard) dir, which is every service past its first two batches.
    */
  def requireNoLaterShards(shards: Seq[org.apache.hadoop.fs.Path],
      batchId: Long, growPath: String): Unit = {
    val later = shards
      .flatMap(p => scala.util.Try(
        p.getName.stripPrefix("batch=").toLong).toOption)
      .filter(_ > batchId)
    require(later.isEmpty,
      s"growth dir $growPath holds shards from later batches " +
        s"(${later.sorted.mkString(",")}) than the one being " +
        s"processed ($batchId): the stream was restarted with a " +
        "fresh checkpoint against an already-grown dir, which would " +
        "silently overwrite admitted digests. Restart with the " +
        "original checkpoint, or rebuild the base and start a fresh " +
        "growth dir (the release protocol).")
  }
}
