package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.{Relational, TextQueries, VectorQueries}

/** State-store rehearsal for the standing-monitor family (near-dup
  * admission, corpus drift, decon screen, embedding drift, rate
  * anomaly) — the r8 RocksDbStateSpec's posture applied to the
  * streams added since.
  *
  * The design claim under test: these monitors keep NO state-store
  * state AT ALL. Their accumulated state is the exactly-once parquet
  * partials (counts/sums ADD; replayed batches overwrite their own
  * shard), and the per-batch pipeline is a plain foreachBatch body —
  * so a provider swap (heap -> RocksDB) is a structural no-op, and
  * monitor memory is bounded by shard size, never by keys seen. Each
  * test runs the real stream under a RocksDB-provider sibling
  * session and asserts (1) the progress reports ZERO state operators
  * — a refactor that sneaks in dropDuplicates/windowed state would
  * trip it — and (2) the readout still matches the batch twin
  * (pinned in depth by the per-stream specs; re-checked here for the
  * two cheap finishers).
  */
class MonitorStateSpec extends AnyFunSuite {

  private lazy val base = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  /** Sibling session with the RocksDB provider (shares the context,
    * own SQLConf — parallel suites keep the default provider).
    */
  private def rocksSession(): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    s
  }

  private def assertStateless(q: StreamingQuery, who: String): Unit = {
    assert(q.lastProgress != null, s"$who made no progress")
    assert(q.lastProgress.stateOperators.isEmpty,
      s"$who grew state-store operators: " +
        q.lastProgress.stateOperators.mkString(","))
  }

  test("rate-anomaly monitor: stateless under RocksDB, finishers match batch") {
    val spark = rocksSession()
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val evs = Relational.events(spark, dir)
      .select(col("ts"), col("event_type")).as[REvent].collect()
    val (b1, b2) = evs.zipWithIndex.partition(_._2 % 2 == 0)
    val parts = Files.createTempDirectory("ms_rate_parts").toString
    val ckpt = Files.createTempDirectory("ms_rate_ckpt").toString
    val in = MemoryStream[REvent]
    val q = RateAnomalyStream.rollupPartials(
      spark, in.toDS().toDF(), parts, ckpt)
    try {
      in.addData(b1.map(_._1).toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(b2.map(_._1).toIndexedSeq: _*)
      q.processAllAvailable()
      assertStateless(q, "rate-anomaly rollup")
    } finally q.stop()
    val streamed = RateAnomalyStream.anomalies(spark, parts)
    val batch = Relational.queries("q119_rate_anomaly")(spark, dir)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "RocksDB-session streamed flags diverge from q119")
  }

  test("drift monitor: stateless under RocksDB, readout matches q111") {
    val spark = rocksSession()
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val delta = TextQueries.q107Delta(docs).as[NDoc].collect()
    val (b1, b2) = delta.partition(_.doc_id % 2 == 0)
    val counts = Files.createTempDirectory("ms_drift_counts").toString
    val ckpt = Files.createTempDirectory("ms_drift_ckpt").toString
    val in = MemoryStream[NDoc]
    val q = DriftStream.deltaCounts(spark, in.toDS().toDF(), counts, ckpt)
    try {
      in.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      assertStateless(q, "drift delta counts")
    } finally q.stop()
    val streamed = DriftStream.drift(spark, counts,
      TextQueries.termCounts(docs, "cb"))
    val batch = TextQueries.q111(spark, dir)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "RocksDB-session drift readout diverges from q111")
  }

  test("near-dup admission: stateless under RocksDB") {
    val spark = rocksSession()
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val index = NearDupStream.buildBaseIndex(docs)
    val out = Files.createTempDirectory("ms_nd_out").toString
    val ckpt = Files.createTempDirectory("ms_nd_ckpt").toString
    val in = MemoryStream[NDoc]
    val q = NearDupStream.admissionStream(
      spark, in.toDS().toDF(), index, out, ckpt)
    try {
      in.addData(NDoc(7100001L,
        "quiet auroras drift over the winter fjord before dawn"))
      q.processAllAvailable()
      assertStateless(q, "near-dup admission")
    } finally q.stop()
    assert(spark.read.parquet(out).count() === 1L)
  }

  test("decon screen: stateless under RocksDB") {
    val spark = rocksSession()
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val corpus = VectorQueries.q113Corpus(spark, dir)
      .as[VDoc].collect().take(6)
    val evalIdx = VectorQueries.q113Eval(spark, dir)
    val out = Files.createTempDirectory("ms_decon_out").toString
    val ckpt = Files.createTempDirectory("ms_decon_ckpt").toString
    val in = MemoryStream[VDoc]
    val q = DeconStream.screenStream(
      spark, in.toDS().toDF(), evalIdx, out, ckpt)
    try {
      in.addData(corpus.toIndexedSeq: _*)
      q.processAllAvailable()
      assertStateless(q, "decon screen")
    } finally q.stop()
  }

  test("embedding-drift partials: stateless under RocksDB") {
    val spark = rocksSession()
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val all = VectorQueries.q114Docs(spark, dir)
    val cents = VectorQueries.sourceCentroids(all).persist()
    cents.count()
    val docs = all.as[EDoc].collect().take(8)
    val parts = Files.createTempDirectory("ms_emb_parts").toString
    val ckpt = Files.createTempDirectory("ms_emb_ckpt").toString
    val in = MemoryStream[EDoc]
    val q = EmbDriftStream.batchPartials(
      spark, in.toDS().toDF(), cents, parts, ckpt)
    try {
      in.addData(docs.toIndexedSeq: _*)
      q.processAllAvailable()
      assertStateless(q, "embedding-drift partials")
    } finally { q.stop(); cents.unpersist() }
  }
}
