package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.VectorQueries

/** The streaming alignment miner must reach exactly q122's admitted
  * pairs when the source corpus arrives as micro-batches: with the
  * y-side calibration a release-time artifact, every per-xid quantity
  * is batch-local, so a pair's verdict cannot depend on how the crawl
  * was batched, on batch order, or on a crash-replayed batch
  * (idempotent per-batch overwrite).
  */
case class XVec(xid: Long, v: Seq[Double])

class AlignStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  private def sourceVecs(): Array[XVec] = {
    import spark.implicits._
    VectorQueries.alignSides(spark, dir)._1
      .select(col("xid"), col("xv")).as[(Long, Seq[Double])]
      .collect().map { case (id, v) => XVec(id, v) }.sortBy(_.xid)
  }

  test("streamed mining equals batch q122 across three micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val (bandedY, yCal, tables) = AlignStream.buildIndex(spark, dir)
    val by = bandedY.persist(); val yc = yCal.persist()
    try {
      val xs = sourceVecs()
      assert(xs.length > 10, "fixture too small to split meaningfully")
      val chunks = xs.groupBy(_.xid % 3).toSeq.sortBy(_._1).map(_._2)
      val out = Files.createTempDirectory("align_out").toString
      val ckpt = Files.createTempDirectory("align_ckpt").toString
      val in = MemoryStream[XVec]
      val q = AlignStream.miningStream(spark, in.toDS().toDF(),
        by, yc, tables, out, ckpt)
      try {
        chunks.foreach { c =>
          in.addData(c.toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val streamed = spark.read.parquet(out)
        .select("xid", "yid", "cos_e6", "margin_e6")
      val batch = VectorQueries.q122(spark, dir)
      assert(streamed.count() == batch.count(),
        "streamed admitted-pair count diverges from batch q122")
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streamed alignment rows diverge from batch q122")
    } finally { by.unpersist(); yc.unpersist() }
  }

  test("a replayed micro-batch overwrites to identical rows (idempotent)") {
    import spark.implicits._
    val (bandedY, yCal, tables) = AlignStream.buildIndex(spark, dir)
    val by = bandedY.persist(); val yc = yCal.persist()
    try {
      val xs = sourceVecs().take(40)
      val batchDf = spark.createDataset(xs.toIndexedSeq).toDF()
      val out = Files.createTempDirectory("align_replay").toString
      val (m1, x1) = AlignStream.mineBatch(batchDf, by, yc, tables)
      try m1.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$out/batch=0")
      finally x1.unpersist()
      val first = spark.read.parquet(s"$out/batch=0").collect()
        .map(_.toString).sorted
      // the crash-replay: same batch id, same data, OVERWRITE
      val (m2, x2) = AlignStream.mineBatch(batchDf, by, yc, tables)
      try m2.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$out/batch=0")
      finally x2.unpersist()
      val second = spark.read.parquet(s"$out/batch=0").collect()
        .map(_.toString).sorted
      assert(first.nonEmpty && first.sameElements(second),
        "replayed batch must rewrite identical rows")
    } finally { by.unpersist(); yc.unpersist() }
  }

  test("novel targets outside the calibration deflate to their own cosine") {
    import spark.implicits._
    // a tiny synthetic index whose calibration is EMPTY: every probe
    // falls back to ay = own cosine, margin = cos*1e6 DIV ((ax+cos)/2)
    val tables = Seq(Seq(Seq.fill(64)(0.1))) // 1 table, 1 plane: all collide
    val y = spark.range(1).select(lit(900L).as("yid"),
      array((0 until 64).map(i => lit(1.0 / (i + 1))): _*).as("v"))
    val bandedY = VectorQueries.withNorm(y)
      .select(col("yid"), col("v").as("yv"), col("nv").as("ny"))
      .withColumn("bk",
        explode(VectorQueries.bandKeyArr(col("yv"), tables)))
    val yCal = spark.emptyDataFrame
      .sparkSession.range(0).select(col("id").as("yid"),
        col("id").as("ay"))
    val x = spark.range(1).select(lit(1L).as("xid"),
      array((0 until 64).map(i => lit(1.0 / (i + 1))): _*).as("v"))
    val (mined, xTop) = AlignStream.mineBatch(x, bandedY, yCal, tables)
    try {
      val rows = mined.collect()
      // identical vectors: cos_e6 = 1e6, ax = 1e6, fallback ay = 1e6
      // -> margin exactly 1.0x < 1.4x -> REJECTED (conservative)
      assert(rows.isEmpty,
        s"uncalibrated target must not admit on unmeasured hubness: ${rows.mkString}")
    } finally xTop.unpersist()
  }
}
