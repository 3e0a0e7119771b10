package graft.functions

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{call_function, col}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** graft's native functions come with the session: a session built
  * through [[graft.GraftSession]] carries them, and so does every
  * session cloned from it, with no register call anywhere. A
  * `newSession()` registry starts from the built-ins plus what the
  * session's extensions inject, so these cases see only the
  * injection.
  */
class FunctionInstallSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private val names = Seq("md5_long60", "shingle_hash60", "dot_f64",
    "topk_by_score", "collect_members_capped", "rep_stats2", "bloom_build",
    "cms_build", "hll_build", "hll_merge", "hll_card", "hll_regsum",
    "char_gram_stats", "simhash64", "nfc_normalize", "deflate_len")

  private def exists(s: SparkSession, name: String) =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  test("a newSession() resolves all 16 functions without a register call") {
    val s = spark.newSession()
    val missing = names.filterNot(exists(s, _))
    assert(missing.isEmpty, s"newSession() lacks ${missing.mkString(", ")}")
  }

  test("a foreachBatch batch session of a newSession() stream evaluates " +
      "md5_long60 and deflate_len") {
    val s = spark.newSession()
    implicit val sc = s.sqlContext
    import s.implicits._
    val texts = Seq("alpha beta gamma", "delta delta delta delta")
    val seen = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val sessions = new ConcurrentLinkedQueue[SparkSession]()
    val in = MemoryStream[String]
    val q = in.toDF().writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("fn_install_ckpt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sessions.add(batch.sparkSession)
        batch.select(col("value"),
          call_function("md5_long60", col("value")),
          call_function("deflate_len", col("value")))
          .collect().foreach(r => seen.add((r.getString(0), r.getLong(1), r.getLong(2))))
      }
      .start()
    try {
      in.addData(texts: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(sessions.asScala.nonEmpty && sessions.asScala.forall(_ ne s),
      "the batch ran on the stream's own session, not a clone")
    val expected = texts.map { t =>
      val u = UTF8String.fromString(t)
      (t, HashUtil.md5Long60(u), DeflateUtil.deflateLen(u))
    }
    assert(seen.asScala.toSeq.sortBy(_._1) == expected.sortBy(_._1))
  }

  test("register adds back only what is missing and replaces nothing") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val lines = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("function-install-spec", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    // a logger config of its own for the registry, removed afterwards
    // so the rest of the run logs as before
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val name = registry.getClass.getName
    val hadConfig = ctx.getConfiguration.getLoggers.containsKey(name)
    val logger = ctx.getLogger(name)
    logger.addAppender(appender)
    def replaced = lines.asScala.filter(_.contains("replaced a previously registered function"))
    try {
      assert(registry.dropFunction(FunctionIdentifier("md5_long60")))
      assert(!exists(s, "md5_long60"))
      GraftFunctions.register(s)
      GraftFunctions.register(s)
      assert(exists(s, "md5_long60"))
      assert(s.range(1).select(call_function("md5_long60", col("id").cast("string")))
        .head().getLong(0) == HashUtil.md5Long60(UTF8String.fromString("0")))
      assert(replaced.isEmpty, s"register replaced functions: ${replaced.mkString("; ")}")
      // the appender does see a replacement when one happens
      for (_ <- 1 to 2) registry.createOrReplaceTempFunction("function_install_probe",
        (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          Md5Long60(args.head), "built-in")
      assert(replaced.size == 1, s"expected one replacement line, saw $replaced")
    } finally {
      logger.removeAppender(appender)
      if (!hadConfig) {
        ctx.getConfiguration.removeLogger(name)
        ctx.updateLoggers()
      }
      appender.stop()
    }
  }
}
