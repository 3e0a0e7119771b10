package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed operation of a workload. `rows` is what the op consumed
  * (flight samples, JSONL lines) or, for a query, the rows it returned.
  */
final class OpRec(val kind: String, val name: String, val round: Int,
    val traced: Boolean, val start: Long, val end: Long, var ok: Boolean,
    var error: String, var rows: Long, val counters: OpCounters,
    val extras: mutable.LinkedHashMap[String, Double])

final case class RoundRec(index: Int, traced: Boolean, start: Long,
    end: Long, inputRows: Long)

/** The ops of one round, run back to back by a single client. */
final class Round(val index: Int, val traced: Boolean, val tracer: Tracer,
    ops: ArrayBuffer[OpRec]) {

  private val first = ops.size
  def recs: Seq[OpRec] = ops.slice(first, ops.size).toSeq

  /** Runs `body` as one op. A throw marks the op failed; the round
    * goes on with the next op.
    */
  def op(kind: String, name: String, rows: Long = 0L)(
      body: mutable.LinkedHashMap[String, Double] => Unit): OpRec = {
    val extras = mutable.LinkedHashMap[String, Double]()
    tracer.beginOp(ops.size)
    val t0 = System.nanoTime()
    var error: String = null
    try tracer.span(s"op.$kind")(body(extras))
    catch { case NonFatal(e) => error = s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    val t1 = System.nanoTime()
    val counters = tracer.endOp()
    val rec = new OpRec(kind, name, index, traced, t0, t1, error == null,
      error, rows, counters, extras)
    Main.log(f"round $index op $name ${(t1 - t0) / 1e9}%.3f s" +
      Option(error).map(" FAILED " + _).getOrElse(""))
    ops += rec
    rec
  }

  /** Marks an op failed by an output check. */
  def fail(rec: OpRec, msg: String): Unit = {
    rec.ok = false
    rec.error = Option(rec.error).map(_ + "; ").getOrElse("") + s"${rec.name}: $msg"
  }
}

trait Workload {
  /** Builds the inputs (part of set-up). */
  def stage(): Unit
  /** One untimed pass of every op kind at full size (part of set-up). */
  def warmUp(): Unit
  /** Loads the classes the set-up loads, for the build's class archive. */
  def train(): Unit = warmUp()
  /** Runs one round of ops, then checks their outputs. */
  def round(r: Round): Unit
  /** Input rows one round consumes. */
  def roundInputRows(r: Round): Long
  /** Workload-level readings for the traced report. */
  def layerReadings: Map[String, Double] = Map.empty
}

object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: String, data: String, report: String,
      expected: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("root"), get("data"), get("report"),
      get("expected"))
  }

  def log(msg: String): Unit = System.err.println(
    f"graftbench [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s]: $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores.toString)
      .appName(s"graftbench-${o.workload}")
      .config("spark.local.dir", s"${o.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.root}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val tSession = System.nanoTime()
    log(f"session up ${(tSession - t0) / 1e9}%.3f s")

    def workload(name: String): Workload = name match {
      case "fleet-merge" => new FleetMerge(spark, o.root, o.seed)
      case "query-mix" => new QueryMix(spark, o.data, o.seed, QueryMix.readExpected(o.expected))
      case "ingest-release" => new IngestRelease(spark, o.root, o.data, o.seed)
      case w => sys.error(s"unknown workload $w")
    }
    if (o.workload == "train") {
      // loads the classes every workload's set-up uses, so the build can
      // archive them for class-data sharing; measures nothing
      Seq("fleet-merge", "query-mix", "ingest-release").foreach { w =>
        val wl = workload(w)
        wl.stage()
        wl.train()
      }
      spark.stop()
      return
    }
    val wl = workload(o.workload)
    wl.stage()
    val tStage = System.nanoTime()
    log(f"inputs staged ${(tStage - tSession) / 1e9}%.3f s")
    wl.warmUp()
    spark.catalog.clearCache()
    val tWarm = System.nanoTime()
    log(f"warmed up ${(tWarm - tStage) / 1e9}%.3f s")

    val tracer = new Tracer(spark, o.trace)
    val ops = ArrayBuffer[OpRec]()
    val rounds = ArrayBuffer[RoundRec]()
    val firstOpEpoch = Instant.now()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    def medianRound: Long = {
      val d = rounds.map(r => r.end - r.start).sorted
      d(d.size / 2)
    }
    // closed loop: rounds back to back until the budget is spent; a
    // round starts only if it is expected to end within half a round
    // of the deadline. A traced run alternates untraced and traced
    // rounds (U T U T), so the tracing overhead is measured in the same
    // process: the traced rounds bracket the second untraced one.
    var more = true
    while (more) {
      val idx = rounds.size
      val traced = o.trace && idx % 2 == 1
      tracer.setActive(traced)
      val r = new Round(idx, traced, tracer, ops)
      wl.round(r)
      tracer.setActive(false)
      val rs = r.recs
      rounds += RoundRec(idx, traced, rs.head.start, rs.last.end, wl.roundInputRows(r))
      val now = System.nanoTime()
      more = (o.trace && rounds.size < 4) ||
        now + medianRound / 2 < deadline
    }
    tracer.close()
    val peakRssKb = procStatusKb("VmHWM")

    val json = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
      "first_op_epoch_s" -> (firstOpEpoch.getEpochSecond + firstOpEpoch.getNano / 1e9),
      "setup_phases" -> Json.obj(
        "session_s" -> (tSession - t0) / 1e9,
        "stage_s" -> (tStage - tSession) / 1e9,
        "warmup_s" -> (tWarm - tStage) / 1e9),
      "peak_rss_kb" -> peakRssKb,
      "rounds" -> rounds.map(r => Json.obj("index" -> r.index,
        "traced" -> r.traced, "start_ns" -> r.start, "end_ns" -> r.end,
        "input_rows" -> r.inputRows)),
      "ops" -> ops.map(op => Json.obj("kind" -> op.kind, "name" -> op.name,
        "round" -> op.round, "traced" -> op.traced, "start_ns" -> op.start,
        "end_ns" -> op.end, "ok" -> op.ok, "error" -> op.error,
        "rows" -> op.rows,
        "counters" -> Option(op.counters).map(c => Json.obj(c.fields: _*)).orNull,
        "extras" -> Json.obj(op.extras.toSeq: _*))),
      "spans" -> tracer.spans.map(s => Json.obj("name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.start,
        "end_ns" -> s.end)),
      "layer" -> Json.obj(wl.layerReadings.toSeq: _*))
    Files.write(Paths.get(o.report), json.s.getBytes(StandardCharsets.UTF_8))
    log("report written")
    spark.stop()
    log("session stopped")
  }

  private def procStatusKb(key: String): Long = {
    val f = new File("/proc/self/status")
    if (!f.exists) return -1L
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }
}

/** Minimal JSON writer for the run report. */
object Json {
  /** Already-encoded JSON. */
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
