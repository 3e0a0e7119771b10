package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.approach.ApproachPipeline
import graft.model.FlightSample
import graft.queries.TextQueries
import graft.sinks.Sinks
import graft.sources.{Dims, FlightGen}
import graft.streaming.{Ingest, LineDedupStream, NearDupStream, ReleaseBuild}

object Workloads {
  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }
}

/** fleet-merge: seeded flight-id ranges -> FlightGen traces ->
  * detectApproaches -> Sinks.mergeApproaches into one keyed table per
  * round, one op per batch.
  */
final class FleetMerge(spark: SparkSession, root: String, seed: Long)
    extends Workload {
  import spark.implicits._

  val FlightsPerBatch = 500L
  val Batches = 3
  private val airports = Dims.syntheticAirports()
  /** First flight id: seeded, far from 0 so every residue class of the
    * closed form (mod 3, 5, 7, 8, 11, 13) is hit in every batch.
    */
  val base: Long = new Random(seed).between(1000000L, 1L << 40)
  def range(i: Int): (Long, Long) =
    (base + i * FlightsPerBatch, base + (i + 1) * FlightsPerBatch)

  private def merge(lo: Long, hi: Long, table: String, tracer: Tracer): Unit = {
    val approaches = tracer.span("approach.detect") {
      val samples = FlightGen.trace(spark.range(lo, hi).toDF("flight")).as[FlightSample]
      ApproachPipeline.detectApproaches(samples, airports)
    }
    tracer.span("sinks.merge")(Sinks.mergeApproaches(approaches, table))
  }

  def stage(): Unit = ()

  def warmUp(): Unit = warm((0 until Batches).map(range))

  override def train(): Unit = warm(Seq((base, base + 20), (base + 20, base + 40)))

  private def warm(ranges: Seq[(Long, Long)]): Unit = {
    val table = s"$root/fleet/warmup"
    val idle = new Tracer(spark, false)
    ranges.foreach { case (lo, hi) => merge(lo, hi, table, idle) }
    Workloads.rmrf(new File(table))
  }

  def roundInputRows(r: Round): Long =
    Batches * FlightsPerBatch * FlightGen.SamplesPerFlight

  def round(r: Round): Unit = {
    val table = s"$root/fleet/round-${r.index}"
    val recs = (0 until Batches).map { i =>
      val (lo, hi) = range(i)
      r.op("batch", s"batch$i[$lo,$hi)", (hi - lo) * FlightGen.SamplesPerFlight) { extras =>
        extras("merged_rows") = (hi - lo).toDouble
        merge(lo, hi, table, r.tracer)
      }
    }
    check(table, recs, r)
    Workloads.rmrf(new File(table))
  }

  /** The q20 closed form, per batch: exactly one approach per flight,
    * at airport AP0{(f+1)%8}, landing type by f%3, unstable iff f is
    * divisible by 5, 7, 11 or 13.
    */
  private def check(table: String, recs: Seq[OpRec], r: Round): Unit = {
    val f = col("flight_id")
    val expectedType = when(f % 3 === 0, "stop-and-go")
      .when(f % 3 === 1, "touch-and-go").otherwise("go-around")
    val expectedUnstable = when(f % 5 === 0 || f % 7 === 0 ||
      f % 11 === 0 || f % 13 === 0, 1).otherwise(0)
    val wrong = col("approach_id") =!= 1 ||
      col("landing_type") =!= expectedType ||
      col("unstable") =!= expectedUnstable ||
      col("airport_id") =!= concat(lit("AP0"), ((f + 1) % 8).cast("string"))
    val t = Sinks.readKeyedTable(spark, table, "flight_id", "approach_id")
    val perBatch = t
      .groupBy(((f - base) / FlightsPerBatch).cast("long").as("b"))
      .agg(count(lit(1)).as("n"), countDistinct(f).as("flights"),
        sum(when(wrong, 1).otherwise(0)).as("wrong"))
      .collect().map(row => row.getLong(0) -> (row.getLong(1), row.getLong(2), row.getLong(3)))
      .toMap
    val total = perBatch.values.map(_._1).sum
    recs.zipWithIndex.foreach { case (rec, i) =>
      perBatch.get(i.toLong) match {
        case Some((n, fl, w)) if n == FlightsPerBatch && fl == FlightsPerBatch && w == 0 => ()
        case got => r.fail(rec, s"merged rows (rows, flights, closed-form misses) = $got, " +
          s"want ($FlightsPerBatch, $FlightsPerBatch, 0)")
      }
    }
    if (total != Batches * FlightsPerBatch)
      r.fail(recs.last, s"table holds $total rows, want ${Batches * FlightsPerBatch}")
  }
}

object QueryMix {
  final case class Expected(name: String, rows: Long, digest: String)

  def readExpected(path: String): Seq[Expected] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, d) = l.split("\t")
        Expected(n, rows.toLong, d)
      }.toSeq
}

/** query-mix: a committed list of SparkEntry queries, each executed
  * through `toRdd` (as `graft.Bench` times them) into a row count and
  * content digest, with the cache cleared between queries. The seed
  * permutes the order.
  */
final class QueryMix(spark: SparkSession, data: String, seed: Long,
    expected: Seq[QueryMix.Expected]) extends Workload {

  private val sfDir = s"$data/sf0.01"
  val order: Seq[QueryMix.Expected] = new Random(seed).shuffle(expected)

  private def fn(name: String) = SparkEntry.queries.getOrElse(name,
    sys.error(s"query $name is not in SparkEntry.queries"))

  def stage(): Unit = {
    require(expected.nonEmpty, "empty query list")
    expected.foreach(e => fn(e.name))
    require(new File(s"$sfDir/lineitem.parquet").exists, s"missing input tables in $sfDir")
  }

  /** Every query once. A failure here is only logged; the timed op
    * reports it.
    */
  def warmUp(): Unit = run(order)

  override def train(): Unit = run(order.take(3))

  private def run(queries: Seq[QueryMix.Expected]): Unit = queries.foreach { e =>
    try Digest.of(fn(e.name)(spark, sfDir))
    catch { case NonFatal(x) => Main.log(s"warm-up ${e.name} failed: $x") }
    spark.catalog.clearCache()
  }

  def roundInputRows(r: Round): Long = r.recs.map(_.rows).sum

  /** Two passes over the list, so that `op_p50_s` is the median of 20
    * latencies: with 10 it swung with whichever queries sat mid-list.
    */
  def round(r: Round): Unit = (order ++ order).foreach { e =>
    var got = (-1L, "")
    val rec = r.op("query", e.name) { _ =>
      val df = r.tracer.span("queries.build")(fn(e.name)(spark, sfDir))
      got = r.tracer.span("queries.exec")(Digest.of(df))
      r.tracer.addPhases(df.queryExecution)
    }
    spark.catalog.clearCache()
    rec.rows = got._1
    if (rec.ok && got != (e.rows, e.digest))
      r.fail(rec, s"digest ${got._2} over ${got._1} rows, want ${e.digest} over ${e.rows}")
  }
}

object IngestRelease {
  final case class Shard(name: String, file: String, lines: Int, valid: Int)
}

/** ingest-release: seeded JSONL shards replicated from the documents
  * table (disjoint doc_id ranges, a per-shard text perturbation,
  * planted cross-shard duplicates and planted malformed lines) are
  * dropped one at a time into `Ingest.curatedJsonlIngest`; the round
  * ends with `ReleaseBuild.release` over the curated table.
  */
final class IngestRelease(spark: SparkSession, root: String, data: String,
    seed: Long) extends Workload {
  import spark.implicits._
  import IngestRelease.Shard

  val Shards = 2
  val DocsPerShard = 150
  val DupsPerShard = 8
  val MalformedPerShard = 4
  private val ShardStride = 1000000L
  private val DupOffset = 900000L

  private val shards = ArrayBuffer[Shard]()
  private val validDocs = ArrayBuffer[(Long, String)]()
  private var validDf: DataFrame = _
  private var baseDocs: DataFrame = _
  private val CuratedCols = Seq("doc_id", "lang_pred", "quality_e4", "split", "text_md5")
  private var lastKeptShare = 0.0
  private var lastQuarantined = 0L

  private def jsonLine(id: Long, text: String) =
    s"""{"doc_id":$id,"text":${Json.str(text)}}"""

  def stage(): Unit = {
    val docs = spark.read.parquet(s"$data/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .sortBy(_._1).toSeq
    val rng = new Random(seed)
    val idBase = rng.between(100L, 1L << 30) * 10 * ShardStride
    val replicaBase = 1 + rng.nextInt(1000)
    val dir = new File(s"$root/ingest/shards"); dir.mkdirs()
    for (s <- 0 until Shards) {
      val rep = replicaBase + s
      val picked = rng.shuffle(docs).take(DocsPerShard)
      val own = picked.map { case (id, text) =>
        (idBase + s * ShardStride + id, s"$text r$rep") }
      // exact copies of earlier shards' docs under new, larger ids: the
      // ingest must drop them as cross-batch duplicates
      val dups = if (s == 0) Nil else (0 until DupsPerShard).map { j =>
        val (_, text) = validDocs(rng.nextInt(validDocs.size))
        (idBase + s * ShardStride + DupOffset + j, text)
      }
      val malformed = (0 until MalformedPerShard).map { j =>
        s"""{"doc_id":${idBase + s * ShardStride + DupOffset + 500 + j},"text":"unterminated"""
      }
      validDocs ++= own ++ dups
      val lines = rng.shuffle((own ++ dups).map { case (i, t) => jsonLine(i, t) } ++ malformed)
      val f = new File(dir, f"shard-$s%03d.jsonl")
      Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      shards += Shard(f.getName, f.getPath, lines.size, own.size + dups.size)
    }
    validDf = validDocs.toSeq.toDF("doc_id", "text").cache()
    baseDocs = docs.toDF("doc_id", "text")
  }

  /** Expected curated table: one-batch curation of every valid line.
    * The planted duplicates carry larger ids and land in later shards,
    * so first-landed and smallest-id keepers coincide.
    */
  private lazy val reference: (Long, String) = Digest.of(
    TextQueries.curate(validDf, keepDigest = true).filter(col("keep"))
      .select(CuratedCols.map(col): _*))

  def warmUp(): Unit = {
    val idle = new Tracer(spark, false)
    val r = new Round(-1, false, idle, ArrayBuffer[OpRec]())
    cycle(r, s"$root/ingest/warmup", shards.toSeq)
    Workloads.rmrf(new File(s"$root/ingest/warmup"))
  }

  def roundInputRows(r: Round): Long = shards.map(_.lines.toLong).sum

  override def layerReadings: Map[String, Double] = Map(
    "streaming.kept_share" -> lastKeptShare,
    "streaming.quarantined_lines" -> lastQuarantined.toDouble)

  /** Drops `use` one shard per op, then releases; returns the op records
    * and the round's table and release paths.
    */
  private def cycle(r: Round, dir: String, use: Seq[Shard])
      : (Seq[OpRec], OpRec, String, String) = {
    val drop = s"$dir/drop"
    val table = s"$dir/curated"
    val rel = s"$dir/release"
    val growLine = s"$dir/grow_line"
    val growSig = s"$dir/grow_sig"
    Seq(drop, growLine, growSig).foreach(p => new File(p).mkdirs())
    @volatile var durableAt = 0L
    val q = Ingest.curatedJsonlIngest(spark, drop, table, s"$dir/checkpoint",
      postMergeHook = _ => durableAt = System.nanoTime())
    val shardRecs = try use.map { sh =>
      r.op("shard", sh.name, sh.lines) { extras =>
        extras("merged_rows") = sh.valid.toDouble
        durableAt = 0L
        r.tracer.span("streaming.batch") {
          val t0 = System.nanoTime()
          val tmp = Paths.get(drop, s".${sh.name}.tmp")
          Files.copy(Paths.get(sh.file), tmp)
          Files.move(tmp, Paths.get(drop, sh.name), StandardCopyOption.ATOMIC_MOVE)
          q.processAllAvailable()
          if (durableAt == 0L) sys.error("the micro-batch never reached its merge")
          r.tracer.record("streaming.merge_durable", t0, durableAt)
        }
        q.recentProgress.filter(_.numInputRows > 0).lastOption.foreach { p =>
          Option(p.durationMs.get("addBatch")).foreach(ms => extras("add_batch_s") = ms / 1e3)
        }
      }
    } finally q.stop()
    val relRec = r.op("release", "release") { _ =>
      val curated = Ingest.readCurated(spark, table).select(col("doc_id"))
      val docs = curated.join(validDf, "doc_id")
      var mark = System.nanoTime()
      // the base line and signature indexes are those of the
      // unperturbed corpus, rebuilt by the release's compaction
      ReleaseBuild.release(spark, docs, LineDedupStream.buildIndex(baseDocs), growLine,
        NearDupStream.buildBaseIndex(baseDocs), growSig, rel,
        afterArtifact = { a =>
          val now = System.nanoTime()
          r.tracer.record(s"release.$a", mark, now)
          mark = now
        })
    }
    (shardRecs, relRec, table, rel)
  }

  def round(r: Round): Unit = {
    val dir = s"$root/ingest/round-${r.index}"
    val (shardRecs, relRec, table, rel) = cycle(r, dir, shards.toSeq)
    val curated = Ingest.readCurated(spark, table).select(CuratedCols.map(col): _*)
    val (n, d) = Digest.of(curated)
    if ((n, d) != reference)
      r.fail(shardRecs.last, s"curated table digest $d over $n rows, " +
        s"want ${reference._2} over ${reference._1}")
    val quarantined = spark.read.schema("raw string, reason string")
      .json(Ingest.quarantinePath(table)).count()
    if (quarantined != Shards * MalformedPerShard)
      r.fail(shardRecs.last, s"quarantined $quarantined lines, planted ${Shards * MalformedPerShard}")
    ReleaseBuild.readManifest(spark, rel) match {
      case None => r.fail(relRec, "no manifest landed")
      case Some(m) =>
        val listed = Seq(m.lineIndex, m.signatureIndex, m.prefixOrdered, m.prefixDf, m.keeperMap)
        val missing = listed.filterNot { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
        }
        if (listed.distinct.size != 5 || missing.nonEmpty)
          r.fail(relRec, s"manifest lists ${listed.distinct.size} artifacts, missing: ${missing.mkString(",")}")
    }
    lastKeptShare = n.toDouble / validDocs.size
    lastQuarantined = quarantined
    Workloads.rmrf(new File(dir))
  }
}
