package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession, SparkEntry}
import graft.approach.ApproachPipeline
import graft.model.FlightSample
import graft.sinks.Sinks
import graft.sources.{Dims, FlightGen}

/** Dev probes over the query registry, run in one session built
  * through [[GraftSession]]:
  *
  * {{{
  * runMain graft.tools.Dev time <q...>       3 timed runs per query
  * runMain graft.tools.Dev plan <sf> <q...>  formatted explain per query
  * runMain graft.tools.Dev shuffle [sf]      shuffle volume of every query
  * runMain graft.tools.Dev merges <dir> [flights] [batches]
  *                                           keyed-merge steady state
  * }}}
  *
  * Like [[Bench]], it reads the thread count from SPARK_GRAFT_CPUS and
  * (for `time`, and `shuffle` without an argument) the data dir from
  * SPARK_GRAFT_SF_DIR. A single query's result dump plus its oracle
  * SQL is `graft.Verify <sf> <out> q1,q2`.
  */
object Dev {

  /** Seconds of 3 runs per query, executed as declared (toRdd, the
    * semantics Bench times). Cache teardown sits outside the timed
    * window, so a query that persists an intermediate is not billed
    * for dropping it.
    */
  def time(spark: SparkSession, sfDir: String, names: Seq[String])
      : Seq[(String, Seq[Double])] =
    names.map { name =>
      val fn = SparkEntry.queries(name)
      name -> (1 to 3).map { pass =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val secs = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        println(f"TIMED $name pass$pass $secs%.2f s")
        secs
      }
    }

  /** `explain("formatted")` text of each named query. */
  def plan(spark: SparkSession, sfDir: String, names: Seq[String])
      : Seq[(String, String)] =
    names.map { name =>
      val text = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      spark.catalog.clearCache()
      println(s"== $name ==\n$text")
      name -> text
    }

  /** Runs every registered query under [[ShuffleMeter]] and prints one
    * markdown row per query: output rows, shuffled records, shuffled
    * bytes written and bytes read back. The per-query budgets live in
    * ShuffleBudgetSpec; this is the corpus-wide snapshot behind the
    * measured-shuffle table in SCALE.md.
    */
  def shuffle(spark: SparkSession, sfDir: String): Unit = {
    println("| query | rows out | shuffle records | shuffle MB | read-back MB |")
    println("|---|---|---|---|---|")
    var totW = 0L; var totB = 0L
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      var rows = 0L
      val s = ShuffleMeter.measure(spark) {
        rows = q(spark, sfDir).queryExecution.toRdd.count()
      }
      // this session is exclusive to the report, so any untagged job
      // in the window is one of the query's own jobs that escaped
      // job-group attribution — the numbers would undercount
      require(s.untaggedConcurrentJobs == 0,
        s"$name: ${s.untaggedConcurrentJobs} jobs ran in the window " +
          "without the meter tag — attribution gap, numbers not trustworthy")
      spark.catalog.clearCache()
      totW += s.writeRecords; totB += s.writeBytes
      println(f"| $name | $rows | ${s.writeRecords} | " +
        f"${s.writeBytes / 1e6}%.2f | ${s.readBytes / 1e6}%.2f |")
    }
    println(f"| TOTAL |  | $totW | ${totB / 1e6}%.2f |  |")
  }

  /** The keyed merge's steady state, behind SCALE.md's "Keyed merge"
    * curve. Writes the FlightGen-detected approaches of flights
    * [0, `flights`) to a 64-bucket table under `dir` with one merge,
    * then merges `batches` batches of 500 fresh flight ids, so the
    * buckets fill up to [[Sinks.MaxFilesPerBucket]] files and compact.
    * One line per merge: its seconds; the probe's two parts, timed
    * apart before the merge (the batch-range job, and the driver's
    * listing and footer reads); how many buckets it rewrote; the bytes
    * it wrote; the most files a bucket holds after it; and the median
    * of 5 full reads of the table through [[Sinks.readKeyedTable]]
    * (every column hashed, listing included). Each batch is detected
    * and cached before its timers.
    */
  def merges(spark: SparkSession, dir: String, flights: Long,
      batches: Int): Unit = {
    import spark.implicits._
    val airports = Dims.syntheticAirports()
    def detect(lo: Long, hi: Long) = ApproachPipeline.approachesTable(
      ApproachPipeline.detectApproaches(
        FlightGen.trace(spark.range(lo, hi).toDF("flight")).as[FlightSample],
        airports))
    val table = s"$dir/approaches-$flights"
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(table), true)
    def parts(): Map[Path, Long] = {
      val it = fs.listFiles(new Path(table), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.startsWith("part-"))
        .map(f => f.getPath -> f.getLen).toMap
    }
    def secs[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = f
      (v, (System.nanoTime() - t0) / 1e9)
    }
    def read(): Double = {
      val times = (1 to 5).map { _ =>
        secs {
          val t = Sinks.readKeyedTable(spark, table, "flight_id", "approach_id")
          t.agg(count(lit(1)),
            max(xxhash64(t.columns.toIndexedSeq.map(col): _*))).collect()
        }._2
      }
      times.sorted.apply(2)
    }
    Sinks.mergeApproachesTable(detect(0, flights), table)
    println(f"MERGES flights=$flights cap=${Sinks.MaxFilesPerBucket} " +
      f"table_kb=${parts().values.sum / 1e3}%.0f read_s=${read()}%.3f")
    (0 until batches).foreach { i =>
      val lo = flights + 500L * i
      val batch = detect(lo, lo + 500).persist()
      batch.count()
      val (ranges, rangeS) = secs(Sinks.batchRanges(batch, 64))
      val (plan, probeS) = secs(Sinks.planMerge(fs, table, ranges))
      val before = parts()
      val (_, mergeS) = secs(Sinks.mergeApproachesTable(batch, table))
      batch.unpersist()
      val after = parts()
      val written = after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum
      val maxFiles = after.keys.groupBy(_.getParent).values.map(_.size).max
      println(f"MERGE flights=$flights i=$i merge_s=$mergeS%.3f " +
        f"range_job_s=$rangeS%.3f listing_footers_s=$probeS%.4f " +
        s"rewritten=${plan.colliding.size}/${plan.touched.size} " +
        f"written_kb=${written / 1e3}%.0f max_files=$maxFiles read_s=${read()}%.3f")
    }
    fs.delete(new Path(table), true)
  }

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "time" :: names if names.nonEmpty => time(_, Bench.sfDir, names)
      case "plan" :: sf :: names if names.nonEmpty => plan(_, sf, names)
      case "shuffle" :: Nil => shuffle(_, Bench.sfDir)
      case "shuffle" :: sf :: Nil => shuffle(_, sf)
      case "merges" :: dir :: rest if rest.size <= 2 =>
        merges(_, dir, rest.headOption.fold(10000L)(_.toLong),
          rest.lift(1).fold(16)(_.toInt))
      case _ => sys.error("usage: Dev time <q...> | plan <sf> <q...> | " +
        "shuffle [sf] | merges <dir> [flights] [batches]")
    }
    val cpus = Bench.cpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark) finally spark.stop()
  }
}
