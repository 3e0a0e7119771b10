package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, GraftSession, SparkEntry}

/** Dev probes over the query registry, run in one session built
  * through [[GraftSession]]:
  *
  * {{{
  * runMain graft.tools.Dev time <q...>       3 timed runs per query
  * runMain graft.tools.Dev plan <sf> <q...>  formatted explain per query
  * runMain graft.tools.Dev shuffle [sf]      shuffle volume of every query
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

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "time" :: names if names.nonEmpty => time(_, Bench.sfDir, names)
      case "plan" :: sf :: names if names.nonEmpty => plan(_, sf, names)
      case "shuffle" :: Nil => shuffle(_, Bench.sfDir)
      case "shuffle" :: sf :: Nil => shuffle(_, sf)
      case _ => sys.error(
        "usage: Dev time <q...> | plan <sf> <q...> | shuffle [sf]")
    }
    val cpus = Bench.cpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    try run(spark) finally spark.stop()
  }
}
