package graft.sinks

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.approach.{AirportIndex, ApproachDetector, ApproachPipeline}
import graft.sources.{Dims, FlightGen}

/** Write-and-read-back tests of the parquet sinks, including the
  * idempotency contract (second write of the same batch leaves the
  * same rows).
  */
class SinksSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  test("writeApproaches: partitioned parquet, idempotent overwrite") {
    import spark.implicits._
    val out = Files.createTempDirectory("approaches").toString
    val flights = FlightGen.trace(spark.range(4).toDF("flight"))
      .as[graft.model.FlightSample]
    val approaches = ApproachPipeline.detectApproaches(
      flights, Dims.syntheticAirports())
    Sinks.writeApproaches(approaches, out)
    val firstDf = spark.read.parquet(out)
    assert(firstDf.columns.contains("flight_bucket"))
    // materialize before the overwrite invalidates the scanned files
    val firstRows = firstDf.select("flight_id", "approach_id", "landing_type")
      .collect().toSet
    assert(firstRows.size == 4)
    Sinks.writeApproaches(approaches, out) // re-run the same batch
    val secondRows = spark.read.parquet(out)
      .select("flight_id", "approach_id", "landing_type").collect().toSet
    assert(secondRows == firstRows)
  }

  test("mergeApproaches: per-key upsert across two overlapping batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = Files.createTempDirectory("merge").toString + "/approaches"
    val flights = FlightGen.trace(spark.range(6).toDF("flight"))
      .as[graft.model.FlightSample]
    val all = ApproachPipeline.approachesTable(
      ApproachPipeline.detectApproaches(flights, Dims.syntheticAirports()))
      .persist()
    // batch 1: flights 0,2,4 with a sentinel; batch 2: flights 0,3
    Sinks.mergeApproachesTable(
      all.filter(col("flight_id") % 2 === 0).withColumn("unstable", lit(9)),
      out, buckets = 4)
    Sinks.mergeApproachesTable(
      all.filter(col("flight_id") % 3 === 0), out, buckets = 4)
    val got = spark.read.parquet(out)
      .select("flight_id", "unstable").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    all.unpersist()
    // keys = {0,2,3,4}; flight 0 updated by batch 2 (sentinel replaced),
    // 2 and 4 survive with the sentinel, 3 inserted by batch 2
    assert(got.keySet == Set(0L, 2L, 3L, 4L))
    assert(got(0L) != 9, "overlap key must take batch-2 values")
    assert(got(2L) == 9 && got(4L) == 9, "non-matched rows must survive")
    // idempotency: re-merging batch 2 changes nothing
    Sinks.mergeApproachesTable(
      ApproachPipeline.approachesTable(
        ApproachPipeline.detectApproaches(flights, Dims.syntheticAirports()))
        .filter(col("flight_id") % 3 === 0), out, buckets = 4)
    val again = spark.read.parquet(out)
      .select("flight_id", "unstable").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == got)
  }

  test("merge commit: crash between stage and promote loses nothing") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = Files.createTempDirectory("crash1").toString + "/approaches"
    val fs = new Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def table() = spark.read.parquet(out)
      .select("flight_id", "unstable").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // v1: flights 0..3 with sentinel 9, across 2 buckets
    val v1 = spark.range(4)
      .select(col("id").as("flight_id"), lit(1L).as("approach_id"),
        lit(9).as("unstable"))
    Sinks.mergeApproachesTable(v1, out, buckets = 2)
    assert(table() == Map(0L -> 9, 1L -> 9, 2L -> 9, 3L -> 9))
    // batch 2 updates flight 0 and inserts flight 4 (both bucket 0)
    val batch2 = Seq((0L, 1L, 1), (4L, 1L, 1))
      .toDF("flight_id", "approach_id", "unstable")
    // CRASH 1: staging written, promote never started — live untouched
    Sinks.stageMerge(batch2, out, buckets = 2)
    assert(table() == Map(0L -> 9, 1L -> 9, 2L -> 9, 3L -> 9),
      "staging must not touch the live table")
    // CRASH 2: promote interrupted mid-park — bucket 0 parked in the
    // backup dir (missing from live), staged version not yet swapped in
    fs.mkdirs(new Path(out + ".__backup"))
    assert(fs.rename(new Path(out, "flight_bucket=0"),
      new Path(out + ".__backup", "flight_bucket=0")))
    assert(table() == Map(1L -> 9, 3L -> 9), "crash state: bucket 0 gone")
    // the replayed merge must first RESTORE bucket 0 (no survivor row
    // lost), then re-run the whole upsert and converge
    Sinks.mergeApproachesTable(batch2, out, buckets = 2)
    assert(table() ==
      Map(0L -> 1, 1L -> 9, 2L -> 9, 3L -> 9, 4L -> 1),
      "replay after mid-park crash must converge to the full upsert")
    assert(!fs.exists(new Path(out + ".__backup")) &&
      !fs.exists(new Path(out + ".__staging")), "recovery must clean up")
  }

  test("merge commit: crash mid-promote leaves wholly-old/wholly-new buckets; replay converges") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = Files.createTempDirectory("crash2").toString + "/approaches"
    val fs = new Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def table() = spark.read.parquet(out)
      .select("flight_id", "unstable").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val v1 = spark.range(4)
      .select(col("id").as("flight_id"), lit(1L).as("approach_id"),
        lit(9).as("unstable"))
    Sinks.mergeApproachesTable(v1, out, buckets = 2)
    // batch touches BOTH buckets: updates flight 0 (b0) + flight 1 (b1)
    val batch2 = Seq((0L, 1L, 1), (1L, 1L, 1))
      .toDF("flight_id", "approach_id", "unstable")
    Sinks.stageMerge(batch2, out, buckets = 2)
    // simulate: park both buckets, promote ONLY bucket 0, then crash
    // (backup + staging leftovers, bucket 1 missing from live)
    val (backup, staging) = (out + ".__backup", out + ".__staging")
    fs.mkdirs(new Path(backup))
    Seq(0, 1).foreach { b =>
      assert(fs.rename(new Path(out, s"flight_bucket=$b"),
        new Path(backup, s"flight_bucket=$b")))
    }
    assert(fs.rename(new Path(staging, "flight_bucket=0"),
      new Path(out, "flight_bucket=0")))
    // crash state is still READABLE: bucket 0 wholly new, bucket 1 absent
    assert(table() == Map(0L -> 1, 2L -> 9))
    // replay: recovery restores parked bucket 1 (old), keeps promoted
    // bucket 0 (new), discards staging; the re-merge converges
    Sinks.mergeApproachesTable(batch2, out, buckets = 2)
    assert(table() == Map(0L -> 1, 1L -> 1, 2L -> 9, 3L -> 9),
      "replay after mid-promote crash must converge")
    assert(!fs.exists(new Path(backup)) && !fs.exists(new Path(staging)))
  }

  test("merge commit: EVERY crash point replays to the same converged table") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the promotion is a fixed rename sequence over 2 touched buckets:
    //   park b0, park b1, promote b0, promote b1, drop backup
    // simulate a crash after EACH prefix, then replay the merge and
    // assert the table always converges to the same upsert result
    val batch2 = Seq((0L, 1L, 1), (1L, 1L, 1))
      .toDF("flight_id", "approach_id", "unstable")
    val expected = Map(0L -> 1, 1L -> 1, 2L -> 9, 3L -> 9)
    for (steps <- 0 to 5) {
      val out = Files.createTempDirectory(s"crashx$steps").toString + "/t"
      val fs = new Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val v1 = spark.range(4)
        .select(col("id").as("flight_id"), lit(1L).as("approach_id"),
          lit(9).as("unstable"))
      Sinks.mergeApproachesTable(v1, out, buckets = 2)
      Sinks.stageMerge(batch2, out, buckets = 2)
      val (backup, staging) = (out + ".__backup", out + ".__staging")
      val seq: Seq[() => Unit] = Seq(
        () => fs.mkdirs(new Path(backup)),
        () => assert(fs.rename(new Path(out, "flight_bucket=0"),
          new Path(backup, "flight_bucket=0"))),
        () => assert(fs.rename(new Path(out, "flight_bucket=1"),
          new Path(backup, "flight_bucket=1"))),
        () => assert(fs.rename(new Path(staging, "flight_bucket=0"),
          new Path(out, "flight_bucket=0"))),
        () => assert(fs.rename(new Path(staging, "flight_bucket=1"),
          new Path(out, "flight_bucket=1"))))
      seq.take(steps).foreach(_.apply())
      // the crash: whatever is left of the sequence never runs.
      // replay the whole merge (recovery runs at its start)
      Sinks.mergeApproachesTable(batch2, out, buckets = 2)
      val got = spark.read.parquet(out)
        .select("flight_id", "unstable").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == expected, s"crash after step $steps did not converge")
      assert(!fs.exists(new Path(backup)) && !fs.exists(new Path(staging)),
        s"crash after step $steps left recovery debris")
    }
  }

  test("merge rejects a changed bucket count (silent key-splitting guard)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = Files.createTempDirectory("bguard").toString + "/approaches"
    val batch = Seq((0L, 1L, 9), (5L, 1L, 9))
      .toDF("flight_id", "approach_id", "unstable")
    Sinks.mergeApproachesTable(batch, out, buckets = 4)
    val e = intercept[IllegalArgumentException] {
      Sinks.mergeApproachesTable(batch, out, buckets = 8)
    }
    assert(e.getMessage.contains("bucketed with 4"))
    // the original count still merges fine, and the marker file is
    // invisible to the reader
    Sinks.mergeApproachesTable(
      Seq((5L, 1L, 1)).toDF("flight_id", "approach_id", "unstable"),
      out, buckets = 4)
    val got = spark.read.parquet(out)
      .select("flight_id", "unstable").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 9, 5L -> 1))
  }

  test("legacy marker-less table: adoption cross-checks the caller's count") {
    import spark.implicits._
    val out = Files.createTempDirectory("badopt").toString + "/approaches"
    // a legacy table written with 8 buckets (flights 7, 15 -> both in
    // dir flight_bucket=7), marker deleted to simulate pre-marker data
    val batch = Seq((7L, 1L, 9), (15L, 1L, 9))
      .toDF("flight_id", "approach_id", "unstable")
    Sinks.mergeApproachesTable(batch, out, buckets = 8)
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def dropMarker(): Unit =
      fs.delete(new org.apache.hadoop.fs.Path(out, "_graft_buckets"), false)
    dropMarker()
    // SHRINKING direction: buckets=4 puts flight 7's new rows in
    // flight_bucket=3 while its old rows sit in flight_bucket=7 —
    // must be a loud error, not a silent split + enshrined wrong count
    val e = intercept[IllegalArgumentException] {
      Sinks.mergeApproachesTable(
        Seq((7L, 1L, 1)).toDF("flight_id", "approach_id", "unstable"),
        out, buckets = 4)
    }
    assert(e.getMessage.contains("does not match"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(out, "_graft_buckets")),
      "a rejected adoption must not write the marker")
    // GROWING direction (the default-64 footgun): dirs 0..7 all
    // "fit under" 64, but flight 15 sits in dir 7 while
    // pmod(15, 64) = 15 — the data-consistency check must catch it
    val e2 = intercept[IllegalArgumentException] {
      Sinks.mergeApproachesTable(
        Seq((7L, 1L, 1)).toDF("flight_id", "approach_id", "unstable"),
        out, buckets = 64)
    }
    assert(e2.getMessage.contains("does not match"))
    // the correct legacy count adopts cleanly and upserts
    Sinks.mergeApproachesTable(
      Seq((7L, 1L, 1)).toDF("flight_id", "approach_id", "unstable"),
      out, buckets = 8)
    val got = spark.read.parquet(out).select("flight_id", "unstable")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(7L -> 1, 15L -> 9))
  }

  test("mergeKeyedTable: caller-keyed upsert round-trips; name guard rejects partial overlap") {
    import spark.implicits._
    val out = Files.createTempDirectory("keyed").toString + "/curated"
    val b1 = Seq((1L, 0L, "en"), (2L, 0L, "de"))
      .toDF("doc_id", "rev", "lang")
    Sinks.mergeKeyedTable(b1, out, "doc_id", "rev", buckets = 4)
    // upsert: doc 2 updated, doc 3 inserted
    val b2 = Seq((2L, 0L, "fr"), (3L, 0L, "en"))
      .toDF("doc_id", "rev", "lang")
    Sinks.mergeKeyedTable(b2, out, "doc_id", "rev", buckets = 4)
    val got = Sinks.readKeyedTable(spark, out, "doc_id", "rev")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "fr", 3L -> "en"))
    // PARTIAL canonical-name overlap must be a loud error at the call
    // site, not a duplicate-column failure deep in the merge
    val partial = Seq((9L, 0L, 1L)).toDF("doc_id", "rev", "approach_id")
    val e = intercept[IllegalArgumentException] {
      Sinks.mergeKeyedTable(partial, out, "doc_id", "rev", buckets = 4)
    }
    assert(e.getMessage.contains("canonical"))
  }

  test("merge schema evolution: additive column lands, old rows null-fill; dropped column rejected") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = Files.createTempDirectory("evolve").toString + "/curated"
    // 4 buckets; docs 1,2 land in DIFFERENT buckets so the evolving
    // batch (doc 2 only) leaves doc 1's bucket with the OLD footer —
    // the read must still see the new column over both
    Sinks.mergeKeyedTable(Seq((1L, 0L, "en"), (2L, 0L, "de"), (6L, 0L, "pt"))
      .toDF("doc_id", "rev", "lang"), out, "doc_id", "rev", buckets = 4)
    Sinks.mergeKeyedTable(Seq((2L, 0L, "fr", 9500), (7L, 0L, "en", 8000))
      .toDF("doc_id", "rev", "lang", "quality_e4"),
      out, "doc_id", "rev", buckets = 4)
    val got = Sinks.readKeyedTable(spark, out, "doc_id", "rev")
      .select("doc_id", "lang", "quality_e4").collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getInt(2))))
      .toMap
    assert(got == Map(
      1L -> ("en", None),          // untouched bucket, old footer
      2L -> ("fr", Some(9500)),    // upserted with the new column
      6L -> ("pt", None),          // survivor in a rewritten bucket:
                                   // null-filled by the union
      7L -> ("en", Some(8000))),   // inserted with the new column
      s"additive evolution read back wrong: $got")
    // a batch MISSING a column the table has = loud error (typo
    // protection), not a silent null-fill of every upserted row
    val dropped = intercept[IllegalArgumentException] {
      Sinks.mergeKeyedTable(Seq((6L, 0L, "en")).toDF("doc_id", "rev", "lang"),
        out, "doc_id", "rev", buckets = 4)
    }
    assert(dropped.getMessage.contains("additive"),
      s"wrong failure for a dropped column: ${dropped.getMessage}")
    // a changed TYPE on an existing column is never evolution — the
    // staged files would coerce wide while the marker keeps the old
    // type, leaving the table unreadable at every later merge
    val retyped = intercept[IllegalArgumentException] {
      Sinks.mergeKeyedTable(
        Seq((8L, 0L, "en", 9000L)) // quality as LONG, table has INT
          .toDF("doc_id", "rev", "lang", "quality_e4"),
        out, "doc_id", "rev", buckets = 4)
    }
    assert(retyped.getMessage.contains("type"),
      s"wrong failure for a retyped column: ${retyped.getMessage}")
    // the schema marker carries the evolved schema (readers must not
    // need a footer sweep), and a legacy table with the marker
    // deleted still reads correctly via the footer-merge fallback
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marked = Sinks.readSchemaMarker(fs, out)
    assert(marked.exists(_.fieldNames.contains("quality_e4")),
      s"schema marker missing the evolved column: $marked")
    fs.delete(new org.apache.hadoop.fs.Path(out, "_graft_schema"), false)
    val legacy = Sinks.readKeyedTable(spark, out, "doc_id", "rev")
    assert(legacy.columns.contains("quality_e4"),
      "marker-less fallback lost the evolved column")
    assert(legacy.filter(col("doc_id") === 1 && col("quality_e4").isNull)
      .count() == 1, "legacy fallback misread the old-footer bucket")
  }

  test("commitFlightAnalysis: flags follow the merge; replay converges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = Files.createTempDirectory("commit").toString
    val (apPath, flagPath) = (s"$base/approaches", s"$base/flags")
    val flights = FlightGen.trace(spark.range(3).toDF("flight"))
      .as[graft.model.FlightSample].toDF()
    val batch = ApproachPipeline.approachesTable(
      ApproachPipeline.detectApproaches(
        flights.as[graft.model.FlightSample], Dims.syntheticAirports()))
    Sinks.commitFlightAnalysis(batch, flights, apPath, flagPath, buckets = 4)
    val aps = spark.read.parquet(apPath)
      .select("flight_id").collect().map(_.getLong(0)).toSet
    val flags = spark.read.parquet(flagPath)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(aps == Set(0L, 1L, 2L))
    assert(flags == Map(0L -> 1, 1L -> 1, 2L -> 1))
    // crash-replay contract: a flight whose flag write was lost gets
    // re-run; the repeated commit upserts identical rows and the end
    // state is unchanged (at-least-once run, exactly-once state)
    Sinks.commitFlightAnalysis(batch, flights, apPath, flagPath, buckets = 4)
    val aps2 = spark.read.parquet(apPath)
      .select("flight_id", "approach_id", "landing_type").collect().toSet
    assert(aps2.map(_.getLong(0)) == Set(0L, 1L, 2L))
    assert(spark.read.parquet(flagPath).count() == 3)
  }

  test("flightValidity: zero/NULL positions invalid, any usable sample valid") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val samples = Seq(
      (1L, 0.0, Option.empty[Double]), // invalid: lat 0, lon NULL
      (1L, 0.0, Option.empty[Double]),
      (2L, 0.0, Option.empty[Double]),
      (2L, 40.1, Some(-100.0)), // one usable sample -> valid
      (3L, 0.0, Some(0.0)) // both exactly 0 -> invalid
    ).toDF("flight", "latitude", "longitude")
    val got = ApproachPipeline.flightValidity(samples)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 0))
  }

  test("mergeStream: streamed micro-batches upsert like the batch merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = Files.createTempDirectory("mergestream").toString + "/approaches"
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Long, Int)]
    val q = Sinks.mergeStream(
      in.toDF().toDF("flight_id", "approach_id", "unstable"),
      out, buckets = 4).start()
    try {
      // micro-batch 1: flights 0,2 with a sentinel value
      in.addData((0L, 1L, 9), (2L, 1L, 9))
      q.processAllAvailable()
      // micro-batch 2: flight 0 updated, flight 3 inserted
      in.addData((0L, 1L, 1), (3L, 1L, 1))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select("flight_id", "unstable").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 1, 2L -> 9, 3L -> 1),
      "stream merge must upsert overlap keys and keep non-matched rows")
  }

  /** (flight_id, approach_id=1, unstable) rows for flights `ids`. */
  private def keyed(ids: Seq[Long], unstable: Int) = {
    import spark.implicits._
    ids.map(f => (f, 1L, unstable)).toDF("flight_id", "approach_id", "unstable")
  }

  private def unstableByFlight(path: String): Map[Long, Int] =
    spark.read.parquet(path).select("flight_id", "unstable").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("merge evaluates its batch's lineage exactly once") {
    import spark.implicits._
    val out = Files.createTempDirectory("once").toString + "/approaches"
    Sinks.mergeApproachesTable(keyed(Seq(0L, 1L), 9), out, buckets = 4)
    val evaluated = spark.sparkContext.longAccumulator("merge-batch-rows")
    val batch = spark.range(0, 40, 1, 4).as[Long]
      .mapPartitions(_.map { f => evaluated.add(1); (f, 1L, 1) })
      .toDF("flight_id", "approach_id", "unstable")
    Sinks.mergeApproachesTable(batch, out, buckets = 4)
    assert(evaluated.value == 40L,
      s"the batch's 40 rows were produced ${evaluated.value} times over — " +
        "the merge re-ran its input lineage")
    assert(unstableByFlight(out) == (0L until 40L).map(_ -> 1).toMap)
  }

  test("merge writes one file per touched bucket, from more than one task") {
    import org.apache.hadoop.fs.Path
    val out = Files.createTempDirectory("perbucket").toString + "/approaches"
    val fs = new Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cores = spark.sparkContext.defaultParallelism
    val buckets = 4 * cores // every merge below touches more than `cores`
    def partFiles(): Map[String, Seq[String]] =
      fs.listStatus(new Path(out)).filter(_.isDirectory)
        .map(d => d.getPath.getName ->
          fs.listStatus(d.getPath).map(_.getPath.getName)
            .filter(_.startsWith("part-")).toSeq)
        .toMap
    // initial write, then a merge over the existing table
    for (batch <- Seq(keyed(0L until 2L * buckets, 9),
        keyed(0L until buckets.toLong, 1))) {
      Sinks.mergeApproachesTable(batch, out, buckets)
      val files = partFiles()
      assert(files.keySet == (0 until buckets).map(b => s"flight_bucket=$b").toSet)
      files.foreach { case (dir, parts) =>
        assert(parts.size == 1, s"$dir holds ${parts.size} part files: $parts")
      }
      // part-<task partition>-…: a serial write names one partition
      val writers = files.values.flatten.map(_.split("-")(1)).toSet
      assert(writers.size > 1,
        s"all $buckets bucket files came from one write task ($writers)")
    }
    assert(unstableByFlight(out) ==
      (0L until 2L * buckets).map(f => f -> (if (f < buckets) 1 else 9)).toMap)
  }

  test("merge leaves nothing cached, also when it throws") {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache() // earlier suites' leftovers
    val out = Files.createTempDirectory("nocache").toString + "/approaches"
    Sinks.mergeApproachesTable(keyed(Seq(0L, 1L), 9), out, buckets = 4)
    assert(cache.isEmpty, "the initial write left its batch cached")
    Sinks.mergeApproachesTable(keyed(Seq(1L, 2L), 1), out, buckets = 4)
    assert(cache.isEmpty, "the merge left its batch cached")
    // the bucket-count guard throws after the batch was cached
    val e = intercept[IllegalArgumentException] {
      Sinks.mergeApproachesTable(keyed(Seq(3L), 1), out, buckets = 8)
    }
    assert(e.getMessage.contains("bucketed with 4"))
    assert(cache.isEmpty, "a failed merge left its batch cached")
    assert(unstableByFlight(out) == Map(0L -> 9, 1L -> 1, 2L -> 1))
  }

  test("merge keeps a batch the caller cached") {
    import org.apache.spark.storage.StorageLevel
    val out = Files.createTempDirectory("callercache").toString + "/approaches"
    for (ids <- Seq(Seq(0L, 1L), Seq(1L, 2L))) {
      val batch = keyed(ids, 1).persist()
      try {
        batch.count()
        Sinks.mergeApproachesTable(batch, out, buckets = 4)
        assert(batch.storageLevel != StorageLevel.NONE,
          "the merge dropped the caller's cache")
      } finally batch.unpersist()
    }
    assert(unstableByFlight(out) == Map(0L -> 1, 1L -> 1, 2L -> 1))
  }

  test("empty batch: no table on a first merge, no file touched on a later one") {
    import org.apache.hadoop.fs.Path
    val out = Files.createTempDirectory("empty").toString + "/approaches"
    val fs = new Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val empty = keyed(Seq.empty, 0)
    Sinks.mergeApproachesTable(empty, out, buckets = 4)
    assert(!fs.exists(new Path(out)),
      "an empty first batch created a table dir no later read can infer")
    Sinks.mergeApproachesTable(keyed(Seq(0L, 1L, 2L), 9), out, buckets = 4)
    def files(): Map[String, Long] = {
      val it = fs.listFiles(new Path(out), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => f.getPath.toString -> f.getLen).toMap
    }
    val before = files()
    Sinks.mergeApproachesTable(empty, out, buckets = 4)
    assert(files() == before, "an empty later batch changed the table's files")
    assert(unstableByFlight(out) == Map(0L -> 9, 1L -> 9, 2L -> 9))
  }

  /** Bucket dir name -> (part file name -> length) under `path`. */
  private def partFiles(path: String): Map[String, Map[String, Long]] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(path)).filter(_.isDirectory)
      .map(d => d.getPath.getName ->
        fs.listStatus(d.getPath).filter(_.getPath.getName.startsWith("part-"))
          .map(f => f.getPath.getName -> f.getLen).toMap)
      .toMap
  }

  /** Every (flight_id, unstable) row, sorted: duplicates stay visible. */
  private def rowsOf(path: String): Seq[(Long, Int)] =
    spark.read.parquet(path).select("flight_id", "unstable").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSeq.sorted

  test("fresh-key merge appends one file per touched bucket and leaves every existing file as it was") {
    val out = Files.createTempDirectory("append").toString + "/approaches"
    Sinks.mergeApproachesTable(keyed(0L until 4L, 9), out, buckets = 8)
    val before = partFiles(out)
    // ids 100..105 land in buckets 4,5,6,7,0,1: two existing, four new
    Sinks.mergeApproachesTable(keyed(100L until 106L, 1), out, buckets = 8)
    val after = partFiles(out)
    val touched = Set(0, 1, 4, 5, 6, 7).map(b => s"flight_bucket=$b")
    assert(after.keySet == before.keySet ++ touched)
    before.foreach { case (dir, files) =>
      files.foreach { case (name, len) =>
        assert(after(dir).get(name).contains(len), s"$dir/$name was rewritten")
      }
    }
    after.foreach { case (dir, files) =>
      val added = files.size - before.get(dir).map(_.size).getOrElse(0)
      assert(added == (if (touched(dir)) 1 else 0),
        s"$dir gained $added files: ${files.keys}")
    }
    assert(rowsOf(out) ==
      (0L until 4L).map(_ -> 9) ++ (100L until 106L).map(_ -> 1))
  }

  test("append promote: EVERY crash point replays to the same converged table") {
    import org.apache.hadoop.fs.Path
    // buckets=4 over flights 0,1: the batch appends fresh flight 8 to
    // bucket 0 and 13 to bucket 1 (one file rename each) and creates
    // bucket 2 for flight 10 (one dir rename). Crash after each prefix
    // of the renames, replay the merge, and expect one row per key.
    val batch = keyed(Seq(8L, 13L, 10L), 1)
    val expected = Seq(0L -> 9, 1L -> 9, 8L -> 1, 10L -> 1, 13L -> 1)
    for (steps <- 0 to 3) {
      val out = Files.createTempDirectory(s"appendcrash$steps").toString + "/t"
      val fs = new Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Sinks.mergeApproachesTable(keyed(Seq(0L, 1L), 9), out, buckets = 4)
      val plan = Sinks.stageMerge(batch, out, buckets = 4)
      assert(plan.colliding.isEmpty && plan.appended == Seq(0, 1, 2))
      val staging = new Path(out + ".__staging")
      def appendFile(b: Int): Unit = {
        val staged = fs.listStatus(new Path(staging, s"flight_bucket=$b"))
          .map(_.getPath).filter(_.getName.startsWith("part-"))
        assert(staged.length == 1)
        assert(fs.rename(staged.head,
          new Path(new Path(out, s"flight_bucket=$b"), staged.head.getName)))
      }
      val seq: Seq[() => Unit] = Seq(
        () => appendFile(0),
        () => appendFile(1),
        () => assert(fs.rename(new Path(staging, "flight_bucket=2"),
          new Path(out, "flight_bucket=2"))))
      seq.take(steps).foreach(_.apply())
      Sinks.mergeApproachesTable(batch, out, buckets = 4)
      assert(rowsOf(out) == expected, s"crash after step $steps did not converge")
      assert(!fs.exists(staging) && !fs.exists(new Path(out + ".__backup")),
        s"crash after step $steps left recovery debris")
    }
  }

  test("mixed batch: the colliding bucket is rewritten to one file, the others appended") {
    val out = Files.createTempDirectory("mixed").toString + "/approaches"
    Sinks.mergeApproachesTable(keyed(0L until 8L, 9), out, buckets = 4)
    val before = partFiles(out)
    // flight 4 already sits in bucket 0; 101..103 are fresh in 1..3
    Sinks.mergeApproachesTable(keyed(Seq(4L, 101L, 102L, 103L), 1), out, buckets = 4)
    val after = partFiles(out)
    assert(after("flight_bucket=0").size == 1 &&
      after("flight_bucket=0").keySet != before("flight_bucket=0").keySet,
      s"bucket 0 was not rewritten to one file: ${after("flight_bucket=0")}")
    (1 to 3).map(b => s"flight_bucket=$b").foreach { dir =>
      assert(after(dir).size == 2 &&
        before(dir).forall { case (n, len) => after(dir).get(n).contains(len) },
        s"$dir was not appended to: ${before(dir)} -> ${after(dir)}")
    }
    assert(rowsOf(out) == ((0L until 8L).map(f => f -> (if (f == 4L) 1 else 9)) ++
      Seq(101L -> 1, 102L -> 1, 103L -> 1)).sorted)
  }

  test("a batch inside a bucket's id range with no shared key takes the rewrite path") {
    val out = Files.createTempDirectory("rangeonly").toString + "/approaches"
    Sinks.mergeApproachesTable(keyed(Seq(0L, 4L), 9), out, buckets = 2)
    // [2, 6] overlaps bucket 0's [0, 4] but shares no flight with it
    Sinks.mergeApproachesTable(keyed(Seq(2L, 6L), 1), out, buckets = 2)
    assert(partFiles(out)("flight_bucket=0").size == 1,
      "an overlapping id range must rewrite the bucket, not append")
    assert(rowsOf(out) == Seq(0L -> 9, 2L -> 1, 4L -> 9, 6L -> 1))
  }

  test("a bucket holding MaxFilesPerBucket files is compacted by the next merge") {
    val out = Files.createTempDirectory("compact").toString + "/approaches"
    // each merge brings fresh flights 10k (bucket 0) and 10k+1 (bucket 1)
    def batch(k: Int) = keyed(Seq(10L * k, 10L * k + 1), k)
    (0 until Sinks.MaxFilesPerBucket).foreach { k =>
      Sinks.mergeApproachesTable(batch(k), out, buckets = 2)
    }
    assert(partFiles(out).values.forall(_.size == Sinks.MaxFilesPerBucket))
    Sinks.mergeApproachesTable(batch(Sinks.MaxFilesPerBucket), out, buckets = 2)
    assert(partFiles(out).values.forall(_.size == 1),
      s"full buckets were not compacted: ${partFiles(out).map(_._2.size)}")
    assert(rowsOf(out) == (0 to Sinks.MaxFilesPerBucket)
      .flatMap(k => Seq(10L * k -> k, (10L * k + 1) -> k)))
  }

  test("printApproaches: console sink renders without throwing (S8)") {
    import spark.implicits._
    Sinks.printApproaches(Seq((1L, "AP01")).toDF("flight_id", "airport_id"), 5)
  }

  test("analysisFlags: every distinct flight flagged once") {
    import spark.implicits._
    val flights = FlightGen.trace(spark.range(3).toDF("flight"))
    val flags = Sinks.analysisFlags(flights)
    val rows = flags.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getAs[Int]("approach_analysis") == 1))
  }
}
