package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.sources.FlightGen
import graft.tools.ShuffleMeter

/** Measured shuffle-volume budgets for the headline queries — the
  * numeric twin of PlanSpec's structural assertions. A plan can keep
  * its shape (one Exchange) while a lost projection quietly widens
  * every shuffled row, or a lost map-side combine multiplies the row
  * count; these tests pin the measured bytes/records to the budget
  * each design claims, at sf0.001 on the shared session.
  *
  * Budgets are derived from the INPUT in each test (rows, text bytes)
  * rather than hard-coded, so they state the design's scaling law:
  * digests-only means bytes-per-shuffled-row stays far below
  * bytes-per-document at any SF.
  */
class ShuffleBudgetSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  /** Same corpus q30/q61 read — THE fixture, not a copy of it, so
    * the budget denominators track any change to the planted set.
    */
  private def docsWithCopies: DataFrame =
    TextQueries.withExactCopies(
      spark.read.parquet(s"$dir/documents.parquet"))

  test("q30 exact dedup shuffles digests, never document text") {
    val docs = docsWithCopies
    val nDocs = docs.count()
    val textBytes = docs.selectExpr("sum(length(text))").head().getLong(0)
    val s = ShuffleMeter.measure(spark) {
      TextQueries.q30(spark, dir).queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the digest agg to shuffle")
    // map-side combine: at most one partial row per (key, partition),
    // so never more shuffled rows than input docs
    assert(s.writeRecords <= nDocs,
      s"digest agg lost its partial phase: ${s.writeRecords} records " +
        s"shuffled for $nDocs docs")
    // digests-only: a shuffled row is a 32-char hex + two longs plus
    // framing, nowhere near a document body
    val avgDoc = textBytes.toDouble / nDocs
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < avgDoc / 2 && avgRow < 200,
      f"shuffled rows average $avgRow%.0f B vs $avgDoc%.0f B/doc — " +
        "document text is travelling through the shuffle")
  }

  test("q61 curation's only wide work is digest-sized rows") {
    val docs = docsWithCopies
    val nDocs = docs.count()
    val textBytes = docs.selectExpr("sum(length(text))").head().getLong(0)
    val s = ShuffleMeter.measure(spark) {
      TextQueries.q61(spark, dir).queryExecution.toRdd.count()
    }
    // the keeper agg is the one exchange (the join broadcasts the
    // keeper map): at most one narrow partial row per doc, never text
    assert(s.writeRecords <= nDocs,
      s"curation shuffles ${s.writeRecords} records for $nDocs docs")
    val avgDoc = textBytes.toDouble / nDocs
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < avgDoc / 2 && avgRow < 200,
      f"curation's shuffled rows average $avgRow%.0f B vs $avgDoc%.0f " +
        "B/doc — the text column is not being pruned before the exchanges")
  }

  test("q77 bloom pre-join prunes the fact before any shuffle") {
    val nFact = spark.read.parquet(s"$dir/lineitem.parquet").count()
    val s = ShuffleMeter.measure(spark) {
      Relational.q77(spark, dir).queryExecution.toRdd.count()
    }
    // the bloom admits ~dim-selectivity of the fact (plus false
    // positives); the only exchange after it is the 1-group agg
    assert(s.writeRecords <= nFact / 10,
      s"bloom pre-join shuffled ${s.writeRecords} of $nFact fact rows " +
        "— the probe is not pruning map-side")
  }

  test("q53 as-of join: one window shuffle of the union, no join blowup") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nEv = spark.read.parquet(s"$dir/events.parquet").count()
    val nMarks = nEv / 10 // event_id % 10 == 0
    val s = ShuffleMeter.measure(spark) {
      Relational.q53(spark, dir).queryExecution.toRdd.count()
    }
    // the union-window design: every event + every mark crosses the
    // window exchange once. A join-based as-of (or a lost union)
    // would multiply records or add exchanges
    assert(s.writeRecords <= (1.1 * (nEv + nMarks)).toLong,
      s"as-of shuffled ${s.writeRecords} records for $nEv events + " +
        s"$nMarks marks — the single-window design has regressed")
    // lower bound: the window exchange must move the whole union (a
    // pruned-away window — e.g. measuring under the count() rewrite —
    // reads as a near-zero here, not as a pass)
    assert(s.writeRecords >= nEv + nMarks,
      s"only ${s.writeRecords} records shuffled — the measured plan " +
        "did not execute the as-of window")
  }

  test("hll_build exchanges register arrays, not keys (the q84 claim)") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val nKeys = li.select("l_orderkey").distinct().count()
    // the sketch ALONE (q84 itself also carries the exact-distinct
    // witness column, whose Expand shuffle would swamp the sketch's):
    // a partial register array per (group, task) crosses the exchange
    // — never the keys
    val s = ShuffleMeter.measure(spark) {
      li.groupBy(col("l_returnflag"))
        .agg(call_function("hll_build", col("l_orderkey"), lit(7)))
        .queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the sketch agg to shuffle partials")
    assert(s.writeRecords <= nKeys / 100,
      s"hll_build shuffled ${s.writeRecords} rows for $nKeys distinct " +
        "keys — the partial aggregate is shipping keys, not registers")
    // a shuffled row is [p:int][128 registers] + group + framing
    assert(s.writeBytes <= s.writeRecords * 1024,
      s"register partials average ${s.writeBytes / s.writeRecords} B — " +
        "far above the 132 B sketch payload")
  }

  test("q85/q86 span machinery shuffles digests and positions, never text") {
    // denominators from THE fixture q85 reads (copies AND plants),
    // not a lookalike — so the budget tracks any change to the
    // planted set
    val docs = TextQueries.spanFixture(spark, dir)
    val nDocs = docs.count()
    val textBytes = docs.selectExpr("sum(length(text))").head().getLong(0)
    val nShingles = docs
      .selectExpr("sum(greatest(0, size(split(lower(trim(text)), '\\\\s+')) - 7))")
      .head().getLong(0)
    val s = ShuffleMeter.measure(spark) {
      TextQueries.q85(spark, dir).queryExecution.toRdd.count()
    }
    // every shingle occurrence still crosses the digest exchange, but
    // since r18 it rides inside collect_members_capped PARTIAL buffers
    // (map-side combine — guide §2.3), so the RECORD floor is the
    // distinct digest count (≥ one partial row per distinct digest;
    // same-task duplicates merge pre-shuffle), not the occurrence
    // count. Pairs (occ <= 8 cap, both orientations), island partials,
    // per-doc max and the final join/order stay strictly smaller sets.
    val nDistinctDigests = docs
      .select(explode(call_function("shingle_hash60",
        split(lower(trim(col("text"))), "\\s+"), lit(8))).as("h"))
      .distinct().count()
    assert(s.writeRecords >= nDistinctDigests,
      s"only ${s.writeRecords} records for $nDistinctDigests distinct " +
        "digests — the measured plan did not execute the digest exchange")
    assert(s.writeRecords <= 6 * nShingles,
      s"span pipeline shuffled ${s.writeRecords} records for " +
        s"$nShingles shingles — pair generation is no longer capped")
    val avgDoc = textBytes.toDouble / nDocs
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < avgDoc / 2 && avgRow < 250,
      f"span rows average $avgRow%.0f B vs $avgDoc%.0f B/doc — " +
        "document text is travelling through the shuffle")
  }

  test("q87 forward as-of: same single-window budget as the backward form") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nEv = spark.read.parquet(s"$dir/events.parquet").count()
    val nMarks = nEv / 10
    val s = ShuffleMeter.measure(spark) {
      Relational.q87(spark, dir).queryExecution.toRdd.count()
    }
    // mirrored plan, identical budget law: one window exchange of the
    // union — direction must not change cost
    assert(s.writeRecords <= (1.1 * (nEv + nMarks)).toLong,
      s"forward as-of shuffled ${s.writeRecords} records for $nEv " +
        s"events + $nMarks marks — the mirrored plan has regressed")
    assert(s.writeRecords >= nEv + nMarks,
      s"only ${s.writeRecords} records shuffled — the measured plan " +
        "did not execute the forward window")
  }

  test("q89 sketch path shuffles bounded buckets, not rows (witness excluded)") {
    val base = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(round(col("l_extendedprice") * 100).cast("long").as("n"),
        col("l_returnflag").as("flag"))
    val nRows = base.count()
    // the production path — q89 minus its exact-witness sort: bucket
    // assignment is map-only, the agg's partial phase collapses each
    // partition to its occupied buckets before the one exchange
    // (the SHARED QuantileSketch module, so this pins what q89 runs)
    val sketch = graft.operators.QuantileSketch
      .bucketHistogram(base, col("n"), Seq("flag"))
    val s = ShuffleMeter.measure(spark) {
      sketch.queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the bucket agg to shuffle")
    // the sketch's scaling law: partials <= partitions x occupied
    // buckets — a bound that does NOT grow with the row count (at
    // sf0.001's 6 k rows the two are close; at 100 TB the gap is the
    // whole point). The +orderBy term is the re-shuffle of the final
    // bucket rows.
    val nBuckets = sketch.count()
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(s.writeRecords <= (parts + 1) * nBuckets,
      s"sketch path shuffled ${s.writeRecords} records for $nBuckets " +
        s"buckets x $parts partitions — the partial phase has regressed " +
        s"to streaming rows ($nRows)")
  }

  test("q90 scoring never shuffles tokens or text — only per-doc partials") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count()
    val nToks = docs.selectExpr(
      "sum(size(split(lower(trim(text)), '\\\\s+')))").head().getLong(0)
    val s = ShuffleMeter.measure(spark) {
      TextQueries.q90(spark, dir).queryExecution.toRdd.count()
    }
    // wide work = vocab agg (term partials), the per-doc agg (one
    // partial row per doc per partition — docs are not split, so ~one
    // per doc); the exploded token stream
    // itself must collapse map-side, never travel
    assert(s.writeRecords <= nToks / 2,
      s"q90 shuffled ${s.writeRecords} records for $nToks tokens — " +
        "the token stream is travelling instead of folding map-side")
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < 120,
      f"q90's shuffled rows average $avgRow%.0f B — wider than " +
        "(term|doc_id, counts) partials should ever be")
  }

  test("q91 PMI shuffles narrow pair partials, text stays put") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nToks = docs.selectExpr(
      "sum(size(split(lower(trim(text)), '\\\\s+')))").head().getLong(0)
    // another suite may have run q91 on the shared session and left
    // its persisted pair table cached — the measured run would then
    // skip the bigram-agg shuffle this test exists to pin
    spark.catalog.clearCache()
    val s = ShuffleMeter.measure(spark) {
      TextQueries.q91(spark, dir).queryExecution.toRdd.count()
    }
    // ONE agg over the bigram stream (the pair counts); marginals and
    // the total are sums over the cached pair table, marginal joins
    // broadcast, top-k is TakeOrdered — so the budget is ~a narrow
    // partial row per distinct bigram per task plus pair-table-sized
    // marginal traffic, never a second corpus pass or a join blowup
    assert(s.writeRecords <= 2 * nToks,
      s"q91 shuffled ${s.writeRecords} records for ~$nToks bigrams — " +
        "a second bigram pass or a wide join has appeared")
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < 120,
      f"q91's shuffled rows average $avgRow%.0f B — more than two " +
        "short tokens + a count per row")
  }

  test("q95 normalized dedup shuffles digests, never text (q30's budget)") {
    // denominator = THE planted corpus q95 reads: base + two
    // variants of every 37th doc
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull)
    val nVariantPairs = base.filter(col("doc_id") % 37 === 0).count()
    val nRows = base.count() + 2 * nVariantPairs
    val textBytes = base.selectExpr("sum(length(text))").head().getLong(0)
    val s = ShuffleMeter.measure(spark) {
      TextQueries.q95(spark, dir).queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the digest agg to shuffle")
    // normalization + both digests happen map-side; the distinct
    // rewrite's first exchange moves <= one partial per (h, raw_h),
    // i.e. per input row, and its second one partial per h read from
    // the coalesced post-shuffle partition — where each planted
    // variant pair shares one normalized digest
    assert(s.writeRecords <= 2 * nRows - nVariantPairs,
      s"q95 shuffled ${s.writeRecords} records for $nRows planted rows " +
        "— a partial phase has been lost")
    val avgDoc = textBytes.toDouble / base.count()
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < avgDoc / 2 && avgRow < 200,
      f"q95's shuffled rows average $avgRow%.0f B vs $avgDoc%.0f B/doc " +
        "— text is travelling through the shuffle instead of digests")
  }

  test("q96 rollup's exchanges carry register arrays, not keys") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val nKeys = li.select("l_orderkey").distinct().count()
    val s = ShuffleMeter.measure(spark) {
      Relational.q96(spark, dir).queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the two sketch aggs to shuffle")
    // fine build: <= one partial sketch per (fine group, task);
    // rollup: a handful of per-flag rows — never keys
    assert(s.writeRecords <= nKeys / 100,
      s"q96 shuffled ${s.writeRecords} rows for $nKeys distinct keys — " +
        "a sketch exchange is shipping keys, not registers")
    assert(s.writeBytes <= s.writeRecords * 1024,
      s"q96's shuffled rows average ${s.writeBytes / s.writeRecords} B " +
        "— far above the 132 B sketch payload")
  }

  test("q97 funnel: one narrow per-user data shuffle, no per-stage joins") {
    val nEvents = Relational.eventsNs(spark, dir).count()
    val s = ShuffleMeter.measure(spark) {
      Relational.q97(spark, dir).queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the window's user exchange")
    // the naive k-stage funnel is k self-joins = k data shuffles; the
    // window form moves each event ONCE (both windows and the
    // per-user agg reuse the same user partitioning), plus a
    // rows-per-task trickle for the final single-row reduction
    assert(s.writeRecords <= (1.2 * nEvents).toLong + 100,
      s"q97 shuffled ${s.writeRecords} records for $nEvents events — " +
        "a second data shuffle (per-stage join?) has appeared")
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < 120,
      f"q97's shuffled rows average $avgRow%.0f B — wider than the " +
        "four projected columns; a lost projection is shipping props")
  }

  test("q98 cohorts: the per-user exchange carries bounded date sets") {
    val ev = Relational.eventsNs(spark, dir)
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    val s = ShuffleMeter.measure(spark) {
      Relational.q98(spark, dir).queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the collect_set exchange")
    // partial collect_set dedups map-side: <= one bounded-array row
    // per (user, task) + the tiny (cohort, week) agg —
    // never a row per event
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
      .max(spark.sparkContext.defaultParallelism)
    assert(s.writeRecords <= 2L * nUsers * tasks + 400,
      s"q98 shuffled ${s.writeRecords} records for $nUsers users — " +
        "the per-user partial collapse has been lost")
    assert(s.writeRecords < nEvents,
      s"q98 shuffled ${s.writeRecords} records for $nEvents events — " +
        "shipping per-event rows instead of per-user date sets")
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < 400,
      f"q98's shuffled rows average $avgRow%.0f B — the date set is " +
        "calendar-bounded (<= 30 ints) and must stay so")
  }

  test("q99 full outer join shuffles nation-count rollups, not table rows") {
    val nNations = spark.read.parquet(s"$dir/nation.parquet").count()
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
      .max(spark.sparkContext.defaultParallelism)
    val s = ShuffleMeter.measure(spark) {
      Relational.q99(spark, dir).queryExecution.toRdd.count()
    }
    // both sides pre-aggregate map-side: the agg exchanges carry at
    // most one partial row per (nation, task); the outer join then
    // moves <= |nation| rows per side. Never a row per
    // customer/supplier.
    assert(s.writeRecords <= 4L * nNations * tasks,
      s"q99 shuffled ${s.writeRecords} records for $nNations nations — " +
        "a pre-join partial aggregate has been lost")
  }

  test("q100 de-correlated subquery shuffles customer rows a bounded number of times") {
    val nCust = spark.read.parquet(s"$dir/customer.parquet").count()
    val nNations = spark.read.parquet(s"$dir/nation.parquet").count()
    val scanTasks = spark.read.parquet(s"$dir/customer.parquet")
      .rdd.getNumPartitions
    val s = ShuffleMeter.measure(spark) {
      Relational.q100(spark, dir).queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the de-correlated agg exchange")
    // the rewrite is agg + broadcast join on c_nationkey: the one
    // exchange carries the per-nation partials (<= nations x scan
    // tasks) and no customer row — the naive correlated form would be
    // n subquery executions, not expressible as a bounded shuffle
    assert(s.writeRecords <= nNations * scanTasks,
      s"q100 shuffled ${s.writeRecords} records for $nCust customers — " +
        "the de-correlation has regressed")
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < 150,
      f"q100's shuffled rows average $avgRow%.0f B — wider than the " +
        "four projected columns")
  }

  test("q20 flagship's one data shuffle moves per-FLIGHT rows, not per-sample") {
    val flights = FlightGen.flights(spark, dir)
    val nSamples = flights.count()
    val nFlights = flights.toDF().select("flight").distinct().count()
    val s = ShuffleMeter.measure(spark) {
      ApproachQueries.q20(spark, dir).queryExecution.toRdd.count()
    }
    // measured design (and the reason the pipeline scales): samples
    // aggregate to per-flight rows MAP-SIDE, so the one data exchange
    // carries ~a row per flight — never the raw sample stream, and
    // certainly never a second full-data shuffle
    assert(s.writeRecords >= nFlights,
      s"only ${s.writeRecords} records shuffled for $nFlights flights " +
        "— the measured plan did not execute the per-flight exchange")
    assert(s.writeRecords <= (1.1 * nSamples).toLong,
      s"q20 shuffled ${s.writeRecords} records for $nSamples samples — " +
        "a second data shuffle has appeared")
    assert(s.writeRecords <= 20 * nFlights,
      s"q20 shuffled ${s.writeRecords} records for $nFlights flights — " +
        "the map-side per-flight aggregation has regressed to " +
        "shuffling raw samples")
  }

  test("q105 recall audit: only bounded top-k partials and sample-sized rows shuffle") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val nQ = emb.filter(col("vec_id") % 100 === 0).count()
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
      .max(spark.sparkContext.defaultParallelism)
    val s = ShuffleMeter.measure(spark) {
      VectorQueries.q105(spark, dir).queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the top-k aggregate exchange")
    // the n x q scored pairs live only inside the broadcast-nested-
    // loop stage and its map-side topk_by_score partials: every
    // exchange carries <= 3 rows per (task, query) (top-k partials,
    // counted twice — the eager persist + the final pass) or
    // (cfg, query)-sized hit/base rows. Nothing n-sized may travel.
    assert(s.writeRecords <= 2L * tasks * nQ * 3 + 40L * nQ + 400,
      s"q105 shuffled ${s.writeRecords} records for $nQ sample " +
        s"queries over $n vectors — something data-sized is in an " +
        "exchange (the scored pairs must stay inside the map stage)")
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < 150,
      f"q105's shuffled rows average $avgRow%.0f B — embedding " +
        "vectors are travelling through a shuffle")
  }

  test("q106 skew audit shuffles per-key partial counts, never raw events") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val nEvents = ev.count()
    val nKeys = ev.select("user_id").distinct().count()
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
      .max(spark.sparkContext.defaultParallelism)
    val s = ShuffleMeter.measure(spark) {
      Relational.q106(spark, dir).queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the per-key count exchange")
    // map-side combine: <= one partial row per (key, task) for the
    // count agg (run once — eager persist; stats + top-10 read the
    // cache), + <= a task-count trickle for the single-row stats agg
    // and the top-10's sort. The raw event stream never moves.
    assert(s.writeRecords <= tasks.toLong * nKeys + 4L * tasks + 100,
      s"q106 shuffled ${s.writeRecords} records for $nKeys keys — " +
        "the map-side partial count has been lost")
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < 64,
      f"q106's shuffled rows average $avgRow%.0f B — wider than " +
        "(key, count); a lost projection is shipping event payloads")
  }

  test("q107 delta near-dup shuffles delta-sized id rows, never shingles") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // THE fixture, not a re-spelling of it (withExactCopies rule:
    // budget denominators must track fixture changes)
    val nDelta = TextQueries.q107Delta(docs).count()
    val s = ShuffleMeter.measure(spark) {
      TextQueries.q107(spark, dir).queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the candidate distinct exchange")
    // base text/shingles must never travel: every exchange (candidate
    // pair distinct, base-id distinct, best-match agg) is
    // bounded by delta rows x 4 band keys x a small candidate fan-out
    assert(s.writeRecords <= 60L * nDelta + 400,
      s"q107 shuffled ${s.writeRecords} records for a $nDelta-doc " +
        "delta — a base-sized relation has entered an exchange")
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < 200,
      f"q107's shuffled rows average $avgRow%.0f B — shingle arrays " +
        "or document text are travelling through a shuffle")
  }

  test("q113 decon probe: vectors never shuffle, only top-1 partials") {
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val s = ShuffleMeter.measure(spark) {
      VectorQueries.q113(spark, dir).queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the top-1 partial exchange")
    // the corpus is scored in place against the broadcast eval suite;
    // the only exchange is the per-vector best-match partial (one
    // row per corpus vector per task)
    assert(s.writeRecords <= 2 * nVecs + 64,
      s"q113 shuffled ${s.writeRecords} records for $nVecs vectors — " +
        "the scored pair table is travelling through an exchange")
    // a 64-dim double vector is 512+ B; top-1 partials are three
    // longs — far below it, proving no vector column crosses a wire
    val avgRow = s.writeBytes.toDouble / s.writeRecords
    assert(avgRow < 200,
      f"q113's shuffled rows average $avgRow%.0f B — embedding " +
        "vectors are travelling through a shuffle")
  }

  test("q159 delta line admission: shuffles scale with the DELTA, never the base") {
    import spark.implicits._
    // base 80x the delta in line count: if the base index ever enters
    // an exchange, writeRecords jumps past the base's 8,000 lines and
    // the budget (bounded by the DELTA's 100 lines) turns red
    val base = (0L until 200L).map(i =>
      (i, (0 until 40).map(k => s"b${i}_$k").mkString("\n")))
      .toDF("doc_id", "text")
    val index = graft.text.TextOps.buildLineIndex(base).persist()
    index.count() // materialized OUTSIDE the measured window
    val delta = (1000L until 1010L).map(i =>
      (i, (0 until 10).map(k => s"d${i}_$k").mkString("\n")))
      .toDF("doc_id", "text")
    val deltaLines = 100L
    val s = ShuffleMeter.measure(spark) {
      graft.text.TextOps.lineAdmitStats(delta, index)
        .queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the delta's keeper aggregate")
    // keeper agg + keeper join + hits distinct + stats agg/join: each
    // at most delta-line-sized (map-side partials) — nothing here may
    // scale with the base's 8,000 lines
    assert(s.writeRecords <= 8 * deltaLines,
      s"admission shuffled ${s.writeRecords} records for $deltaLines " +
        "delta lines — the base index has entered an exchange")
    index.unpersist()
  }

  test("q114 outlier audit: exchanges are catalog-sized (source x dim), not corpus-sized") {
    val nSources = spark.read.parquet(s"$dir/documents.parquet")
      .select("source").distinct().count()
    val s = ShuffleMeter.measure(spark) {
      VectorQueries.q114(spark, dir).queryExecution.toRdd.count()
    }
    assert(s.writeRecords > 0, "expected the centroid aggregate exchange")
    // every exchange is catalog-shaped: (source x 64-dim) integer
    // partials, per-source centroid-gather lists and bottom-3
    // partials. The corpus itself reaches
    // the centroid agg as map-side partials — at most one row per
    // (source, dim) per task — and the rescore pass is map-only
    // against the broadcast centroids, so no record count here may
    // scale with the document count
    val catalog = nSources * 64
    assert(s.writeRecords <= 16 * catalog + 1000,
      s"q114 shuffled ${s.writeRecords} records for a $catalog-row " +
        "catalog — a corpus-sized relation has entered an exchange")
    assert(s.writeBytes < (4L << 20),
      s"q114 shuffled ${s.writeBytes} B — centroid exchanges should " +
        "total well under a few MB at this SF")
  }
}
