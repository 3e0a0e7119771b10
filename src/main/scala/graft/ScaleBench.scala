package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-trend harness (dev tool backing SCALE.md): measures the
  * bench's heaviest queries at the driver SF and at a `factor`x
  * replica of it, so the growth laws argued from plans get one
  * measured point each.
  *
  * The replica keeps the WORKLOAD SHAPE faithful, not just the byte
  * count: documents are replicated onto disjoint doc_id ranges with
  * per-replica text perturbation (a real 10x corpus has ~the same
  * duplicate RATE — 10 exact copies of every text would explode the
  * dedup clusters into an unrealistic hot spot), and events onto
  * disjoint user_id ranges (10x distinct flights through the
  * detector, the realistic fleet growth).
  *
  * Usage: runMain graft.ScaleBench [sfDir] [scaledDir] [factor]
  *   [comma-separated query subset]
  * Prints one JSON line per query: sf-time, scaled-time, ratio.
  */
object ScaleBench {

  /** Queries measured (the bench's top cost lines + the flagship +
    * the later additions with non-trivial wide work).
    */
  val Heavy: Seq[String] = Seq(
    "q47_dedup_clusters", "q39_merge_sink", "q33_jaccard_pairs",
    "q31_minhash_lsh", "q28_per_aircraft_thresholds", "q20_approaches",
    "q75_chunk_dedup", "q77_bloom_prejoin",
    // the HLL sketch (fixed-state vs the growing exact
    // distinct), both substring-dedup operators (shingle volume
    // grows linearly; the capped pair explode must not go quadratic),
    // and the two newly-native map-only scalars (pure scan
    // throughput — their decades pin the per-row cost constant)
    "q84_hll_distinct", "q85_span_dedup", "q86_span_cut",
    "q37_fingerprint", "q49_simhash64",
    // the quantile sketch (fixed bucket state vs the
    // full-sort exact witness), unigram LM scoring (broadcast vocab
    // probe + integer per-doc fold), bigram PMI (pair-agg volume),
    // and the ORC read path (pushed-predicate scan throughput)
    "q89_quantile_sketch", "q90_unigram_logprob", "q91_pmi_bigrams",
    "q92_orc_roundtrip", "q93_weighted_sample",
    // the partition-pruned scan (pruning must hold the
    // read constant per day as total volume grows), the normalized
    // dedup (map-only normalize + digest agg), the sketch rollup
    // (fine sketch build grows, the rollup-over-sketches must not),
    // and funnel + cohorts (per-user window volume). q99/q100 are
    // deliberately NOT here: they read only dims, and buildScaled
    // copies dims through unchanged (catalog-sized, not
    // volume-sized), so their "scaled" ratio would be 1.0 by
    // construction — a measurement that cannot detect a regression
    // is not a measurement
    "q94_partition_prune", "q95_normalized_dedup", "q96_sketch_rollup",
    "q97_funnel", "q98_cohorts",
    // q103: the candidate volume grows with the corpus, so the
    // verify stage's cost law is measurable (q102 is dim-only, same
    // exclusion as q99/q100; q104 is a single lineitem aggregate
    // already represented by the q01-family law)
    "q103_edit_verify",
    // q106: one per-key count over the growing event stream — the
    // map-side-combine law, measurable. q105 is deliberately NOT
    // here: its exact baseline is q40's by-design quadratic over a
    // fixed-RATE query sample, so a decade at constant rate measures
    // 100x pair volume by construction; the production knob is a
    // fixed sample SIZE (n_queries constant), under which the exact
    // pass is linear in n — the plan/budget specs pin that shape
    "q106_key_skew",
    // delta-vs-base near-dup (delta grows with the
    // corpus — a bigger base gets a bigger crawl batch — so the
    // band-join + confirm volume law is measurable), the hashed
    // classifier and the length histogram (both map-only scans whose
    // decades pin the per-row scoring/bucketing cost constant)
    "q107_delta_neardup", "q108_quality_classifier",
    "q109_length_histogram",
    // importance resampling (vocab aggs + broadcast
    // probe + bounded top-k — the q90+q93 composition's law) and the
    // drift monitor (one tagged (term, counts) agg)
    "q110_importance_resample", "q111_drift_stats",
    // containment shares q33's inverted-index pair law
    // (shingle volume grows linearly, candidate pairs with it); the
    // decon probe is corpus x FIXED-eval (the replica keeps the eval
    // suite replica-0-only, so the law is the linear map-only scan);
    // the outlier audit is the doc<->vec join + (source x dim)
    // centroid agg + map-only rescore
    "q112_containment", "q113_semantic_decon", "q114_source_outliers",
    // q116 composes q47's pair+CC machinery (its cost driver) with a
    // quality scan + one narrow keeper agg — the decade checks the
    // composition adds nothing superlinear on top of q47's law
    "q116_canonical_keeper",
    // q117 rides the same pair machinery but iterates WEIGHTED
    // propagation at fixed depth — the decade checks the 3 rounds of
    // narrow (id, pr) joins track edge volume, not worse
    "q117_graph_rank",
    // q119's window frame runs over the (type, hour) ROLLUP — which
    // stays constant-sized under the event replica (same hours, 10x
    // the counts) — so the decade isolates the map-side rollup law;
    // q120 shares the identical posture (regression over the rollup)
    "q119_rate_anomaly", "q120_rate_trend",
    // q121 is one corpus scan for the stats row + one map-only
    // scoring scan against the broadcast — the decade pins the
    // per-doc scoring cost constant
    "q121_bm25",
    // q122: the banded margin miner with its log2(n)-tracked plane
    // count — the decade checks the production knob actually holds
    // candidate volume (and with it the bucketed join) linear.
    // q123 is deliberately NOT here: it embeds the exact all-pairs
    // baseline as its ground truth, the q105/q40 exclusion. q124 is
    // also excluded WITH a reason: its cost driver is q47's pair+CC
    // machinery (decades measured, and the q116 run already measured
    // that machinery under composition); the only work q124 adds is
    // one narrow (id, label) join and a map-only hash projection
    "q122_banded_align",
    // three scan-throughput decades (the
    // per-row cost must stay constant as volume grows — JSON parse
    // for q131, zlib deflate for q132, BMP raster walk for q133) and
    // the banded hard-negative miner (q134 — same linearity question
    // as q122: candidates per anchor must not grow with corpus size
    // beyond the band-collision rate). q135 is deliberately NOT
    // here: it embeds the exact different-label baseline as its
    // ground truth — the q105/q123 exclusion class.
    "q131_json_extract", "q132_compression_signal",
    "q133_bmp_decode", "q134_hard_negatives",
    // q136: archive explode — container walk + per-entry inflate
    // must stay per-row constant as shard volume grows
    "q136_archive_explode",
    // q137: tar-shard walk + in-worker stem grouping — same per-row
    // constancy question as q136 with the grouping added
    "q137_tar_samples",
    // q140: perceptual near-dup — decode+hash is per-row constant,
    // and the banded pair join must stay linear (the planted scene
    // mix guarantees 3 true pairs per scene; a superlinear decade
    // here means the banding degenerated)
    "q140_image_neardup",
    // q142: HTML extraction — pure regex scan; its decade pins the
    // per-document regex cost constant (including the
    // comment/CDATA/entity passes — the added per-row cost must stay
    // constant too)
    "q142_html_extract",
    // q158's cost drivers are q150's line machinery +
    // q47's pair/CC (both decades measured individually); measuring
    // the COMPOSITION pins that assembling them adds no superlinear
    // join (the q116-under-composition precedent). q159's decade pins
    // the delta-admission law: base index probe stays one column scan
    // while the delta grows with the corpus
    "q158_curation_v3", "q159_line_admit",
    // q160/q161 curate from the real container fronts
    // (ZIP / WebDataset tar) — their decades pin that the archive
    // encode/walk boundary (map-only per shard) and the downstream
    // q157-family stages compose without a superlinear term
    "q160_container_curation", "q161_webdataset_curation",
    // q162 composes the cluster stage onto the q160
    // front (its decade pins the pair/CC term under the container
    // lineage); q163's decade pins the gzip member walk
    "q162_cluster_split_front", "q163_warc_curation")

  /** Replica-k embedding perturbation: cyclic rotation by k % Dim
    * composed with a Walsh sign flip (dimension j negated iff
    * popcount(j & phase) is odd, phase = k / Dim). The rotation alone
    * repeats at k + Dim — replicas k and k+Dim would carry identical
    * embeddings, reintroducing exact cross-replica cos-1.0 twins at
    * factor > Dim — and Walsh sign patterns are distinct for distinct
    * phases, so the composition stays twin-free for all factors up to
    * Dim^2 replicas. Both transforms are orthogonal: norms, planted
    * twins, and per-replica neighborhoods are preserved exactly while
    * cross-replica cosines drop to chance. `arr` is 0-indexed in the
    * Walsh test (transform's index), 1-indexed in slice.
    */
  def perturbEmbedding(k: Int, arr: Column): Column = {
    val dim = graft.queries.VectorQueries.Dim
    val rot = k % dim
    val phase = (k / dim) % dim
    val rotated =
      if (rot == 0) arr
      else concat(slice(arr, rot + 1, dim - rot), slice(arr, 1, rot))
    if (phase == 0) rotated
    else transform(rotated, (x, i) =>
      when(bit_count(i.bitwiseAND(lit(phase))) % 2 === 1, -x)
        .otherwise(x))
  }

  def buildScaled(spark: SparkSession, sfDir: String, out: String,
      factor: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def missing(t: String) =
      !fs.exists(new org.apache.hadoop.fs.Path(s"$out/$t.parquet"))

    // q77's shape: the fact grows 10x on disjoint orderkey ranges,
    // the part dim does NOT (dims grow with the catalog, not the
    // event volume) — join selectivity and the bloom's pruning rate
    // stay realistic
    // SHARED orderkey stride for lineitem AND orders: replicas must
    // step both tables by the same amount or the l_orderkey ->
    // o_orderkey FK breaks inside replicas k > 0 (computed lazily —
    // only if either table needs building; spans both maxima in case
    // an order carries no lineitem rows).
    // BOTH-or-neither: a dir holding one orderkey fact but not the
    // other (e.g. an older pre-seed with lineitem only) must rebuild
    // BOTH — the surviving table's stride came from max(l_orderkey)
    // alone, and pairing it with a both-maxima stride silently breaks
    // the FK inside every replica k > 0 (joins drop rows, no error)
    lazy val okStep = math.max(
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .agg(max("l_orderkey")).head().getLong(0),
      spark.read.parquet(s"$sfDir/orders.parquet")
        .agg(max("o_orderkey")).head().getLong(0)) + 1
    val rebuildOrderFacts = missing("lineitem") || missing("orders")

    if (rebuildOrderFacts) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      (0 until factor).map { k =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(k * okStep))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")
      // orders is a fact, not a dim: it grows with the order volume
      // on the same key stride; o_custkey stays put (customers are
      // the catalog), so each replica's orders join the one customer
      // dim
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      (0 until factor).map { k =>
        o.withColumn("o_orderkey", col("o_orderkey") + lit(k * okStep))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/orders.parquet")
    }
    // dims grow with the catalog, not the event volume: copy through
    // unchanged (part for q77; customer/supplier/nation for q99/q100 —
    // their cost law is the dim-sized aggregate, measured as such)
    for (dim <- Seq("part", "customer", "supplier", "nation", "region"))
      if (missing(dim))
        spark.read.parquet(s"$sfDir/$dim.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$out/$dim.parquet")

    // shared replica stride for documents AND embeddings (computed
    // once, lazily — only if either table needs building): both
    // tables must step by the SAME amount or q114's doc<->vec join
    // stops matching inside replicas k > 0
    lazy val docStep = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(max("doc_id")).head().getLong(0) + 1

    if (missing("documents")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      (0 until factor).map { k =>
        docs.select(
          (col("doc_id") + lit(k * docStep)).as("doc_id"),
          (if (k == 0) col("text")
           else concat(col("text"), lit(s" r$k"))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    }

    // embeddings replicate on the DOCUMENTS id step, not their own:
    // doc_id and vec_id ranges differ at sf0.1 (5000 docs, 2000
    // vecs), and q114's doc<->vec join must keep matching inside
    // every replica. The eval suite (vec_id % 97 = 0) stays FIXED —
    // replica-0-only — because a production benchmark suite does not
    // grow with the corpus; without the filter the q113 decade would
    // measure corpus x eval growth (quadratic by construction, the
    // q105 exclusion reasoning) instead of the production law.
    if (missing("embeddings")) {
      val em = spark.read.parquet(s"$sfDir/embeddings.parquet")
      (0 until factor).map { k =>
        // per-replica PERTURBATION (the documents " r$k" treatment,
        // vector form): replica k cyclically rotates each vector's
        // dimensions by k % Dim, then — for k >= Dim, where the
        // rotation alone would repeat (replicas k and k+Dim were
        // identical, re-creating cos-1.0 twins at factor > Dim) —
        // applies a Walsh sign flip: dimension j is negated iff
        // popcount(j & phase) is odd, phase = k / Dim. Walsh sign
        // patterns are distinct for distinct phases, so all factors
        // up to Dim^2 replicas stay twin-free. Both transforms are
        // orthogonal: each replica's internal geometry (norms,
        // planted twins, per-replica neighborhoods) is identical to
        // the original while cross-replica cosines drop to chance —
        // the realistic "10x more vectors", not "10 copies of each
        // vector". Unperturbed copies made every vector have
        // factor-1 EXACT twins — cos 1.0 neighbors that saturate
        // every top-4 neighborhood, so margin-normalized mining
        // (q122) admits zero pairs on the replica BY CONSTRUCTION
        // and the scaled gate can't catch anything.
        em.select((col("vec_id") + lit(k * docStep)).as("vec_id"),
          perturbEmbedding(k, col("embedding")).as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .filter(col("vec_id") < docStep || col("vec_id") % 97 =!= 0)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    }

    if (missing("events")) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val events = spark.read.parquet(s"$sfDir/events.parquet")
      val userStep = events.agg(max("user_id")).head().getLong(0) + 1
      val evStep = events.agg(max("event_id")).head().getLong(0) + 1
      (0 until factor).map { k =>
        events.select(
          (col("event_id") + lit(k * evStep)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k * userStep)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/events.parquet")
    }
  }

  /** Build-only entry (the above-sf0.1 oracle gate): replicate the
    * full 10-table corpus without measuring anything, so check.py can
    * run the DuckDB gate against the replica.
    * Usage: runMain graft.ScaleBenchBuild [sfDir] [out] [factor]
    */
  def buildOnlyMain(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf0.3")
    val factor = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    buildScaled(spark, sfDir, out, factor)
    spark.stop()
  }

  private def time(spark: SparkSession, name: String, dir: String,
      passes: Int = 2): Double =
    (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      // toRdd, NOT count(): the count rewrite lets Catalyst prune
      // cardinality-neutral operators — q85's span left-join and
      // q86's aggregate expressions vanish under count(), and the
      // "measurement" times the fixture scan (q85 at a
      // REAL 100x corpus timed 1.4x — physically impossible for 100x
      // the shingle volume). toRdd executes the plan as declared,
      // the same rule Bench documents.
      SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      val secs = (System.nanoTime() - t0) / 1e9
      // cache teardown varies with what the query persisted — keep it
      // OUTSIDE the timed window so ratios measure the query
      spark.catalog.clearCache()
      secs
    }.min

  def main(args: Array[String]): Unit = {
    // decade replicas exceed q122's 2048/side oracle boundary by
    // design; this run is oracle-free, so the adaptive plane count
    // may engage (bandedAlign throws without the opt-in)
    System.setProperty("graft.q122.adaptivePlanes", "true")
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_scaled")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // blanks from trailing/doubled commas are noise, not an error
    val subset =
      args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // validate BEFORE buildScaled: a typo'd name would otherwise pay
    // for the full scaled-corpus build and then measure nothing
    subset.foreach { s =>
      require(s.nonEmpty,
        s"empty query subset — the measurable set is " +
          Heavy.mkString(", "))
      val unknown = s -- Heavy.toSet
      require(unknown.isEmpty,
        s"unknown queries ${unknown.mkString(", ")} — the measurable " +
          s"set is ${Heavy.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    buildScaled(spark, sfDir, out, factor)
    // warm-up at the small SF (JIT/codegen, not measured)
    SparkEntry.queries("q12_topk")(spark, sfDir).count()
    Heavy.filter(n => subset.forall(_.contains(n))).foreach { name =>
      val base = time(spark, name, sfDir)
      val scaled = time(spark, name, out)
      val ratio = scaled / base
      println(f"""{"query":"$name","base_sec":$base%.2f,""" +
        f""""scaled_sec":$scaled%.2f,"factor":$factor,""" +
        f""""time_ratio":$ratio%.2f}""")
    }
    spark.stop()
  }
}

/** runMain alias for [[ScaleBench.buildOnlyMain]]. */
object ScaleBenchBuild {
  def main(args: Array[String]): Unit = ScaleBench.buildOnlyMain(args)
}
