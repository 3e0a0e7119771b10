package graft.queries

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{IvfCodebook, PqCodebook}
import graft.functions.IvfCodebook.{ivfBestCid, ivfProbe2, ivfResidual}
import graft.functions.PqCodebook.{pqAdcE6, pqEncode}
import graft.vector.VectorOps._

/** Similarity-search queries over the `embeddings` table (SURVEY.md
  * §2.11): brute-force cosine top-k (correctness baseline), SRP-LSH
  * bucketing (the scale path), and LSH-bucketed cosine near-dup with
  * planted positives. Scores are reported as `round(c * 1e6)` bigints;
  * both engines compute identical doubles (sequential folds), so the
  * compare is exact.
  */
object VectorQueries {

  import Relational.tbl

  private val Planes = 8
  // shared with ScaleBench's replica perturbation — one constant, not two
  private[graft] val Dim = 64
  private val signs = srpSigns(Planes, Dim)

  /** The embeddings as (vec_id, v: array<double>). */
  private def vecs(spark: SparkSession, dir: String): DataFrame = {
    tbl(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
  }

  /** DuckDB: double-cast list of the embedding column `e`. */
  private def vSql(e: String) =
    s"list_transform($e, x -> CAST(x AS DOUBLE))"

  /** DuckDB: sequential-fold dot product of double lists a, b. */
  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))"

  // ---- q40: brute-force cosine top-3 per query vector ----
  // Queries = every 100th vector, broadcast against the full table;
  // the fact side stays partitioned (no shuffle of the big side).
  // Scoring every (query, vector) pair is this baseline's JOB — but
  // the rank stage must not be quadratic too: the top-3 comes from
  // the native bounded `topk_by_score` partial aggregate
  // ([[graft.functions.TopKByScore]]), so each task keeps a 3-slot
  // buffer per query and the exchange carries at most 3 rows per
  // (task, query) — the previous `row_number` window shuffled and
  // sorted ALL n x q scored rows. Same rows out (PlanSpec pins the
  // window-free plan; the oracle still ranks with row_number).
  // norms computed ONCE per row before the pair join (the composed
  // cosine() would re-fold sqrt(dot(x,x)) per PAIR — n x q times);
  // sqrt-then-multiply-then-divide is the identical FP sequence, so
  // scores are bit-equal to the composed form and the oracle
  private[graft] def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nv", sqrt(dot(col("v"), col("v"))))

  /** FIXED-SIZE anchor panels for the exact audit baselines (the
    * q141 posture applied to the vector family): the 8 queries
    * that embed an all-pairs/exact scorer as ground truth (q40, q70,
    * q105, q118, q123, q126, q128, q135) used samples that GROW with
    * the corpus (every 100th/50th vector), so their DuckDB oracles
    * were O(n²/k)-priced and sat out every replica gate. Bounding the
    * sample id-space caps each panel at a constant size past the
    * bound — a production audit samples a constant probe panel — so
    * the exact side (and its oracle replay) is LINEAR in the corpus
    * and the replica gates can run the audits. At every driver gate
    * SF the organic id space sits far below the bounds (sf0.1 tops
    * out at vec_id 1999), so gate outputs are bit-identical to the
    * unbounded form; only replica dirs (ids striding upward per
    * ScaleBench replica) see the cap.
    */
  private[graft] val QueryPanelBound = 25000L

  /** q118/q123's x-domain: the whole first id block plus every 25th
    * source vector above it (which keeps every planted twin source —
    * they stride 50). The block bound is lower than
    * [[QueryPanelBound]] because this panel multiplies the FULL
    * target side with no modulus thinning.
    */
  private[graft] val AlignAnchorBound = 2500L

  /** The baseline/audit query sample: every 100th vector under the
    * panel bound, renamed for the broadcast side of the scoring
    * cross join.
    */
  private def querySample(all: DataFrame): DataFrame =
    all.filter(col("vec_id") % 100 === 0 &&
        col("vec_id") < QueryPanelBound)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nv").as("nq"))

  /** Exact-cosine bounded top-k per sample query: `(query_id,
    * top: array<struct<id,score>>)` — the brute-force baseline shared
    * by q40 (ranked output) and q105 (recall claim set). Ties break
    * (score DESC, id ASC), matching the oracles' `row_number` order.
    */
  private def exactTopK(all: DataFrame, queries: DataFrame,
      k: Int): DataFrame =
    all.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("nq") * col("nv")) * 1e6)
          .cast("long").as("cos_e6"))
      .groupBy(col("query_id"))
      .agg(call_function("topk_by_score",
        col("cos_e6"), col("neighbor_id"), lit(k)).as("top"))

  def q40(spark: SparkSession, dir: String): DataFrame = {
    val all = withNorm(vecs(spark, dir))
    exactTopK(all, querySample(all), 3)
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cos_e6"))
  }

  /** DuckDB CTE chain for the exact baseline — `e` (vectors), `q`
    * (the 1% sample), `scored`, `ranked` — shared by q40Sql/q105Sql
    * so the FP sequence and tie order live in exactly one place.
    */
  private val exactRankedCte: String = {
    val d = dotSql("q.qv", "e.v")
    val nq = dotSql("q.qv", "q.qv")
    val ne = dotSql("e.v", "e.v")
    s"""e AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv FROM e
       |  WHERE vec_id % 100 = 0 AND vec_id < $QueryPanelBound
       |), scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    CAST(round(1000000.0 * ($d / (sqrt($nq) * sqrt($ne))), 0) AS BIGINT) AS cos_e6
       |  FROM e, q WHERE e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos_e6,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos_e6 DESC, neighbor_id) AS rank
       |  FROM scored
       |)""".stripMargin
  }

  val q40Sql: String =
    s"""WITH $exactRankedCte
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos_e6
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ---- q41: SRP-LSH bucket assignment (the ANN scale path) ----
  def q41(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("vec_id"), srpBucket(col("v"), signs).cast("int").as("bucket"))

  val q41Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |)
       |SELECT vec_id, CAST(${bucketBitsSql(signs)} AS INT) AS bucket
       |FROM e ORDER BY vec_id""".stripMargin

  // ---- q42: LSH-bucketed cosine near-dup with planted positives ----
  // Every 25th vector gets a perturbed twin (+0.05 on dim 1) at
  // vec_id + 1000000; candidates = same SRP bucket (equi join, with
  // the shared hot-bucket cap), confirmed at cosine >= 0.99. Never an
  // all-pairs join. The bucketed table is persisted and eagerly
  // materialized before the self-join — the two join sides are
  // sibling stages of one job and would otherwise each recompute the
  // union + bucket pipeline (lifecycle: the harness clears the cache
  // between queries; long-lived callers use annNearDupPairs and own
  // the unpersist).
  def q42(spark: SparkSession, dir: String): DataFrame = {
    val base = vecs(spark, dir)
    val planted = base.filter(col("vec_id") % 25 === 0)
      .select(Fixtures.plantedId(col("vec_id"), 1000000L).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.05).otherwise(x))
          .as("v"))
    annNearDupPairs(base.union(planted), signs)
  }

  /** SRP-bucketed cosine near-dup pairs over `(vec_id, v)` rows:
    * bucket on `planes.length` signed random projections, pair within
    * buckets (hot-bucket-capped), confirm at `minCosE6`. Plane count
    * is the scale knob: expected pair count grows as n^2 / 2^planes,
    * so planes must track log2(n) — or band multiple SRP tables — to
    * hold candidates linear in n; `maxBucket` bounds the damage of
    * any single degenerate bucket regardless. Returns
    * (id_a, id_b, cos_e6); the bucketed input stays persisted until
    * the caller releases it (`spark.catalog.clearCache()` or
    * unpersist via the plan's InMemoryRelation).
    */
  def annNearDupPairs(vecs: DataFrame, planes: Seq[Seq[Double]],
      minCosE6: Long = 990000L, maxBucket: Long = 100000L): DataFrame = {
    // the cached bucket table also carries each vector's norm: the
    // confirm step then folds one dot per PAIR instead of three
    // (same FP sequence as the composed cosine -> bit-equal scores)
    val all = vecs
      .withColumn("bucket", srpBucket(col("v"), planes))
      .withColumn("nv", sqrt(dot(col("v"), col("v"))))
      .persist()
    all.count() // eager barrier: fill the cache before the sides race
    graft.operators.Buckets
      .cappedSelfJoinPairs(all, "vec_id", "bucket", maxBucket)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.nv") * col("b.nv")) * 1e6)
          .cast("long").as("cos_e6"))
      .filter(col("cos_e6") >= minCosE6)
  }

  /** Shared oracle CTE chain for the planted-twin SRP-bucket pair
    * generation (q42, and q79's cluster resolution over the same
    * pairs): base ∪ planted twins, bucketed, paired within buckets,
    * thresholded at 0.99 cosine.
    */
  private val annPairsCteSql: String = {
    val bits = bucketBitsSql(signs)
    val d = dotSql("a.v", "b.v")
    val na = dotSql("a.v", "a.v")
    val nb = dotSql("b.v", "b.v")
    s"""base AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |), planted AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(range(1, len(v) + 1),
       |      i -> CASE WHEN i = 1 THEN v[i] + 0.05 ELSE v[i] END) AS v
       |  FROM base WHERE vec_id % 25 = 0
       |), all_v AS (
       |  SELECT vec_id, v, $bits AS bucket FROM (
       |    SELECT * FROM base UNION ALL SELECT * FROM planted)
       |), ann_pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    CAST(round(1000000.0 * ($d / (sqrt($na) * sqrt($nb))), 0) AS BIGINT) AS cos_e6
       |  FROM all_v a JOIN all_v b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE CAST(round(1000000.0 * ($d / (sqrt($na) * sqrt($nb))), 0) AS BIGINT) >= 990000
       |)""".stripMargin
  }

  val q42Sql: String =
    s"""WITH $annPairsCteSql
       |SELECT id_a, id_b, cos_e6 FROM ann_pairs
       |ORDER BY id_a, id_b""".stripMargin

  // ---- q62: multi-table SRP banding (the ANN recall path) ----
  // A single SRP table is recall-lossy at high plane counts: each
  // extra plane halves bucket size AND adds a hyperplane that can
  // separate a true near-pair (measured on this data at delta=0.15:
  // table 0 alone catches 9/20 planted twins). Banding b independent
  // tables (salted sign matrices) and OR-ing their bucket collisions
  // is the MinHash band trick on the vector path: a pair is a
  // candidate if ANY table buckets it together — recall 1-(1-p^r)^b,
  // with all 20/20 planted twins recovered here (spec-pinned). Cost
  // is b band keys per vector through the SAME capped bucket join the
  // single-table path uses; precision is restored by the exact cosine
  // confirm, so extra tables never add false positives, only
  // candidate volume.
  private[graft] val BandSalts = Seq("", "t1:", "t2:")
  private[graft] val bandTables: Seq[Seq[Seq[Double]]] =
    BandSalts.map(s => srpSignsSalted(s, Planes, Dim))

  /** Multi-table SRP-banded cosine near-dup pairs over (vec_id, v)
    * rows: each vector gets one (table, bucket) band key per table;
    * candidates pair within identical band keys (hot-bucket-capped);
    * the exact-cosine confirm + DISTINCT collapses pairs colliding in
    * several tables. Table count is the recall knob (OR-combined);
    * plane count per table remains the bucket-size knob — at scale,
    * candidates grow as b * n^2 / 2^planes.
    */
  /** One (table, bucket) band-key struct per band table for vector
    * column `v` — the explode payload shared by the banded pair
    * generator, the q105 claim keys, and q122's bipartite sides.
    */
  private[graft] def bandKeyArr(v: Column,
      tables: Seq[Seq[Seq[Double]]] = bandTables): Column =
    array(tables.zipWithIndex.map { case (signs, t) =>
      struct(lit(t).as("t"), srpBucket(v, signs).cast("int").as("b"))
    }: _*)

  def annNearDupPairsBanded(vecs: DataFrame,
      tables: Seq[Seq[Seq[Double]]], minCosE6: Long = 990000L,
      maxBucket: Long = 100000L): DataFrame = {
    // norm staged once per vector BEFORE the band-key explode; the
    // banded table is persisted + eagerly counted for the same
    // sibling-stage reason as annNearDupPairs
    val banded = vecs
      .withColumn("nv", sqrt(dot(col("v"), col("v"))))
      .withColumn("bk", explode(bandKeyArr(col("v"), tables)))
      .persist()
    banded.count()
    graft.operators.Buckets
      .cappedSelfJoinPairs(banded, "vec_id", "bk", maxBucket)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.nv") * col("b.nv")) * 1e6)
          .cast("long").as("cos_e6"))
      .filter(col("cos_e6") >= minCosE6)
      .distinct()
  }

  // Planted twins at +0.15 on dim 0 — big enough that table 0 misses
  // roughly half of them (see the banding note above), small enough
  // that every twin stays above the 0.985 confirm threshold.
  def q62(spark: SparkSession, dir: String): DataFrame = {
    val base = vecs(spark, dir)
    val planted = base.filter(col("vec_id") % 25 === 0)
      .select(Fixtures.plantedId(col("vec_id"), 1000000L).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.15).otherwise(x))
          .as("v"))
    annNearDupPairsBanded(base.union(planted), bandTables,
      minCosE6 = 985000L)
  }

  /** DuckDB literal for plane `p` of a salted table. */
  private def planeSqlT(tab: Seq[Seq[Double]], p: Int): String =
    tab(p).map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** DuckDB: the SRP bucket id of list column `v` under hyperplane
    * table `tab` — the one place the bucket bit encoding is spelled
    * in SQL (q41Sql single table, q62Sql bands, q105Sql audit keys).
    */
  private def bucketBitsSql(tab: Seq[Seq[Double]],
      vcol: String = "v"): String =
    // tab.size, NOT the Planes constant: adaptive-plane oracle
    // regeneration (alignOracleOverlay) passes deeper tables, and a
    // count pinned to the 8-plane default would silently truncate
    // their buckets to the low 8 bits
    tab.indices.map { p =>
      s"CASE WHEN ${dotSql(vcol, s"(${planeSqlT(tab, p)})")} > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" +\n    ")

  val q62Sql: String = {
    def bits(tab: Seq[Seq[Double]]) = bucketBitsSql(tab)
    val d = dotSql("a.v", "b.v")
    val na = dotSql("a.v", "a.v")
    val nb = dotSql("b.v", "b.v")
    val tableSel = bandTables.zipWithIndex.map { case (tab, t) =>
      s"SELECT vec_id, v, $t AS t, CAST(${bits(tab)} AS INT) AS bucket FROM all_v"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH base AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |), planted AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(range(1, len(v) + 1),
       |      i -> CASE WHEN i = 1 THEN v[i] + 0.15 ELSE v[i] END) AS v
       |  FROM base WHERE vec_id % 25 = 0
       |), all_v AS (
       |  SELECT * FROM base UNION ALL SELECT * FROM planted
       |), banded AS (
       |  $tableSel
       |)
       |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |  CAST(round(1000000.0 * ($d / (sqrt($na) * sqrt($nb))), 0) AS BIGINT) AS cos_e6
       |FROM banded a JOIN banded b
       |  ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE CAST(round(1000000.0 * ($d / (sqrt($na) * sqrt($nb))), 0) AS BIGINT) >= 985000
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q43: IVF-style ANN (coarse quantize -> probe 2 lists) ----
  // Centroids = every 31st vector (deterministic data-derived coarse
  // quantizer); each vector is assigned to its max-cosine centroid;
  // a query probes its 2 nearest centroids' lists and ranks
  // candidates by exact cosine. The inverted-list join replaces the
  // all-pairs scan — at scale, candidates/query ~ n/centroids *
  // nprobe. Scores ranked on rounded e6 ints so both engines break
  // ties identically.
  //
  // Assignment is a MAP-ONLY scan: an IVF codebook is a driver-side
  // dimension (nlist entries, not data-scaled — FAISS holds it in
  // every worker), collected once and shipped as a Spark BROADCAST
  // VARIABLE read by the native `ivf_best_cid`/`ivf_probe2`
  // expressions ([[graft.functions.IvfCodebook]]). Zero joins, zero
  // shuffles, no n x n_centroids row explosion — and, unlike the
  // previous `typedLit` array literal, nothing for the analyzer or
  // codegen to chew at production nlist (a 65k x 64-double literal is
  // ~33 M constants in the expression tree; the broadcast handle is
  // O(1) in the plan — IvfCodebookSpec pins plan build < 1 s at
  // nlist 4096). The only remaining data shuffle is the final
  // per-query rank window over the probed candidates.

  /** Build and broadcast the IVF codebook: every `every`-th vector,
    * as (cid, cv, |cv|) ascending cid. The expressions' strict >
    * keeps the FIRST max, reproducing the oracle's (ccos DESC, cid
    * ASC) row_number order; norms are the identical sequential fold
    * as the oracle's sqrt(list_sum(...)), so scores are bit-equal.
    */
  private[graft] def codebookBc(all: DataFrame,
      every: Int = 31): Broadcast[IvfCodebook] = {
    val rows = all.filter(col("vec_id") % every === 0)
      .select(col("vec_id"), col("v")).orderBy(col("vec_id"))
      .collect()
    val cvs = rows.map(_.getSeq[Double](1).toArray)
    all.sparkSession.sparkContext.broadcast(IvfCodebook(
      rows.map(_.getLong(0)),
      cvs,
      cvs.map(cv => math.sqrt(seqDot(cv, cv)))))
  }

  // The `typedLit` plan-literal codebook twin and its fold-form
  // argmax/probe columns live in IvfCodebookSpec now (test-only):
  // they exist purely as the bit-equality oracle for the native
  // expressions, and keeping them here kept the retired literal
  // anti-pattern in the production file.

  /** Map-only IVF assignment table (vec_id, v, cid). coalesce makes
    * cid NON-NULLABLE (it never is: the argmax always yields a cid),
    * so an inner join on cid infers no IsNotNull(cid) pushdown filter
    * — which would re-evaluate the whole codebook scan a second time
    * per row in the pre-join Filter.
    */
  private def assignToCodebook(all: DataFrame,
      cb: Broadcast[IvfCodebook]): DataFrame =
    all.select(col("vec_id"), col("v"),
      coalesce(ivfBestCid(col("v"), cb), lit(-1L)).as("cid"))

  def q43(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val cb = codebookBc(all)
    val assign = assignToCodebook(all, cb)
    val probes = all.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(ivfProbe2(col("v"), cb)).as("cid"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_e6").desc, col("neighbor_id"))
    // probes are 2 rows per query — broadcast them so the big assign
    // side streams through a map-side hash join, never shuffling
    assign.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("v")) * 1e6).cast("long").as("cos_e6"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_e6"))
  }

  val q43Sql: String = {
    def cosE6(a: String, b: String) =
      s"CAST(round(1000000.0 * (${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))), 0) AS BIGINT)"
    s"""WITH e AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 31 = 0
       |), assign AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6("e.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM e, cents c)
       |  WHERE rn = 1
       |), probes AS (
       |  SELECT query_id, qv, cid FROM (
       |    SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosE6("q.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM e q, cents c WHERE q.vec_id % 100 = 0)
       |  WHERE rn <= 2
       |)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos_e6 FROM (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ${cosE6("p.qv", "a.v")} AS cos_e6,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY ${cosE6("p.qv", "a.v")} DESC, a.vec_id) AS rank
       |  FROM probes p JOIN assign a USING (cid)
       |  WHERE a.vec_id <> p.query_id)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // ---- q69/q70: product quantization (the memory half of IVF+PQ) ----
  // PQ turns a 64-dim double vector into m=8 small ints (per 8-dim
  // subspace, the index of its nearest sub-centroid): 10^11 vectors
  // shrink from ~51 TB of doubles to ~800 GB of codes, and search
  // scores CODES against a raw query (ADC) without ever touching the
  // original vectors. Codebook = the same every-31st-vector dimension
  // as IVF, broadcast and read by native pq_encode/pq_adc_e6
  // expressions ([[graft.functions.PqCodebook]]) — encode is a
  // map-only scan, zero shuffles.

  /** Build + broadcast the PQ codebook (full-dim centroids ascending
    * cid; subspace slices read per expression).
    */
  private[graft] def pqCodebookBc(all: DataFrame, m: Int = 8,
      every: Int = 31): Broadcast[PqCodebook] = {
    val cents = all.filter(col("vec_id") % every === 0)
      .select(col("vec_id"), col("v")).orderBy(col("vec_id"))
      .collect().map(_.getSeq[Double](1).toArray)
    all.sparkSession.sparkContext.broadcast(
      PqCodebook(m, cents.head.length / m, cents))
  }

  // The registered query serializes the code array as a comma-joined
  // string: q70/q71 consume the array form directly; a registered
  // query's output schema is scalars-only (driver-harness contract —
  // see EntrySpec's guard).
  def q69(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val pq = pqCodebookBc(all)
    all.select(col("vec_id"),
        concat_ws(",",
          transform(pqEncode(col("v"), pq),
            c => c.cast("string"))).as("codes"))
  }

  /** Shared oracle CTE chain: double-cast embeddings, indexed
    * centroids, and the per-(vector, subspace) assignment — the
    * subspace distance is the sequential squared-diff fold over the
    * slice, ties to the smallest cid, exactly the PqUtil scalars.
    */
  private val pqAssignCte: String = {
    val subL2 =
      "list_sum(list_transform(range(1, 9), " +
        "i -> (e.v[js.j*8 + i] - c.cv[js.j*8 + i]) * " +
        "(e.v[js.j*8 + i] - c.cv[js.j*8 + i])))"
    s"""e AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cid, v AS cv,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS k
       |  FROM e WHERE vec_id % 31 = 0
       |), js AS (
       |  SELECT unnest(range(0, 8)) AS j
       |), assign AS (
       |  SELECT vec_id, j, k FROM (
       |    SELECT e.vec_id, js.j, c.k,
       |      row_number() OVER (PARTITION BY e.vec_id, js.j
       |        ORDER BY $subL2 ASC, c.cid ASC) AS rn
       |    FROM e, js, cents c)
       |  WHERE rn = 1
       |)""".stripMargin
  }

  val q69Sql: String =
    s"""WITH $pqAssignCte
       |SELECT vec_id,
       |  string_agg(CAST(k AS VARCHAR), ',' ORDER BY j) AS codes
       |FROM assign GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ADC top-3 per query: codes x broadcast queries, ranked ascending
  // on the rounded e6 approximate distance through the bounded
  // topk_by_score partial aggregate (score = -dist so the DESC buffer
  // ranks ASC) — the n x q scored rows never cross an exchange.
  def q70(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val pq = pqCodebookBc(all)
    val codes = all.select(col("vec_id"), pqEncode(col("v"), pq).as("codes"))
    val queries = all.filter(col("vec_id") % 100 === 0 &&
        col("vec_id") < QueryPanelBound)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    codes.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pqAdcE6(col("codes"), col("qv"), pq).as("dist_e6"))
      .groupBy(col("query_id"))
      .agg(call_function("topk_by_score",
        -col("dist_e6"), col("neighbor_id"), lit(3)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), (-col("col.score")).as("dist_e6"))
  }

  /** Shared oracle CTE for the ADC scoring pass (`adc_scored`): the
    * 8 sub-distances fold in SUBSPACE ORDER (list ORDER BY j ->
    * sequential list_sum), replicating adcE6's j-ascending
    * accumulation — a bare SUM() would add them in arbitrary group
    * order and could diverge by an ulp before rounding. ONE copy
    * (the exactRankedCte pattern) serves q70 and its q128 audit, so
    * the FP-critical fold cannot drift between the query and the
    * audit that judges it.
    */
  private val pqAdcScoredCte: String = {
    val subDist =
      "list_sum(list_transform(range(1, 9), " +
        "i -> (q.v[a.j*8 + i] - c.cv[a.j*8 + i]) * " +
        "(q.v[a.j*8 + i] - c.cv[a.j*8 + i])))"
    s"""adc_scored AS (
       |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
       |    CAST(round(1000000.0 * list_sum(list($subDist ORDER BY a.j)), 0)
       |      AS BIGINT) AS dist_e6
       |  FROM assign a
       |  JOIN cents c ON a.k = c.k
       |  JOIN e q ON q.vec_id % 100 = 0 AND q.vec_id < $QueryPanelBound
       |    AND a.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  val q70Sql: String = {
    s"""WITH $pqAssignCte, $pqAdcScoredCte
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist_e6 FROM (
       |  SELECT query_id, neighbor_id, dist_e6,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist_e6 ASC, neighbor_id) AS rank
       |  FROM adc_scored)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // ---- q71: IVF+PQ — the production ANN search shape ----
  // The two halves composed: IVF restricts candidates to the query's
  // 2 probed inverted lists (map-only broadcast-argmax assignment, no
  // all-pairs scan) and PQ scores ONLY those candidates' 8-byte codes
  // via ADC (no raw vectors touched at search time). At scale the
  // fact side carries (cid, codes) — cacheable-tier sized — the
  // probes broadcast, and the rank is the bounded top-k partial:
  // candidates/query ~ (n/nlist)·nprobe, scored rows never cross an
  // exchange. Both codebooks are the same every-31st-vector dimension
  // (an IVF coarse quantizer and its PQ refinement share training
  // data in production too).
  def q71(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val cb = codebookBc(all)
    val pq = pqCodebookBc(all)
    val assign = all.select(col("vec_id"),
      coalesce(ivfBestCid(col("v"), cb), lit(-1L)).as("cid"),
      pqEncode(col("v"), pq).as("codes"))
    val probes = all.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(ivfProbe2(col("v"), cb)).as("cid"))
    assign.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pqAdcE6(col("codes"), col("qv"), pq).as("dist_e6"))
      .groupBy(col("query_id"))
      .agg(call_function("topk_by_score",
        -col("dist_e6"), col("neighbor_id"), lit(3)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), (-col("col.score")).as("dist_e6"))
  }

  val q71Sql: String = {
    def cosE6(a: String, b: String) =
      s"CAST(round(1000000.0 * (${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))), 0) AS BIGINT)"
    val subDist =
      "list_sum(list_transform(range(1, 9), " +
        "i -> (q.v[pa.j*8 + i] - c.cv[pa.j*8 + i]) * " +
        "(q.v[pa.j*8 + i] - c.cv[pa.j*8 + i])))"
    s"""WITH e AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cid, v AS cv,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS k
       |  FROM e WHERE vec_id % 31 = 0
       |), ivf_assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6("e.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM e, cents c)
       |  WHERE rn = 1
       |), probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT qq.vec_id AS query_id, c.cid,
       |      row_number() OVER (PARTITION BY qq.vec_id
       |        ORDER BY ${cosE6("qq.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM e qq, cents c WHERE qq.vec_id % 100 = 0)
       |  WHERE rn <= 2
       |), js AS (
       |  SELECT unnest(range(0, 8)) AS j
       |), pq_assign AS (
       |  SELECT vec_id, j, k FROM (
       |    SELECT e.vec_id, js.j, c.k,
       |      row_number() OVER (PARTITION BY e.vec_id, js.j
       |        ORDER BY list_sum(list_transform(range(1, 9),
       |          i -> (e.v[js.j*8 + i] - c.cv[js.j*8 + i]) *
       |               (e.v[js.j*8 + i] - c.cv[js.j*8 + i]))) ASC,
       |        c.cid ASC) AS rn
       |    FROM e, js, cents c)
       |  WHERE rn = 1
       |), scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    CAST(round(1000000.0 * list_sum(list($subDist ORDER BY pa.j)), 0)
       |      AS BIGINT) AS dist_e6
       |  FROM probes p
       |  JOIN ivf_assign a USING (cid)
       |  JOIN pq_assign pa ON pa.vec_id = a.vec_id
       |  JOIN cents c ON pa.k = c.k
       |  JOIN e q ON q.vec_id = p.query_id
       |  WHERE a.vec_id <> p.query_id
       |  GROUP BY 1, 2
       |)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist_e6 FROM (
       |  SELECT query_id, neighbor_id, dist_e6,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist_e6 ASC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // ---- q74: residual PQ encode (FAISS IVFPQ's actual encode path) ----
  // Production IVFPQ does not PQ-code the raw vector: it codes the
  // RESIDUAL v - c against the assigned coarse centroid, which is
  // concentrated around zero so the same k sub-centroids quantize it
  // with far lower error. The whole encode is still a map-only scan:
  // `ivf_residual` (argmax + subtract against the broadcast coarse
  // codebook) feeds `pq_encode` (broadcast PQ codebook) in one
  // projection — zero joins, zero shuffles, two broadcast handles in
  // the plan. Output = (vec_id, coarse cid, joined codes), the exact
  // inverted-list entry an IVFPQ index stores.
  def q74(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val cb = codebookBc(all)
    val pq = pqCodebookBc(all)
    all.select(col("vec_id"),
        ivfBestCid(col("v"), cb).as("cid"),
        concat_ws(",",
          transform(pqEncode(ivfResidual(col("v"), cb), pq),
            c => c.cast("string"))).as("codes"))
  }

  val q74Sql: String = {
    def cosE6(a: String, b: String) =
      s"CAST(round(1000000.0 * (${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))), 0) AS BIGINT)"
    s"""WITH e AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cid, v AS cv,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS k
       |  FROM e WHERE vec_id % 31 = 0
       |), a AS (
       |  SELECT vec_id, v, cid, cv FROM (
       |    SELECT e.vec_id, e.v, c.cid, c.cv,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6("e.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM e, cents c)
       |  WHERE rn = 1
       |), r AS (
       |  SELECT vec_id, cid,
       |    list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]) AS rv
       |  FROM a
       |), js AS (
       |  SELECT unnest(range(0, 8)) AS j
       |), pq AS (
       |  SELECT vec_id, j, k FROM (
       |    SELECT r.vec_id, js.j, c.k,
       |      row_number() OVER (PARTITION BY r.vec_id, js.j
       |        ORDER BY list_sum(list_transform(range(1, 9),
       |          i -> (r.rv[js.j*8 + i] - c.cv[js.j*8 + i]) *
       |               (r.rv[js.j*8 + i] - c.cv[js.j*8 + i]))) ASC,
       |        c.cid ASC) AS rn
       |    FROM r, js, cents c)
       |  WHERE rn = 1
       |)
       |SELECT r.vec_id, r.cid,
       |  string_agg(CAST(k AS VARCHAR), ',' ORDER BY j) AS codes
       |FROM pq JOIN r USING (vec_id)
       |GROUP BY r.vec_id, r.cid ORDER BY r.vec_id""".stripMargin
  }

  // ---- q79: semantic dedup clusters (ANN pairs -> connected
  //      components) ----
  // The embedding-space twin of q47: q42's SRP-bucketed near-dup
  // PAIRS resolved into the actual dedup decision — every vector in
  // the near-dup graph labeled with its component's minimum id (keep
  // keeper == vec_id, drop the rest). This is "semantic dedup" as
  // production pipelines run it: lexical dedup (q30/q47) misses
  // paraphrases; cosine-similar embedding clusters catch them. Pure
  // composition of two already-oracled operators — the pair stage is
  // bucketed/capped (no all-pairs, q42's plan), the cluster stage is
  // the O(log n)-round pointer-doubling CC (q47's). Oracle: the same
  // recursive-CTE reachability fixpoint as q47 over the q42 pair CTE.
  def q79(spark: SparkSession, dir: String): DataFrame = {
    val base = vecs(spark, dir)
    val planted = base.filter(col("vec_id") % 25 === 0)
      .select(Fixtures.plantedId(col("vec_id"), 1000000L).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.05).otherwise(x))
          .as("v"))
    val pairs = annNearDupPairs(base.union(planted), signs)
      .select(col("id_a"), col("id_b"))
    graft.text.TextOps.dedupClusters(pairs)
      .select(col("id").as("vec_id"), col("label").as("keeper"))
  }

  val q79Sql: String =
    s"""WITH RECURSIVE $annPairsCteSql,
       |nodes AS (
       |  SELECT DISTINCT id FROM (
       |    SELECT id_a AS id FROM ann_pairs
       |    UNION ALL SELECT id_b FROM ann_pairs)
       |), edges AS (
       |  SELECT id_a AS a, id_b AS b FROM ann_pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM ann_pairs
       |), reach(n, m) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
       |)
       |SELECT n AS vec_id, CAST(min(m) AS BIGINT) AS keeper
       |FROM reach GROUP BY n ORDER BY vec_id""".stripMargin

  // ---- q52: one k-means (Lloyd) refinement step of the IVF codebook ----
  // Codebook TRAINING, the other half of an IVF index build: assign
  // every vector to its max-cosine centroid (the same map-only
  // broadcast-argmax fold as q43 — no shuffle), then recompute each
  // centroid as the dimension-wise mean of its assigned vectors.
  // Emitted as exact integer e6 sums + member counts per (centroid,
  // dimension): a double AVG depends on cross-row summation order
  // under a shuffle, integer sums do not, so the refinement step is
  // hash-checkable cross-engine (the mean is sum_e6 / n / 1e6). At
  // scale this is one map-only pass + one (cid, dim)-keyed aggregate
  // with map-side partial sums — iterate for full Lloyd training.
  def q52(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    assignToCodebook(all, codebookBc(all))
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("x") * 1e6).cast("long")).as("sum_e6"))
  }

  val q52Sql: String = {
    def cosE6(a: String, b: String) =
      s"CAST(round(1000000.0 * (${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))), 0) AS BIGINT)"
    s"""WITH e AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 31 = 0
       |), assign AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6("e.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM e, cents c)
       |  WHERE rn = 1
       |), d AS (
       |  SELECT cid, i - 1 AS dim,
       |    CAST(round(v[i] * 1000000, 0) AS BIGINT) AS xe
       |  FROM assign, unnest(range(1, len(v) + 1)) AS t(i)
       |)
       |SELECT cid, dim, count(*) AS n, CAST(sum(xe) AS BIGINT) AS sum_e6
       |FROM d GROUP BY cid, dim ORDER BY cid, dim""".stripMargin
  }

  // ---- q105: ANN recall audit (bucket recall vs the exact top-k) ----
  // The measurement a pipeline runs BEFORE trusting its ANN path: for
  // a query sample (every 100th vector, q40's sample), what fraction
  // of the EXACT top-3 neighbors would the SRP candidate generation
  // have surfaced at all — i.e. shares at least one (table, bucket)
  // key with the query? Audited for both production configs: the
  // single 8-plane table (q41/q42) and the 3-table band (q62). Banding
  // exists precisely to buy back single-table recall, and this query
  // is the number that proves it did. (On this synthetic table the
  // embeddings are RANDOM — true top-3 neighbors are barely more
  // aligned than chance, so measured recall sits near the collision
  // floor, srp8 ~7% vs band3x8 ~13% at sf0.01. That unflattering
  // number is the audit working as intended: it's the gate that stops
  // a team from shipping an ANN dedup tuned on clustered assumptions
  // against data that isn't.)
  //
  // Scale posture: the exact baseline is the audit's cost and it runs
  // on a SAMPLE of queries by construction (n scored rows per query,
  // top-3 via the bounded `topk_by_score` partial aggregate — never a
  // window over all scored rows). After the baseline, ONE pass over
  // the table harvests the claim-set vectors (a broadcast join on the
  // ~4 ids per query that matter), and the SRP bucket keys are
  // computed on those survivors only — never on all n rows, and the
  // big side never shuffles anywhere. At 100 TB the sample rate is
  // the knob; the shape holds.
  def q105(spark: SparkSession, dir: String): DataFrame = {
    val all = withNorm(vecs(spark, dir)).persist()
    all.count() // eager: the exact pass + claim harvest are siblings
    val queries = querySample(all)
    val top3 = exactTopK(all, queries, 3)
      .select(col("query_id"), explode(col("top")).as("hit"))
      .select(col("query_id"), col("hit.id").as("neighbor_id"))
      .persist()
    top3.count() // eager: claimIds + nex below otherwise recompute it
    // the only vectors whose buckets matter: the sampled queries and
    // their exact top-3 neighbors (~4 per query)
    val claimIds = top3.select(col("neighbor_id").as("vid"))
      .union(top3.select(col("query_id").as("vid"))).distinct()
    // one full-table pass: keep claim-set vectors, THEN key them —
    // one (table, bucket) key per band table per surviving vector
    val claimKeys = all
      .join(broadcast(claimIds), col("vec_id") === col("vid"))
      .select(col("vec_id"), explode(bandKeyArr(col("v"))).as("k"))
      .select(col("vec_id"), col("k.t").as("t"), col("k.b").as("b"))
      .persist()
    claimKeys.count() // eager: both configs' nk/qk read this
    def hitsFor(cfg: String, tmax: Int): DataFrame = {
      val k = claimKeys.filter(col("t") <= tmax)
      val nk = k.join(broadcast(top3), col("vec_id") === col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("t"), col("b"))
      val qk = k.join(
        broadcast(queries.select(col("query_id").as("qid"))),
        col("vec_id") === col("qid"))
        .select(col("qid"), col("t").as("qt"), col("b").as("qb"))
      nk.join(broadcast(qk),
          col("query_id") === col("qid") && col("t") === col("qt") &&
            col("b") === col("qb"))
        .select(col("query_id"), col("neighbor_id")).distinct()
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
        .select(lit(cfg).as("cfg"), col("query_id"), col("n_hit"))
    }
    val hits = hitsFor("srp8", 0).union(hitsFor("band3x8", 2))
    val nex = top3.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"))
    val base = nex.crossJoin(broadcast(spark.range(1)
      .select(explode(array(lit("srp8"), lit("band3x8"))).as("cfg"))))
    base.join(broadcast(hits), Seq("cfg", "query_id"), "left")
      .select(col("cfg"), col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_e6",
        expr("n_hit * 1000000L div n_exact"))
  }

  val q105Sql: String = {
    val keySel = bandTables.zipWithIndex.map { case (tab, t) =>
      s"SELECT vec_id, $t AS t, CAST(${bucketBitsSql(tab)} AS INT) AS b FROM e"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $exactRankedCte, top3 AS (
       |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3
       |), keys AS (
       |  $keySel
       |), cfgs(cfg, tmax) AS (VALUES ('srp8', 0), ('band3x8', 2)),
       |hits AS (
       |  SELECT c.cfg, t3.query_id,
       |    count(DISTINCT t3.neighbor_id) AS n_hit
       |  FROM cfgs c
       |  JOIN top3 t3 ON TRUE
       |  JOIN keys nk ON nk.vec_id = t3.neighbor_id AND nk.t <= c.tmax
       |  JOIN keys qk ON qk.vec_id = t3.query_id AND qk.t = nk.t
       |    AND qk.b = nk.b
       |  GROUP BY c.cfg, t3.query_id
       |), nex AS (
       |  SELECT query_id, count(*) AS n_exact FROM top3 GROUP BY query_id
       |)
       |SELECT c.cfg, n.query_id, n.n_exact,
       |  coalesce(h.n_hit, 0) AS n_hit,
       |  coalesce(h.n_hit, 0) * 1000000 // n.n_exact AS recall_e6
       |FROM cfgs c CROSS JOIN nex n
       |LEFT JOIN hits h ON h.cfg = c.cfg AND h.query_id = n.query_id
       |ORDER BY c.cfg, n.query_id""".stripMargin
  }

  // ---- q128: PQ/ADC recall audit (code-space top-3 vs exact top-3) ----
  // The last un-audited approximation: q70 ranks by ADC distance over
  // 8-byte codes — quantization error moves neighbors across rank
  // boundaries, and this is the number that says how often. For the
  // q40 sample, the exact squared-L2 top-3 (raw vectors, identical
  // sequential fold in both engines) is compared against the ADC
  // top-3; one row per query: n_exact, overlap, recall_e6. Completes
  // the audit set: SRP (q105), IVF (q126), banded margins (q123),
  // MinHash (q127), PQ (here) — every approximate path ships with
  // the measurement that gates trusting it.
  //
  // Scale posture: both rankings run on the fixed query sample with
  // bounded topk_by_score partials; the codebook is the broadcast
  // dimension; the overlap join carries 3 ids per query.
  def q128(spark: SparkSession, dir: String): DataFrame = {
    // self-norms staged ONCE per vector and the table barriered
    // (persist + eager count): the exact and ADC branches are
    // siblings of one job and would otherwise each rescan the
    // parquet and rebuild the query broadcast (the q126/q31 rule)
    val all = vecs(spark, dir)
      .withColumn("vv", dot(col("v"), col("v"))).persist()
    all.count()
    val pq = pqCodebookBc(all)
    val queries = all.filter(col("vec_id") % 100 === 0 &&
        col("vec_id") < QueryPanelBound)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("vv").as("qq"))
    // exact squared L2 via the dot identity |n|^2 + |q|^2 - 2 n.q —
    // THREE native codegen'd folds (dot_f64) instead of an
    // interpreted zip_with/aggregate HOF allocating a 64-element
    // array per scored pair; the oracle computes the IDENTICAL
    // identity from the same per-vector self-dots, so FP parity
    // holds by construction
    val l2e6 = round(((col("vv") + col("qq"))
      - lit(2d) * dot(col("v"), col("qv"))) * 1e6).cast("long")
    val exact = all.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("nid"), l2e6.as("d"))
      .groupBy(col("query_id"))
      .agg(call_function("topk_by_score",
        -col("d"), col("nid"), lit(3)).as("t"))
      .select(col("query_id"), expr("transform(t, x -> x.id)").as("exact_ids"))
    val adc = all.select(col("vec_id"), pqEncode(col("v"), pq).as("codes"))
      .crossJoin(broadcast(queries.select(col("query_id").as("qid"),
        col("qv"))))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        pqAdcE6(col("codes"), col("qv"), pq).as("d"))
      .groupBy(col("qid"))
      .agg(call_function("topk_by_score",
        -col("d"), col("nid"), lit(3)).as("t"))
      .select(col("qid"), expr("transform(t, x -> x.id)").as("adc_ids"))
    exact.join(adc, col("query_id") === col("qid"))
      .select(col("query_id"),
        size(col("exact_ids")).cast("long").as("n_exact"),
        size(array_intersect(col("exact_ids"), col("adc_ids")))
          .cast("long").as("n_hit"))
      .withColumn("recall_e6", expr("n_hit * 1000000 DIV n_exact"))
  }

  val q128Sql: String = {
    s"""WITH $pqAssignCte, $pqAdcScoredCte, adc_top AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY dist_e6 ASC, neighbor_id) AS rn
       |    FROM adc_scored)
       |  WHERE rn <= 3
       |), e2 AS (
       |  SELECT vec_id, v, ${dotSql("v", "v")} AS vv FROM e
       |), exact_scored AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    CAST(round(1000000.0 * ((n.vv + q.vv)
       |      - 2 * ${dotSql("n.v", "q.v")}), 0) AS BIGINT)
       |      AS dist_e6
       |  FROM e2 n, e2 q WHERE q.vec_id % 100 = 0
       |    AND q.vec_id < $QueryPanelBound AND n.vec_id <> q.vec_id
       |), exact_top AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY dist_e6 ASC, neighbor_id) AS rn
       |    FROM exact_scored)
       |  WHERE rn <= 3
       |)
       |SELECT x.query_id, count(*) AS n_exact,
       |  CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.neighbor_id) * 1000000 // count(*) AS BIGINT)
       |    AS recall_e6
       |FROM exact_top x LEFT JOIN adc_top a
       |  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin
  }

  // ---- q126: IVF recall audit (probe-depth recall vs exact top-3) ----
  // q105's measurement applied to the OTHER ANN family: q43/q71
  // search by probing the query's 2 nearest coarse centroids' lists,
  // and this audit is the number that justifies (or indicts) that
  // probe depth — for the exact top-3 neighbors of the q40 query
  // sample, what fraction lives in the query's best centroid list
  // (probe-1) vs either probed list (probe-2)? One row per query
  // with both depths, so the marginal recall of the second probe is
  // readable directly; rates are truncating-e6 integers.
  //
  // Scale posture: the exact baseline runs on the fixed query SAMPLE
  // (bounded topk_by_score, the q105 pricing), the codebook is the
  // broadcast-variable dimension, and centroid assignment is
  // computed for the ~4 claim-set vectors per query plus the sample
  // — never a full-corpus pass beyond the one claim harvest join.
  def q126(spark: SparkSession, dir: String): DataFrame = {
    val all = withNorm(vecs(spark, dir)).persist()
    all.count() // eager: exact pass + claim harvest are siblings
    val cb = codebookBc(all)
    val queries = querySample(all)
    val top3 = exactTopK(all, queries, 3)
      .select(col("query_id"), explode(col("top")).as("hit"))
      .select(col("query_id"), col("hit.id").as("neighbor_id"))
      .persist()
    top3.count()
    val claimIds = top3.select(col("neighbor_id").as("vid")).distinct()
    val ncid = all.join(broadcast(claimIds), col("vec_id") === col("vid"))
      .select(col("vec_id").as("nid"),
        ivfBestCid(col("v"), cb).as("ncid"))
    val qprobe = queries.select(col("query_id").as("qid"),
      ivfProbe2(col("qv"), cb).as("probes"))
    top3.join(broadcast(qprobe), col("query_id") === col("qid"))
      .join(broadcast(ncid), col("neighbor_id") === col("nid"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum((col("ncid") === col("probes")(0)).cast("long")).as("n_hit_p1"),
        sum(array_contains(col("probes"), col("ncid")).cast("long"))
          .as("n_hit_p2"))
      .select(col("query_id"), col("n_exact"), col("n_hit_p1"),
        col("n_hit_p2"),
        expr("n_hit_p1 * 1000000 DIV n_exact").as("recall_p1_e6"),
        expr("n_hit_p2 * 1000000 DIV n_exact").as("recall_p2_e6"))
  }

  val q126Sql: String = {
    def cosE6(a: String, b: String) =
      s"CAST(round(1000000.0 * (${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))), 0) AS BIGINT)"
    s"""WITH $exactRankedCte, top3 AS (
       |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3
       |), cents AS (
       |  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 31 = 0
       |), assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6("e.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM e, cents c)
       |  WHERE rn = 1
       |), qp AS (
       |  SELECT query_id,
       |    min(CASE WHEN rn = 1 THEN cid END) AS c1,
       |    min(CASE WHEN rn = 2 THEN cid END) AS c2
       |  FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosE6("q.qv", "c.cv")} DESC, c.cid) AS rn
       |    FROM q, cents c)
       |  WHERE rn <= 2 GROUP BY query_id
       |), j AS (
       |  SELECT t.query_id,
       |    CASE WHEN a.cid = qp.c1 THEN 1 ELSE 0 END AS h1,
       |    CASE WHEN a.cid = qp.c1 OR a.cid = qp.c2 THEN 1 ELSE 0 END AS h2
       |  FROM top3 t
       |  JOIN qp ON qp.query_id = t.query_id
       |  JOIN assign a ON a.vec_id = t.neighbor_id
       |)
       |SELECT query_id, count(*) AS n_exact,
       |  CAST(sum(h1) AS BIGINT) AS n_hit_p1,
       |  CAST(sum(h2) AS BIGINT) AS n_hit_p2,
       |  CAST(sum(h1) * 1000000 // count(*) AS BIGINT) AS recall_p1_e6,
       |  CAST(sum(h2) * 1000000 // count(*) AS BIGINT) AS recall_p2_e6
       |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin
  }

  // ---- q113: semantic decontamination (embedding eval-overlap) ----
  // The embedding-space complement of q63's n-gram decontamination:
  // flag every corpus vector whose cosine to ANY benchmark (eval)
  // vector clears the near-dup bar — paraphrased leaks that share no
  // 5-gram can still sit at cosine ~1 in embedding space, which is
  // why pipelines run both passes. Eval set = every 97th vector (a
  // fixed small suite); fixture plants a perturbed copy of each eval
  // vector into the corpus (the q42 twin construction), so the
  // planted leaks confirm at >= 0.99 while the organic corpus tops
  // out near 0.47 on this data — clean separation.
  //
  // 100 TB posture: the eval suite is small and FIXED, so it
  // broadcasts; the corpus side is one map-only scoring pass (never
  // shuffled), and the per-vector best-match is the bounded
  // `topk_by_score` k=1 partial — the only exchange carries one
  // 24-byte row per corpus vector into the final aggregate, the q40
  // shape. No index build, no candidate generation: decontamination
  // reads every vector exactly once by design.
  def q113(spark: SparkSession, dir: String): DataFrame =
    deconFlags(q113Corpus(spark, dir), q113Eval(spark, dir))

  /** The q113 corpus fixture: non-eval vectors ∪ planted perturbed
    * eval twins (the leaks). Shared with DeconStreamSpec, which
    * re-batches exactly this relation.
    */
  private[graft] def q113Corpus(spark: SparkSession, dir: String): DataFrame = {
    val base = vecs(spark, dir)
    val planted = base.filter(col("vec_id") % 97 === 0)
      .select(Fixtures.plantedId(col("vec_id"), 1000000L).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.05).otherwise(x))
          .as("v"))
    base.filter(col("vec_id") % 97 =!= 0).union(planted)
  }

  /** The q113 eval-suite fixture, scored ([[evalIndex]]). */
  private[graft] def q113Eval(spark: SparkSession, dir: String): DataFrame =
    evalIndex(vecs(spark, dir).filter(col("vec_id") % 97 === 0))

  /** The scored eval suite — (eval_id, qv, nq) with the norm
    * precomputed once — from an (vec_id, v) relation. Build once per
    * eval-suite release; [[deconFlags]] broadcasts it per pass.
    */
  private[graft] def evalIndex(eval: DataFrame): DataFrame =
    withNorm(eval)
      .select(col("vec_id").as("eval_id"), col("v").as("qv"),
        col("nv").as("nq"))

  /** Decontamination core shared by q113 and
    * [[graft.streaming.DeconStream]]: flagged
    * (vec_id, eval_id, cos_e6) rows of `corpus` (vec_id, v) whose
    * best-match cosine against the broadcast eval suite clears
    * `minCosE6`. Map-only over the corpus; the one exchange is the
    * per-vector top-1 partial (ShuffleBudgetSpec pins it).
    */
  private[graft] def deconFlags(corpus: DataFrame, evalIdx: DataFrame,
      minCosE6: Long = 990000L): DataFrame =
    withNorm(corpus).crossJoin(broadcast(evalIdx))
      .select(col("vec_id"),
        round(dot(col("v"), col("qv")) / (col("nv") * col("nq")) * 1e6)
          .cast("long").as("cos_e6"),
        col("eval_id"))
      .groupBy(col("vec_id"))
      .agg(call_function("topk_by_score",
        col("cos_e6"), col("eval_id"), lit(1)).as("top"))
      .select(col("vec_id"), col("top")(0).getField("id").as("eval_id"),
        col("top")(0).getField("score").as("cos_e6"))
      .filter(col("cos_e6") >= minCosE6)

  val q113Sql: String = {
    val d = dotSql("c.v", "ev.qv")
    val nc = dotSql("c.v", "c.v")
    val nq = dotSql("ev.qv", "ev.qv")
    s"""WITH e AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |), ev AS (
       |  SELECT vec_id AS eval_id, v AS qv FROM e WHERE vec_id % 97 = 0
       |), planted AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(range(1, len(v) + 1),
       |      i -> CASE WHEN i = 1 THEN v[i] + 0.05 ELSE v[i] END) AS v
       |  FROM e WHERE vec_id % 97 = 0
       |), corpus AS (
       |  SELECT vec_id, v FROM e WHERE vec_id % 97 <> 0
       |  UNION ALL SELECT vec_id, v FROM planted
       |), scored AS (
       |  SELECT c.vec_id, ev.eval_id,
       |    CAST(round(1000000.0 * ($d / (sqrt($nc) * sqrt($nq))), 0) AS BIGINT) AS cos_e6
       |  FROM corpus c, ev
       |), ranked AS (
       |  SELECT vec_id, eval_id, cos_e6,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY cos_e6 DESC, eval_id) AS rn
       |  FROM scored
       |)
       |SELECT vec_id, eval_id, cos_e6 FROM ranked
       |WHERE rn = 1 AND cos_e6 >= 990000 ORDER BY vec_id""".stripMargin
  }

  // ---- q114: per-source centroid outlier audit ----
  // Corpus-homogeneity curation (the CLIP-filtering shape): embed
  // every doc, average per source, and surface the docs FARTHEST from
  // their own source's centroid — mislabeled scrapes, spam bursts,
  // and encoding garbage concentrate in that tail. Bottom-3 per
  // source rather than a threshold: the audit is a ranked review
  // queue, not a filter.
  //
  // Exactness across engines: the centroid is built from integer-e6
  // per-dim sums (one exact aggregate, order-independent), THEN one
  // double division per dim — never a float avg() whose summation
  // order differs between engines.
  //
  // 100 TB posture: the centroid aggregate exchanges (source x dim)
  // integer rows with map-side partials; the centroid table is
  // dimension-sized and broadcasts back; the scoring pass is map-only
  // over the corpus; the bottom-3 is the bounded topk_by_score
  // partial on the negated score. Nothing corpus-sized shuffles.
  def q114(spark: SparkSession, dir: String): DataFrame =
    centroidCos(q114Docs(spark, dir), sourceCentroids(q114Docs(spark, dir)))
      .groupBy(col("source"))
      .agg(call_function("topk_by_score",
        -col("cos_e6"), col("doc_id"), lit(3)).as("bottom"))
      .select(col("source"), posexplode(col("bottom")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), (-col("col.score")).as("cos_e6"))

  /** The q114 input relation: documents joined to their embeddings —
    * (source, doc_id, v). Shared with EmbDriftStreamSpec.
    */
  private[graft] def q114Docs(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents").select(col("doc_id"), col("source"))
      .join(vecs(spark, dir), col("vec_id") === col("doc_id"))
      .select(col("source"), col("doc_id"), col("v"))

  /** Per-source centroids with norms — (source, cv, ncv) — from a
    * (source, doc_id, v) relation. Built from exact integer-e6
    * per-dim sums (order-independent across engines), one double
    * division per dim at the end. Catalog-sized output; build once
    * per corpus release and broadcast ([[centroidCos]]).
    */
  private[graft] def sourceCentroids(j: DataFrame): DataFrame =
    j.select(col("source"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("source"), col("dim"))
      .agg(sum(round(col("x") * 1e6).cast("long")).as("s_e6"),
        count(lit(1)).as("n"))
      .select(col("source"), struct(col("dim"),
        (col("s_e6").cast("double") / (col("n") * 1e6)).as("cv")).as("dc"))
      .groupBy(col("source"))
      .agg(transform(array_sort(collect_list(col("dc"))),
        s => s.getField("cv")).as("cv"))
      .withColumn("ncv", sqrt(dot(col("cv"), col("cv"))))

  /** Map-only rescore of a (source, doc_id, v) relation against the
    * broadcast centroids: (source, doc_id, cos_e6). Shared by q114's
    * bottom-k readout and [[graft.streaming.EmbDriftStream]]'s
    * per-batch partials.
    */
  private[graft] def centroidCos(j: DataFrame, cents: DataFrame): DataFrame =
    withNorm(j).join(broadcast(cents), "source")
      .select(col("source"), col("doc_id"),
        round(dot(col("v"), col("cv")) / (col("nv") * col("ncv")) * 1e6)
          .cast("long").as("cos_e6"))

  val q114Sql: String = {
    val d = dotSql("j.v", "c.cv")
    val nv = dotSql("j.v", "j.v")
    val ncv = dotSql("c.cv", "c.cv")
    s"""WITH e AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |), j AS (
       |  SELECT d.source, d.doc_id, e.v
       |  FROM documents d JOIN e ON e.vec_id = d.doc_id
       |), x AS (
       |  SELECT source, i AS dim, CAST(round(v[i] * 1000000, 0) AS BIGINT) AS xe
       |  FROM j, unnest(range(1, len(v) + 1)) AS t(i)
       |), s AS (
       |  SELECT source, dim, sum(xe) AS s_e6, count(*) AS n
       |  FROM x GROUP BY 1, 2
       |), c AS (
       |  SELECT source,
       |    list(CAST(s_e6 AS DOUBLE) / (n * 1000000.0) ORDER BY dim) AS cv
       |  FROM s GROUP BY source
       |), sc AS (
       |  SELECT j.source, j.doc_id,
       |    CAST(round(1000000.0 * ($d / (sqrt($nv) * sqrt($ncv))), 0) AS BIGINT) AS cos_e6
       |  FROM j JOIN c ON c.source = j.source
       |), r AS (
       |  SELECT source, doc_id, cos_e6,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY cos_e6, doc_id) AS rn
       |  FROM sc
       |)
       |SELECT source, CAST(rn AS INT) AS rank, doc_id, cos_e6
       |FROM r WHERE rn <= 3 ORDER BY source, rank""".stripMargin
  }

  // ---- q118: margin-based alignment mining (bitext shape) ----
  // The LASER/CCMatrix mining step: pair each "source-side" vector
  // with its best "target-side" match, scored by the MARGIN — best
  // cosine divided by the mean of both endpoints' top-4 neighborhood
  // cosines — rather than raw cosine, because margin cancels hubness
  // (a vector whose whole neighborhood scores high is not a special
  // match for anyone). Sides: label < 5 vs label >= 5; fixture
  // plants a perturbed twin of every 50th source vector into the
  // target side, so true alignments exist and clear the 1.4 margin
  // bar while organic best-matches sit near 1.1.
  //
  // Exactness: cosines are e6 longs; neighborhood means are
  // `sum DIV 4` (top-4 always exists — the target side is larger);
  // margin is `cos * 1e6 DIV ((ax + ay) DIV 2)` — all integer
  // division, and BOTH engines truncate toward zero (Spark DIV ==
  // DuckDB `//`; note truncation, NOT floor — cosine sums can be
  // negative, where the two semantics differ by 1, so a port to a
  // floor-division engine must adjust); top-4 ties break (score
  // DESC, id ASC) in topk_by_score exactly as the oracle's
  // row_number.
  //
  // 100 TB posture: scoring all A x B pairs is the EXACT-baseline
  // definition (the q40/q105 posture) — production fronts the banded
  // ANN (q62) to generate candidates and applies this margin
  // arithmetic unchanged. Within the baseline: the scored table is
  // barriered once (repartition) so the two per-side top-4 aggregates
  // read one shuffle output instead of re-running the quadratic
  // scorer; each aggregate is the bounded topk_by_score partial, so
  // only 4-row summaries cross the exchanges after it.
  /** The alignment-mining sides shared by q118 (exact baseline) and
    * q122 (banded production path): source side `a` = label < 5 as
    * (xid, xv, nx); target side `b` = label >= 5 ∪ a perturbed twin
    * of every 50th source vector (the planted true alignments), as
    * (yid, yv, ny). Norms are staged once per row.
    */
  private[graft] def alignSides(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val e = tbl(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
    val a = withNorm(e.filter(col("label") < 5)
      .select(col("vec_id").as("xid"), col("v")))
      .select(col("xid"), col("v").as("xv"), col("nv").as("nx"))
    val planted = e.filter(col("label") < 5 && col("vec_id") % 50 === 0)
      .select(Fixtures.plantedId(col("vec_id"), 1000000L).as("yid"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.05).otherwise(x))
          .as("v"))
    val b = withNorm(e.filter(col("label") >= 5)
      .select(col("vec_id").as("yid"), col("v")).union(planted))
      .select(col("yid"), col("v").as("yv"), col("nv").as("ny"))
    (a, b)
  }

  /** q118/q123's anchored source domain — see [[AlignAnchorBound]]:
    * the exact baseline mines alignments for this x panel only, so
    * its all-pairs scorer (and the oracle's replay) is |panel| x |b|,
    * linear in the corpus. Gate-invariant: every driver-SF xid sits
    * under the block bound, and the panel keeps every planted twin
    * source (stride 50 ⊂ stride 25) at any scale.
    */
  private def alignAnchored(c: Column): Column =
    c < AlignAnchorBound || c % 25 === 0

  private val alignAnchoredSql: String =
    s"(xid < $AlignAnchorBound OR xid % 25 = 0)"

  def q118(spark: SparkSession, dir: String): DataFrame = {
    val (a0, b) = alignSides(spark, dir)
    // scale-adaptive fan-out: the |panel| x |b| exact scorer
    // inherits the probe side's scan partitioning, and the fixture
    // embeddings are one unsplittable rowgroup — every dot product
    // ran in one task (measured: q118 1.94 s -> ~1.5 s; banded paths
    // deliberately NOT fanned — their hot join already runs post-
    // exchange, and fanning alignSides taxed every eager count).
    // No-op at production scale (see ScanFanOut).
    val a = graft.operators.ScanFanOut(
      a0.filter(alignAnchored(col("xid"))))
    val scored = a.crossJoin(broadcast(b))
      .select(col("xid"), col("yid"),
        round(dot(col("xv"), col("yv")) / (col("nx") * col("ny")) * 1e6)
          .cast("long").as("cos_e6"))
      .repartition(col("xid"))
    val xside = scored.groupBy(col("xid"))
      .agg(call_function("topk_by_score",
        col("cos_e6"), col("yid"), lit(4)).as("top"))
      .select(col("xid"), col("top")(0).getField("id").as("ybest"),
        col("top")(0).getField("score").as("cos_e6"),
        expr("aggregate(top, 0L, (s, t) -> s + t.score) DIV 4").as("ax"))
    val yside = scored.groupBy(col("yid"))
      .agg(call_function("topk_by_score",
        col("cos_e6"), col("xid"), lit(4)).as("top"))
      .select(col("yid"), expr("aggregate(top, 0L, (s, t) -> s + t.score) DIV 4").as("ay"))
    xside.join(yside, col("ybest") === col("yid"))
      // nullif: a degenerate neighborhood (truncating top-4 means
      // summing to 0) must NULL the margin — which the threshold
      // filter then drops — not abort the job (ANSI DIV 0 throws;
      // the q111 guard's defect class)
      .withColumn("margin_e6",
        expr("cos_e6 * 1000000 DIV nullif((ax + ay) DIV 2, 0)"))
      .filter(col("margin_e6") >= 1400000L)
      .select(col("xid"), col("yid"), col("cos_e6"), col("margin_e6"))
  }

  /** DuckDB CTE chain for the alignment sides (e, a = source, bb =
    * target ∪ planted twins) — shared by q118Sql/q122Sql/q123Sql.
    */
  private val alignSidesCte: String =
    s"""e AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v, label FROM embeddings
       |), a AS (
       |  SELECT vec_id AS xid, v AS xv FROM e WHERE label < 5
       |), bb AS (
       |  SELECT vec_id AS yid, v AS yv FROM e WHERE label >= 5
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    list_transform(range(1, len(v) + 1),
       |      i -> CASE WHEN i = 1 THEN v[i] + 0.05 ELSE v[i] END)
       |  FROM e WHERE label < 5 AND vec_id % 50 = 0
       |)""".stripMargin

  /** DuckDB CTE chain for the EXACT margin mining (all-pairs scoring
    * -> per-side top-4 -> margin filter), ending in `exact_res` —
    * shared by q118Sql and the q123 recall audit.
    */
  private val exactAlignCte: String = {
    val d = dotSql("a.xv", "bb.yv")
    val nx = dotSql("a.xv", "a.xv")
    val ny = dotSql("bb.yv", "bb.yv")
    s"""sc AS (
       |  SELECT xid, yid,
       |    CAST(round(1000000.0 * ($d / (sqrt($nx) * sqrt($ny))), 0) AS BIGINT) AS cos_e6
       |  FROM a, bb
       |  WHERE $alignAnchoredSql
       |), rx AS (
       |  SELECT xid, yid, cos_e6,
       |    row_number() OVER (PARTITION BY xid
       |                       ORDER BY cos_e6 DESC, yid) AS rn
       |  FROM sc
       |), ax AS (
       |  SELECT xid, CAST(sum(cos_e6) // 4 AS BIGINT) AS ax,
       |    min(CASE WHEN rn = 1 THEN yid END) AS ybest,
       |    min(CASE WHEN rn = 1 THEN cos_e6 END) AS best_cos
       |  FROM rx WHERE rn <= 4 GROUP BY xid
       |), ry AS (
       |  SELECT yid, xid, cos_e6,
       |    row_number() OVER (PARTITION BY yid
       |                       ORDER BY cos_e6 DESC, xid) AS rn
       |  FROM sc
       |), ay AS (
       |  SELECT yid, CAST(sum(cos_e6) // 4 AS BIGINT) AS ay FROM ry WHERE rn <= 4 GROUP BY yid
       |), exact_res AS (
       |  SELECT x.xid, x.ybest AS yid, x.best_cos AS cos_e6,
       |    CAST(x.best_cos * 1000000 // nullif((x.ax + y.ay) // 2, 0) AS BIGINT) AS margin_e6
       |  FROM ax x JOIN ay y ON y.yid = x.ybest
       |  WHERE x.best_cos * 1000000 // nullif((x.ax + y.ay) // 2, 0) >= 1400000
       |)""".stripMargin
  }

  val q118Sql: String =
    s"""WITH $alignSidesCte, $exactAlignCte
       |SELECT xid, yid, cos_e6, margin_e6 FROM exact_res
       |ORDER BY xid""".stripMargin

  // ---- q122: banded-ANN margin alignment (q118's production path) ----
  // The same margin arithmetic as q118 with the quadratic scorer
  // replaced by the banded SRP candidate generator (q62's): each side
  // keys into 3 band tables, candidates pair on identical (table,
  // bucket) keys through the hot-bucket-capped BIPARTITE join, and
  // the exact cosine + margin test run on candidates only. Two
  // deliberate deltas from the exact baseline, both forced by sparse
  // candidate neighborhoods:
  //   1. the top-4 mean divides by the ACTUAL candidate count
  //      (min(4, n)) rather than a fixed 4 — a vector with one
  //      candidate would otherwise see its neighborhood mean quartered
  //      and its margin inflated ~4x, promoting ORGANIC collisions
  //      over the bar (measured: fixed-4 admits every single-candidate
  //      pair at margin ~4e6);
  //   2. candidates, not all pairs, define the neighborhood — so
  //      margins differ from q118's and recall < 1 by construction.
  //      q123 MEASURES that gap (the q105 posture: audit before
  //      trusting the approximation). Measured at sf0.01: recall 5/6
  //      (the one organic exact alignment missed), precision 3.6% —
  //      sparse random-collision neighborhoods under-estimate the
  //      hub mean, so margins read high on THIS clusterless random
  //      data (q105's recall floor, same cause). The audit is the
  //      gate that says so before anyone ships it; knobs: band-table
  //      count (candidate depth -> denser neighborhoods; q123's
  //      band6x8 row measures it — junk pairs 140 -> 121, precision
  //      3.6% -> 4.1%, recall unchanged: directionally right, weak
  //      on clusterless data), the margin bar recalibrated per
  //      depth, AND — the one that ships — the q42-style
  //      exact-cosine confirm floor below.
  //
  // The production path is margin admission PLUS the exact-cosine
  // confirm floor (0.80 e6): its own q123 audit measured the
  // margin-only config emitting ~27 junk pairs per true alignment on
  // clusterless gate data (precision 3.6%), because sparse candidate
  // neighborhoods under-estimate the hub mean and inflate margins on
  // near-zero-cosine pairs. The floor costs nothing (the exact
  // cosine is already computed per candidate) and q123's band3x8c
  // row MEASURES the fix: precision 3.6% -> 100% at unchanged
  // recall 5/6 on sf0.01. 0.80 sits an order of magnitude above the
  // organic-cosine tail (|cos| ~ N(0, 1/8) on 64-dim data) and far
  // below the planted twins (~0.9999) — mining looser-than-near-dup
  // alignments would lower it and re-measure via q123.
  //
  // 100 TB posture: no quadratic anywhere — band keys are map-only
  // (3 rows per vector), the candidate join is bucketed and capped on
  // BOTH sides, multi-table duplicate candidates collapse through one
  // distinct on (xid, yid, cos), and both neighborhood aggregates are
  // bounded topk_by_score partials reading one barriered exchange.
  def q122(spark: SparkSession, dir: String): DataFrame =
    bandedAlign(spark, dir, BandSalts, Some(ConfirmFloorE6))

  /** The exact-cosine confirm floor for the production miner: pairs
    * admitted by margin must ALSO score >= 0.80 exact cosine.
    */
  private[graft] val ConfirmFloorE6 = 800000L

  /** The six-table salt set for the q123 audit's second config — the
    * "more band tables" knob, measured instead of merely named.
    */
  private[graft] val BandSalts6: Seq[String] =
    Seq("", "t1:", "t2:", "t3:", "t4:", "t5:")

  /** Per-dir cache of the alignment-side cardinalities: both sides
    * derive from one scan of (vec_id, label), and the counts size
    * only the SRP plane knob — recomputing them per bandedAlign
    * invocation (q123 calls it three times) was two extra side-scans
    * each. One narrow aggregate per dir per JVM instead. Keyed by
    * dir PLUS the embeddings table's mtime, so a rebuilt or grown
    * table in the same JVM re-counts instead of silently desyncing
    * the plane count from the data (the exact failure this check
    * exists to prevent); local-FS mtime is enough — Spark's
    * directory overwrite and the driver's single-file rewrite both
    * touch it.
    */
  private val alignSideCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), (Long, Long)]()

  /** Bound on [[alignSideCounts]]: entries are two longs, but a
    * long-lived JVM replaying over ever-fresh replica dirs (ScaleBench
    * decade loops rewrite the same dirs, changing mtime each time)
    * would still grow it without limit. Past the cap the map is
    * simply cleared — the values are one narrow aggregate to
    * recompute, so eviction precision is worth zero complexity.
    */
  private val AlignSideCountsCap = 64

  // private[graft] so the parity spec can pin this against the REAL
  // alignSides counts — the two re-state the side definitions
  // independently, and a drift between them silently desyncs the
  // plane count from the data
  private[graft] def alignSideCardinalities(spark: SparkSession,
      dir: String): (Long, Long) = {
    val mtime = new java.io.File(s"$dir/embeddings.parquet").lastModified()
    if (alignSideCounts.size() > AlignSideCountsCap) alignSideCounts.clear()
    alignSideCounts.computeIfAbsent((dir, mtime), { case (d, _) =>
      // coalesce: sum over ZERO rows is SQL NULL, and getLong on a
      // null field NPEs — an empty embeddings table (partially built
      // replica) must mean (0, 0), matching the count() semantics
      // this aggregate replaced
      val r = tbl(spark, d, "embeddings")
        .agg(
          coalesce(sum(when(col("label") < 5, 1L).otherwise(0L)),
            lit(0L)).as("na"),
          coalesce(sum(when(col("label") >= 5, 1L).otherwise(0L)
            + when(col("label") < 5 && col("vec_id") % 50 === 0, 1L)
              .otherwise(0L)), lit(0L)).as("nb"))
        .head()
      (r.getLong(0), r.getLong(1))
    })
  }

  /** The banded margin miner, parameterized by the band-table salt
    * set (table count = the recall/precision knob q123 measures) and
    * the exact-cosine confirm floor (None = margin-only admission,
    * the audit configs; Some = the production path, see q122).
    */
  private def bandedAlign(spark: SparkSession, dir: String,
      salts: Seq[String],
      confirmFloorE6: Option[Long] = None): DataFrame =
    finishBandedAlign(bandedAlignAdmitted(spark, dir, salts),
      confirmFloorE6)

  /** The confirm floor + output shaping, split from the candidate
    * stage so callers measuring BOTH the margin-only and confirmed
    * configs over the same salt set (q123) run the band join once
    * and derive the two result sets from one persisted admitted set
    * — the floor only filters a column the candidate stage already
    * computed, so sharing changes no row of either output.
    */
  private def finishBandedAlign(admitted: DataFrame,
      confirmFloorE6: Option[Long]): DataFrame =
    confirmFloorE6.fold(admitted)(f => admitted.filter(col("cos_e6") >= f))
      .select(col("xid"), col("yid"), col("cos_e6"), col("margin_e6"))

  /** Everything up to margin admission — band keys, capped bipartite
    * join, exact cosine, both top-4 partials, the margin filter —
    * WITHOUT the confirm floor: columns (xid, yid, cos_e6,
    * margin_e6, ...), unsorted.
    */
  /** The documented SRP scale knob, APPLIED (annNearDupPairs: "plane
    * count must track log2(n)"): plane count targets <= 8 vectors
    * per bucket per table, so per-vector candidate volume is bounded
    * by a constant and total candidates stay LINEAR in n as the
    * corpus decades — fixed planes would grow buckets (and the
    * bucketed join) as n^2/2^planes. Floored at the 8-plane config,
    * which the DuckDB oracle hard-codes: identical up to n = 2048
    * per side, clearing every gate SF with margin (measured sides:
    * ~250 at sf0.001/sf0.01, 1025 at sf0.1 — an n/4 target put the
    * boundary at 1024 and the sf0.1 cross-check caught the one-row
    * overshoot). Above the boundary the oracle is WRONG, so crossing
    * it is loud: decade runs (oracle-free by design) opt in via the
    * graft.q122.adaptivePlanes property (ScaleBench sets it);
    * anything else — a gate-SF or fixture-density change — fails
    * here with the reason, not downstream with an opaque row diff.
    */
  private def alignPlaneCount(spark: SparkSession, dir: String): Int = {
    val planes = alignPlaneCountRaw(spark, dir)
    if (planes > Planes &&
        !sys.props.get("graft.q122.adaptivePlanes").contains("true"))
      throw new IllegalStateException(
        s"bandedAlign: this dir's side size needs $planes SRP planes " +
          s"but the STATIC DuckDB oracle hard-codes $Planes (valid to " +
          "2048/side). Set -Dgraft.q122.adaptivePlanes=true for " +
          "oracle-free runs, or gate through Verify, whose " +
          "alignOracleOverlay regenerates the oracle at the derived " +
          "count (set the property there too — the overlay keeps the " +
          "two engines in lockstep).")
    planes
  }

  /** Exact-cosine-scored banded candidate pairs between band-keyed
    * sides ka (xid, xv, nx, bk) and kb (yid, yv, ny, bk): capped
    * bipartite bucket join, one cosine per pair, DISTINCT collapsing
    * multi-table collisions (identical FP fold -> identical e6 score
    * -> exact collapse). Shared by the batch miner and the streaming
    * twin so the candidate semantics can never drift.
    */
  private[graft] def alignScoredPairs(ka: DataFrame,
      kb: DataFrame): DataFrame =
    graft.operators.Buckets
      .cappedBipartitePairs(ka, kb, "bk", 100000L)
      .select(col("a.xid"), col("b.yid"),
        round(dot(col("a.xv"), col("b.yv")) / (col("a.nx") * col("b.ny")) * 1e6)
          .cast("long").as("cos_e6"))
      .distinct()

  /** Per-xid top-4 neighborhood reduction of scored pairs: best
    * partner, its score, and the hubness average ax.
    */
  private[graft] def alignXTop4(scored: DataFrame): DataFrame =
    scored.groupBy(col("xid"))
      .agg(call_function("topk_by_score",
        col("cos_e6"), col("yid"), lit(4)).as("top"))
      .select(col("xid"), col("top")(0).getField("id").as("ybest"),
        col("top")(0).getField("score").as("cos_e6"),
        expr("aggregate(top, 0L, (s, t) -> s + t.score) DIV size(top)").as("ax"))

  /** Per-yid top-4 hubness average ay — the y-side calibration. */
  private[graft] def alignYTop4(scored: DataFrame): DataFrame =
    scored.groupBy(col("yid"))
      .agg(call_function("topk_by_score",
        col("cos_e6"), col("xid"), lit(4)).as("top"))
      .select(col("yid"),
        expr("aggregate(top, 0L, (s, t) -> s + t.score) DIV size(top)").as("ay"))

  private def bandedAlignAdmitted(spark: SparkSession, dir: String,
      salts: Seq[String]): DataFrame = {
    val (a, b) = alignSides(spark, dir)
    val planes = alignPlaneCount(spark, dir)
    val tables = salts.map(s => srpSignsSalted(s, planes, Dim))
    val ka = a.withColumn("bk", explode(bandKeyArr(col("xv"), tables)))
      .persist()
    ka.count() // eager: hot-key agg + anti join are sibling stages
    val kb = b.withColumn("bk", explode(bandKeyArr(col("yv"), tables)))
      .persist()
    kb.count()
    val scored = alignScoredPairs(ka, kb)
      .repartition(col("xid"))
    // the confirm floor (q42/q31 pattern) is applied downstream in
    // finishBandedAlign: margin cancels hubness but on sparse
    // candidate neighborhoods it also INFLATES — a junk pair can
    // clear 1.4x margin at near-zero absolute cosine. The floor
    // re-tests each admitted pair on its EXACT cosine (already
    // computed on the candidate, zero extra work) — output-sized, not
    // candidate-sized. q123's band3x8c row measures what it buys.
    marginAdmitted(scored)
  }

  /** The margin-admission tail over a scored-pairs frame (xid, yid,
    * cos_e6, extra columns ignored): both top-4 partials + the 1.4x
    * margin filter — split out so q123 can run it per config
    * over ONE shared scored table.
    */
  private def marginAdmitted(scored: DataFrame): DataFrame = {
    val xside = alignXTop4(scored)
    val yside = alignYTop4(scored)
    xside.join(yside, col("ybest") === col("yid"))
      .withColumn("margin_e6",
        expr("cos_e6 * 1000000 DIV nullif((ax + ay) DIV 2, 0)"))
      .filter(col("margin_e6") >= 1400000L)
  }

  // ---- streaming alignment-miner seam (streaming/AlignStream) ----

  /** Release-time artifacts for the STREAMING twin of q122: the
    * band-keyed target side (yid, yv, ny, bk), the y-side hubness
    * calibration (yid, ay — each target's top-4 average cosine
    * against the REFERENCE source corpus), and the band tables the
    * index was keyed with (arriving batches must hash with the SAME
    * tables or buckets never collide). ay is a corpus-level
    * calibration statistic, computed once per index release exactly
    * like the signature index itself — per-batch ay would make a
    * pair's verdict depend on how the crawl was batched, which is
    * the property the parity spec forbids.
    */
  private[graft] def alignStreamIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[Seq[Seq[Double]]]) = {
    val (a, b) = alignSides(spark, dir)
    val planes = alignPlaneCount(spark, dir)
    val tables = BandSalts.map(s => srpSignsSalted(s, planes, Dim))
    val bandedY = b.withColumn("bk", explode(bandKeyArr(col("yv"), tables)))
    val ka = a.withColumn("bk", explode(bandKeyArr(col("xv"), tables)))
    val yCal = alignYTop4(alignScoredPairs(ka, bandedY))
    (bandedY, yCal, tables)
  }

  /** Band-key one delta batch of source vectors (xid,
    * v: array<double>) into the ka shape [[alignScoredPairs]] pairs —
    * the SAME norm and band-key expressions the batch miner uses, so
    * the streaming twin cannot drift on either.
    */
  private[graft] def alignBatchKeys(xBatch: DataFrame,
      tables: Seq[Seq[Seq[Double]]]): DataFrame =
    withNorm(xBatch.select(col("xid"), col("v")))
      .select(col("xid"), col("v").as("xv"), col("nv").as("nx"))
      .withColumn("bk", explode(bandKeyArr(col("xv"), tables)))

  /** Margin + confirm admission over a batch's per-xid top-4 rows
    * (xid, ybest, cos_e6, ax) joined against the release-time y-side
    * calibration — the tail of the streaming twin. `yCalForBatch`
    * must already be batch-sized (the caller semi-fetches only the
    * ybest keys the batch needs — the index never enters an
    * exchange); a target outside the calibration (a y that had no
    * reference candidates — impossible while batches split the
    * reference corpus, possible for genuinely novel sources)
    * conservatively defaults ay to the pair's own cosine, deflating
    * its margin toward 1.0x: unseen neighborhoods don't admit on
    * hubness they never measured.
    */
  private[graft] def alignAdmit(xTop: DataFrame,
      yCalForBatch: DataFrame): DataFrame =
    xTop.join(broadcast(yCalForBatch),
      col("ybest") === col("yid"), "left")
      .withColumn("ay", coalesce(col("ay"), col("cos_e6")))
      .withColumn("margin_e6",
        expr("cos_e6 * 1000000 DIV nullif((ax + ay) DIV 2, 0)"))
      .filter(col("margin_e6") >= 1400000L &&
        col("cos_e6") >= ConfirmFloorE6)
      .select(col("xid"), col("ybest").as("yid"), col("cos_e6"),
        col("margin_e6"))

  /** DuckDB CTE chain for the BANDED margin mining, ending in
    * `${prefix}banded_res` — shared by q122Sql and the q123 recall
    * audit (which instantiates it twice, once per band-table count).
    * The divisor is the actual candidate count (see the q122 note).
    * `planes` parameterizes the SRP table depth so replica gates can
    * regenerate the oracle at the plane count the Spark path actually
    * uses (see [[alignOracleOverlay]]).
    */
  private def bandedAlignCteFor(salts: Seq[String], prefix: String,
      confirmFloorE6: Option[Long] = None,
      planes: Int = Planes): String = {
    val confirm =
      confirmFloorE6.fold("")(f => s"\n    AND x.best_cos >= $f")
    val tables = salts.map(s => srpSignsSalted(s, planes, Dim))
    val d = dotSql("a.xv", "bb.yv")
    val nx = dotSql("a.xv", "a.xv")
    val ny = dotSql("bb.yv", "bb.yv")
    val kxSel = tables.zipWithIndex.map { case (tab, t) =>
      s"SELECT xid, $t AS t, CAST(${bucketBitsSql(tab, "xv")} AS INT) AS bkt FROM a"
    }.mkString("\n  UNION ALL\n  ")
    val kySel = tables.zipWithIndex.map { case (tab, t) =>
      s"SELECT yid, $t AS t, CAST(${bucketBitsSql(tab, "yv")} AS INT) AS bkt FROM bb"
    }.mkString("\n  UNION ALL\n  ")
    s"""${prefix}kx AS (
       |  $kxSel
       |), ${prefix}ky AS (
       |  $kySel
       |), ${prefix}bsc AS (
       |  SELECT DISTINCT a.xid, bb.yid,
       |    CAST(round(1000000.0 * ($d / (sqrt($nx) * sqrt($ny))), 0) AS BIGINT) AS cos_e6
       |  FROM ${prefix}kx kx JOIN ${prefix}ky ky
       |    ON ky.t = kx.t AND ky.bkt = kx.bkt
       |  JOIN a ON a.xid = kx.xid
       |  JOIN bb ON bb.yid = ky.yid
       |), ${prefix}brx AS (
       |  SELECT xid, yid, cos_e6,
       |    row_number() OVER (PARTITION BY xid
       |                       ORDER BY cos_e6 DESC, yid) AS rn
       |  FROM ${prefix}bsc
       |), ${prefix}bax AS (
       |  SELECT xid, CAST(sum(cos_e6) // count(*) AS BIGINT) AS ax,
       |    min(CASE WHEN rn = 1 THEN yid END) AS ybest,
       |    min(CASE WHEN rn = 1 THEN cos_e6 END) AS best_cos
       |  FROM ${prefix}brx WHERE rn <= 4 GROUP BY xid
       |), ${prefix}bry AS (
       |  SELECT yid, xid, cos_e6,
       |    row_number() OVER (PARTITION BY yid
       |                       ORDER BY cos_e6 DESC, xid) AS rn
       |  FROM ${prefix}bsc
       |), ${prefix}bay AS (
       |  SELECT yid, CAST(sum(cos_e6) // count(*) AS BIGINT) AS ay
       |  FROM ${prefix}bry WHERE rn <= 4 GROUP BY yid
       |), ${prefix}banded_res AS (
       |  SELECT x.xid, x.ybest AS yid, x.best_cos AS cos_e6,
       |    CAST(x.best_cos * 1000000 // nullif((x.ax + y.ay) // 2, 0) AS BIGINT) AS margin_e6
       |  FROM ${prefix}bax x JOIN ${prefix}bay y ON y.yid = x.ybest
       |  WHERE x.best_cos * 1000000 // nullif((x.ax + y.ay) // 2, 0) >= 1400000$confirm
       |)""".stripMargin
  }

  /** q122's oracle at an explicit SRP plane count — the default is
    * the gate's 8-plane config; replica sweeps regenerate at the
    * derived count via [[alignOracleOverlay]].
    */
  def q122SqlFor(planes: Int): String =
    s"""WITH $alignSidesCte, ${bandedAlignCteFor(BandSalts, "",
        Some(ConfirmFloorE6), planes)}
       |SELECT xid, yid, cos_e6, margin_e6 FROM banded_res
       |ORDER BY xid""".stripMargin

  val q122Sql: String = q122SqlFor(Planes)

  /** The plane count [[bandedAlignAdmitted]] will use for `dir`,
    * WITHOUT the oracle guard — for callers that regenerate the
    * oracle at this same count (the guard's premise, a hard-coded
    * 8-plane oracle, doesn't apply to them).
    */
  private def alignPlaneCountRaw(spark: SparkSession, dir: String): Int = {
    val (na, nb) = alignSideCardinalities(spark, dir)
    val n = math.max(na, nb)
    math.max(Planes, math.ceil(math.log(n / 8.0) / math.log(2.0)).toInt)
  }

  /** Self-describing oracle regeneration for the banded alignment
    * family (for the replica gate): derive the SRP
    * plane count from the dir's ACTUAL side cardinalities — the same
    * formula the Spark path uses — and emit q122's oracle SQL at that
    * count, so the replica gate covers the production ANN path
    * instead of excluding it at the 2048/side boundary. At every
    * driver gate SF the derived count IS the 8-plane default, so the
    * overlay is the identity there (OracleOverlaySpec pins this).
    * q123 is covered too: its exclusion had TWO legs — the plane boundary
    * (its banded configs replay the 8-plane CTEs) and the
    * O(n^2)-priced exact ground truth — and both are closed: the
    * overlay regenerates its banded CTEs at the derived plane count,
    * and the exact baseline now mines the FIXED anchored x panel
    * ([[AlignAnchorBound]]), making the oracle replay linear in the
    * corpus.
    */
  def alignOracleOverlay(spark: SparkSession,
      dir: String): Map[String, String] = {
    val planes = alignPlaneCountRaw(spark, dir)
    Map("q122_banded_align" -> q122SqlFor(planes),
      "q123_align_recall" -> q123SqlFor(planes))
  }

  // ---- q123: alignment recall audit (banded vs exact margins) ----
  // The q105 posture applied to margin mining: BEFORE trusting q122's
  // banded path, measure what fraction of the exact-margin alignments
  // (q118's output, the ground truth on this data) the banded path
  // surfaced, and how much junk it added — for THREE configs, so
  // both knobs (band-table count, confirm floor) are measured
  // numbers, not advice: one row per config (band3x8 = margin-only,
  // band6x8 = doubled table count, band3x8c = q122's shipped
  // margin+confirm path) with pair counts, overlap, recall and
  // precision as e6 integers. The exact side is the audit's cost,
  // priced like q105's baseline — at 100 TB it runs on a SAMPLE of
  // the source side; the shape holds.
  def q123(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = q118(spark, dir).select(col("xid"), col("yid"))
      .persist()
    exact.count() // eager: the counts + the hit join re-read it
    // band3x8 and band3x8c differ ONLY by the confirm floor — a
    // filter on a column the candidate stage already computed — so
    // both configs derive from ONE persisted admitted set and the
    // identical 3-table band join runs once, not twice (the rebuild
    // measured ~a third of q123's cost). The 3-table and 6-table
    // configs also share one candidate pass. BandSalts is a strict prefix of BandSalts6 and
    // a band key is struct(table_idx, bucket) over the SAME salted
    // sign tables, so the 3-table candidate set is exactly the
    // 6-table pairs that collide in some table < 3 — per-key bucket
    // populations (and therefore the hot-bucket cap's drop set) are
    // identical for those keys in either run. One capped join +
    // cosine pass over the 6-table explode, with min colliding table
    // per distinct pair, replaces the two separate builds; each
    // config then runs only its own top-4/margin tail.
    val (a, b) = alignSides(spark, dir)
    val planes = alignPlaneCount(spark, dir)
    val tables6 = BandSalts6.map(s => srpSignsSalted(s, planes, Dim))
    val ka = a.withColumn("bk", explode(bandKeyArr(col("xv"), tables6)))
      .persist()
    ka.count() // eager: hot-key agg + anti join are sibling stages
    val kb = b.withColumn("bk", explode(bandKeyArr(col("yv"), tables6)))
      .persist()
    kb.count()
    val scored6 = graft.operators.Buckets
      .cappedBipartitePairs(ka, kb, "bk", 100000L)
      .select(col("a.xid"), col("b.yid"),
        round(dot(col("a.xv"), col("b.yv")) /
          (col("a.nx") * col("b.ny")) * 1e6).cast("long").as("cos_e6"),
        col("a.bk").getField("t").as("t"))
      .groupBy(col("xid"), col("yid"), col("cos_e6"))
      .agg(min(col("t")).as("mint"))
      .repartition(col("xid"))
      .persist()
    scored6.count() // eager: both configs' top-4 tails re-read it
    val adm3 = marginAdmitted(
      scored6.filter(col("mint") < BandSalts.size)).persist()
    adm3.count() // eager: both configs' counts + hit joins re-read it
    // margin-only 6-table config; the audit never sorts, so take the
    // unsorted admitted set directly (counts are order-free)
    val b6 = marginAdmitted(scored6).persist()
    b6.count()
    // one audit pass (same three rows, same arithmetic): audits run
    // PER CONFIG — each one an exact-count aggregate plus two
    // broadcast-built count subplans — make the union plan spawn ~9
    // tiny aggregate/broadcast jobs and re-count the persisted exact
    // set three times. The three configs now ride
    // ONE cfg-tagged union: one grouped count for the banded sides,
    // one hit join + grouped count against the exact set, one exact
    // count — 3 jobs total. Counts per cfg are unchanged (the tag
    // partitions the union exactly as the per-config frames did);
    // the DuckDB oracle replays the same three rows bit-exact.
    // band3x8c = q122's SHIPPED config (margin + confirm floor): its
    // row prices exactly what the confirm stage buys over the
    // margin-only configs it audits. Both sides of every audit live
    // on the SAME anchored x panel the exact baseline (q118) mines —
    // an unrestricted banded side would count non-panel pairs as
    // junk and deflate precision.
    val tagged = Seq(
      "band3x8" -> adm3,
      "band6x8" -> b6,
      "band3x8c" -> adm3.filter(col("cos_e6") >= ConfirmFloorE6))
      .map { case (cfg, banded) =>
        banded.filter(alignAnchored(col("xid")))
          .select(lit(cfg).as("cfg"), col("xid").as("bxid"),
            col("yid").as("byid"))
      }.reduce(_.union(_))
    val nBanded = tagged.groupBy(col("cfg"))
      .agg(count(lit(1)).as("n_banded"))
    val nHit = tagged.join(exact,
        col("xid") === col("bxid") && col("yid") === col("byid"))
      .groupBy(col("cfg")).agg(count(lit(1)).as("n_hit"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    Seq("band3x8", "band3x8c", "band6x8").toDF("cfg")
      .join(broadcast(nBanded), Seq("cfg"), "left")
      .join(broadcast(nHit), Seq("cfg"), "left")
      .crossJoin(broadcast(nExact))
      .select(col("cfg"), col("n_exact"),
        coalesce(col("n_banded"), lit(0L)).as("n_banded"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col("cfg"), col("n_exact"), col("n_banded"), col("n_hit"),
        expr("n_hit * 1000000 DIV nullif(n_exact, 0)").as("recall_e6"),
        expr("n_hit * 1000000 DIV nullif(n_banded, 0)").as("precision_e6"))
  }

  /** q123's oracle at an explicit SRP plane count (the q122SqlFor
    * treatment): the gate default is 8 planes; replica sweeps
    * regenerate the three banded CTEs at the derived count via
    * [[alignOracleOverlay]].
    */
  def q123SqlFor(planes: Int): String = {
    // banded counts restricted to the anchored x panel, mirroring the
    // Spark audit (the exact side is panel-restricted by exactAlignCte;
    // the hit join inherits the restriction through xid equality)
    def summary(cfg: String, p: String): String =
      s"""SELECT '$cfg' AS cfg,
         |  (SELECT count(*) FROM exact_res) AS n_exact,
         |  (SELECT count(*) FROM ${p}banded_res WHERE $alignAnchoredSql) AS n_banded,
         |  (SELECT count(*) FROM exact_res x JOIN ${p}banded_res b
         |     ON b.xid = x.xid AND b.yid = x.yid) AS n_hit,
         |  CAST((SELECT count(*) FROM exact_res x JOIN ${p}banded_res b
         |     ON b.xid = x.xid AND b.yid = x.yid) * 1000000
         |    // nullif((SELECT count(*) FROM exact_res), 0) AS BIGINT) AS recall_e6,
         |  CAST((SELECT count(*) FROM exact_res x JOIN ${p}banded_res b
         |     ON b.xid = x.xid AND b.yid = x.yid) * 1000000
         |    // nullif((SELECT count(*) FROM ${p}banded_res
         |              WHERE $alignAnchoredSql), 0) AS BIGINT) AS precision_e6""".stripMargin
    s"""WITH $alignSidesCte, $exactAlignCte,
       |${bandedAlignCteFor(BandSalts, "", planes = planes)},
       |${bandedAlignCteFor(BandSalts6, "b6_", planes = planes)},
       |${bandedAlignCteFor(BandSalts, "c_", Some(ConfirmFloorE6), planes)}
       |${summary("band3x8", "")}
       |UNION ALL
       |${summary("band6x8", "b6_")}
       |UNION ALL
       |${summary("band3x8c", "c_")}
       |ORDER BY cfg""".stripMargin
  }

  val q123Sql: String = q123SqlFor(Planes)

  // ---- q134: hard-negative mining (contrastive training data) ----
  // The embedding-training sibling of near-dup mining: for each
  // anchor, the top-k MOST similar vectors carrying a DIFFERENT
  // label — the "hard negatives" a contrastive objective needs
  // (easy negatives are plentiful and uninformative; the
  // highest-cosine wrong-label neighbors carry the gradient).
  //
  // Same scale skeleton as q62/q122: candidates come from the
  // 3-table SRP band join (hot-bucket-capped on BOTH sides via
  // cappedBipartitePairs, never all-pairs), the label-mismatch
  // filter rides the candidate join, exact cosine confirms, DISTINCT
  // collapses multi-table collisions, and the per-anchor top-3 is
  // the bounded `topk_by_score` partial — no window over candidates.
  // At 100 TB: anchors are a hash sample (every 50th vector), band
  // keys are 3 map-only ints per vector, and candidate volume is the
  // banded-join bound b * n^2 / 2^planes, linear while planes track
  // log2(n). Banding's recall bias favors the highest-cosine pairs —
  // the ones a contrastive objective wants — but how much of the
  // exact top-3 that buys depends on how aligned those negatives
  // actually are: q135 is the audit that measures it (13% on the
  // gate's RANDOM corpus, where "hard" negatives sit near chance
  // cosine and banding can't beat its q105 collision floor; a real
  // clustered corpus separates the two).
  //
  // ORACLE-COMPARABILITY BOUND (same posture as q42/q62): the Spark
  // path caps each band bucket at 100k rows per side — on BOTH the
  // full side and the 2% anchor side — while the DuckDB oracle CTE
  // pairs buckets uncapped, so the two are hash-comparable only
  // while every bucket is under the cap. At the gate SFs the largest
  // bucket holds ~n/2^8 rows over the fixed 8-plane tables (sf0.1:
  // ~23 full-side, ~1 anchor-side; the 10x replica: ~230) — 3+
  // orders of magnitude under the cap, and the expected bucket only
  // reaches 100k at n ≈ 2^25 vectors. Past that, production raises
  // the plane count to track log2(n) (q122's bandedAlign shows the
  // adaptive shape) and the oracle CTE must be regenerated with the
  // same tables; the gate never runs there.
  def q134(spark: SparkSession, dir: String): DataFrame = {
    val banded = tbl(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nv", sqrt(dot(col("v"), col("v"))))
      .withColumn("bk", explode(bandKeyArr(col("v"))))
      .persist()
    banded.count() // eager barrier: the two join sides are siblings
    val anchors = banded.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nv").as("nq"), col("bk"))
    graft.operators.Buckets
      .cappedBipartitePairs(anchors, banded, "bk", 100000L)
      .filter(col("a.query_id") =!= col("b.vec_id") &&
        col("a.qlabel") =!= col("b.label"))
      .select(col("a.query_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"),
        round(dot(col("a.qv"), col("b.v")) / (col("a.nq") * col("b.nv")) * 1e6)
          .cast("long").as("cos_e6"))
      .distinct()
      .groupBy(col("query_id"))
      .agg(call_function("topk_by_score",
        col("cos_e6"), col("neighbor_id"), lit(3)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cos_e6"))
  }

  /** Shared oracle CTE chain for the banded hard-negative miner —
    * `e` (id, label, vector), `banded` (3 band tables), `q` (the 2%
    * anchor sample), `cand` (banded different-label candidates),
    * `ranked` — used by q134 (the miner's output) and q135 (its
    * recall audit), so the band keys, tie order, and FP sequence are
    * spelled once.
    */
  private val hardNegCteSql: String = {
    val d = dotSql("q.qv", "b.v")
    val nq = dotSql("q.qv", "q.qv")
    val nb = dotSql("b.v", "b.v")
    val tableSel = bandTables.zipWithIndex.map { case (tab, t) =>
      s"SELECT vec_id, label, v, $t AS t, " +
        s"CAST(${bucketBitsSql(tab)} AS INT) AS bucket FROM e"
    }.mkString("\n  UNION ALL\n  ")
    s"""e AS (
       |  SELECT vec_id, label, ${vSql("embedding")} AS v FROM embeddings
       |), banded AS (
       |  $tableSel
       |), q AS (
       |  SELECT vec_id AS query_id, label AS qlabel, v AS qv, t, bucket
       |  FROM banded WHERE vec_id % 50 = 0
       |), cand AS (
       |  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id,
       |    CAST(round(1000000.0 * ($d / (sqrt($nq) * sqrt($nb))), 0) AS BIGINT)
       |      AS cos_e6
       |  FROM q JOIN banded b ON q.t = b.t AND q.bucket = b.bucket
       |  WHERE b.vec_id <> q.query_id AND b.label <> q.qlabel
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos_e6,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos_e6 DESC, neighbor_id) AS rank
       |  FROM cand
       |)""".stripMargin
  }

  val q134Sql: String =
    s"""WITH $hardNegCteSql
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos_e6
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ---- q135: hard-negative recall audit (q134 vs exact top-3) ----
  // q134 is an approximate path, so it ships with its own measurement
  // (the q105/q123/q126/q127/q128 posture): for the same anchors, the
  // EXACT top-3 different-label neighbors (brute force over the
  // corpus — the audit's priced cost, bounded by the 2% anchor
  // sample) are compared against what the banded miner returned. One
  // row per anchor: n_exact, n_hit (overlap), recall_e6. Measured at
  // sf0.01: 4/30 = 13% — exactly q105's banding collision floor, NOT
  // better, because this corpus is random: its exact top-3
  // different-label neighbors sit near chance cosine (~0.3), so the
  // "banding keeps high-cosine pairs" bias has nothing to bite on.
  // The unflattering number is the audit working (the q105/q128
  // posture): it gates shipping the miner on corpora whose negatives
  // aren't actually aligned, where exact mining (this baseline, on
  // the anchor sample) is the honest fallback.
  //
  // Scale posture: exact scoring is the documented all-pairs baseline
  // (crossJoin(broadcast(anchors)) — the PLANS.md exact-baseline
  // exemption class) over the anchor SAMPLE only, ranked by the
  // bounded topk_by_score partial; the overlap join carries 3 ids per
  // anchor. The production path re-runs q134 itself, unchanged.
  def q135(spark: SparkSession, dir: String): DataFrame = {
    val all = tbl(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nv", sqrt(dot(col("v"), col("v"))))
    // the audited anchors are the BOUNDED panel (every 50th under
    // QueryPanelBound — a subset of q134's mined anchors, which stay
    // unbounded: the production miner is banded and replica-cheap,
    // only the exact ground truth needs the fixed-size panel)
    val anchors = all.filter(col("vec_id") % 50 === 0 &&
        col("vec_id") < QueryPanelBound)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nv").as("nq"))
    val exact = all.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("nq") * col("nv")) * 1e6)
          .cast("long").as("cos_e6"))
      .groupBy(col("query_id"))
      .agg(call_function("topk_by_score",
        col("cos_e6"), col("neighbor_id"), lit(3)).as("top"))
      .select(col("query_id"), explode(col("top")).as("hit"))
      .select(col("query_id"), col("hit.id").as("neighbor_id"))
      .persist()
    exact.count() // eager: n_exact and the overlap join are siblings
    val mined = q134(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(mined, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_e6", expr("n_hit * 1000000L div n_exact"))
  }

  val q135Sql: String = {
    val d = dotSql("a.v", "b.v")
    val na = dotSql("a.v", "a.v")
    val nb = dotSql("b.v", "b.v")
    s"""WITH $hardNegCteSql, mined AS (
       |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3
       |), scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(round(1000000.0 * ($d / (sqrt($na) * sqrt($nb))), 0) AS BIGINT)
       |      AS cos_e6
       |  FROM e a JOIN e b
       |    ON a.vec_id % 50 = 0 AND a.vec_id < $QueryPanelBound
       |      AND b.vec_id <> a.vec_id
       |      AND b.label <> a.label
       |), exr AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos_e6 DESC, neighbor_id) AS rank
       |  FROM scored
       |), ex AS (
       |  SELECT query_id, neighbor_id FROM exr WHERE rank <= 3
       |), nex AS (
       |  SELECT query_id, count(*) AS n_exact FROM ex GROUP BY query_id
       |), hits AS (
       |  SELECT ex.query_id, count(*) AS n_hit
       |  FROM ex JOIN mined USING (query_id, neighbor_id)
       |  GROUP BY ex.query_id
       |)
       |SELECT n.query_id, n.n_exact, coalesce(h.n_hit, 0) AS n_hit,
       |  coalesce(h.n_hit, 0) * 1000000 // n.n_exact AS recall_e6
       |FROM nex n LEFT JOIN hits h ON h.query_id = n.query_id
       |ORDER BY n.query_id""".stripMargin
  }

  // ---- q147: retrieval-quality eval (recall/MRR/NDCG@10 by label) ----
  // The evaluation harness every retrieval pipeline needs beside its
  // index audits (q105/q126/q128 measure index-vs-exact agreement;
  // this measures exact-retrieval-vs-GROUND-TRUTH quality): ground
  // truth is the `label` column — a neighbor is relevant iff it
  // shares the query's class — and the metrics are the standard IR
  // triple at k=10. To keep the gate FP-proof, the DCG weight table
  // round(1e6/log2(r+1)) is pinned once as INTEGER constants shared
  // verbatim by both engines ([[DcgWeightsE6]]); DCG/IDCG are then
  // exact integer sums (no FP summation-order hazard) and each metric
  // performs exactly one division, folded identically on both sides.
  //
  // 100 TB posture: the anchor panel is bounded (QueryPanelBound), so
  // the exact scorer is linear in the corpus; labels join broadcast;
  // the per-query aggregate exchanges ≤ k compact rows per anchor.
  def q147(spark: SparkSession, dir: String): DataFrame = {
    val K = 10
    val all = withNorm(vecs(spark, dir))
    val labels = tbl(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val qLab = labels.select(col("vec_id").as("query_id"),
      col("label").as("q_label"))
    val nLab = labels.select(col("vec_id").as("neighbor_id"),
      col("label").as("n_label"))
    val labCnt = labels.groupBy("label")
      .agg(count(lit(1)).as("n_label_total"))
    val wArr = array(DcgWeightsE6.map(lit(_)): _*)
    val psArr = array(DcgPrefixE6.map(lit(_)): _*)
    val per = exactTopK(all, querySample(all), K)
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"))
      .join(broadcast(qLab), "query_id")
      .join(broadcast(nLab), "neighbor_id")
      .withColumn("rel", (col("n_label") === col("q_label")).cast("int"))
      .groupBy(col("query_id"), col("q_label"))
      .agg(sum(col("rel")).cast("long").as("hits"),
        sum(when(col("rel") === 1, element_at(wArr, col("rank")))
          .otherwise(0L)).cast("long").as("dcg_e6"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"))
    per.join(broadcast(labCnt), per("q_label") === labCnt("label"))
      .withColumn("n_rel", (col("n_label_total") - 1).cast("long"))
      .withColumn("idcg_e6",
        element_at(psArr, least(lit(K.toLong), col("n_rel")).cast("int") + 1))
      .select(col("query_id"), col("n_rel"), col("hits"),
        when(col("n_rel") === 0, 0L)
          .otherwise(round(lit(1000000.0) * col("hits") / col("n_rel")))
          .cast("long").as("recall_e6"),
        when(col("first_rel").isNull, 0L)
          .otherwise(round(lit(1000000.0) / col("first_rel")))
          .cast("long").as("mrr_e6"),
        when(col("idcg_e6") === 0, 0L)
          .otherwise(round(lit(10000.0) * col("dcg_e6") / col("idcg_e6")))
          .cast("long").as("ndcg_e4"))
  }

  /** round(1e6 / log2(r+1)) for r = 1..10 — THE DCG weight table,
    * computed once here and interpolated verbatim into the oracle so
    * both engines share identical integers (the metric definition
    * carries the log, not the runtime).
    */
  private[graft] val DcgWeightsE6: Seq[Long] =
    (1 to 10).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** Prefix sums of [[DcgWeightsE6]] (index m = ideal DCG of m
    * relevant items), ps(0) = 0.
    */
  private[graft] val DcgPrefixE6: Seq[Long] =
    DcgWeightsE6.scanLeft(0L)(_ + _)

  val q147Sql: String = {
    val wRows = DcgWeightsE6.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
    val psRows = DcgPrefixE6.zipWithIndex
      .map { case (ps, m) => s"($m, $ps)" }.mkString(", ")
    s"""WITH $exactRankedCte, lab AS (
       |  SELECT vec_id, label FROM embeddings
       |), cnt AS (
       |  SELECT label, count(*) AS n_label_total FROM lab GROUP BY 1
       |), w(rank, w_e6) AS (VALUES $wRows
       |), ps(m, ps_e6) AS (VALUES $psRows
       |), top AS (
       |  SELECT r.query_id, r.rank, ql.label AS q_label,
       |    CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS rel
       |  FROM ranked r
       |  JOIN lab ql ON ql.vec_id = r.query_id
       |  JOIN lab nl ON nl.vec_id = r.neighbor_id
       |  WHERE r.rank <= 10
       |), per AS (
       |  SELECT query_id, q_label,
       |    CAST(sum(rel) AS BIGINT) AS hits,
       |    CAST(sum(CASE WHEN rel = 1 THEN w.w_e6 ELSE 0 END) AS BIGINT) AS dcg_e6,
       |    min(CASE WHEN rel = 1 THEN rank END) AS first_rel
       |  FROM top JOIN w USING (rank)
       |  GROUP BY 1, 2
       |)
       |SELECT p.query_id,
       |  CAST(c.n_label_total - 1 AS BIGINT) AS n_rel,
       |  p.hits,
       |  CASE WHEN c.n_label_total - 1 = 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST(round(1000000.0 * p.hits / (c.n_label_total - 1), 0) AS BIGINT)
       |       END AS recall_e6,
       |  CASE WHEN p.first_rel IS NULL THEN CAST(0 AS BIGINT)
       |       ELSE CAST(round(1000000.0 / p.first_rel, 0) AS BIGINT)
       |       END AS mrr_e6,
       |  CASE WHEN ps.ps_e6 = 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST(round(10000.0 * p.dcg_e6 / ps.ps_e6, 0) AS BIGINT)
       |       END AS ndcg_e4
       |FROM per p
       |JOIN cnt c ON c.label = p.q_label
       |JOIN ps ON ps.m = least(10, c.n_label_total - 1)
       |ORDER BY p.query_id""".stripMargin
  }

  // ---- q149: int8 scalar-quantization recall audit (SQ vs exact) ----
  // The remaining compression point on the memory/recall curve: PQ
  // (q69/q70, audited by q128) is 8 bytes/vector, int8 SQ is the
  // 64-byte middle ground every serving stack ships first (one code
  // per DIMENSION — symmetric absmax per-dim quantization, the
  // faiss ScalarQuantizer/QT_8bit shape). Codes are
  // round(127·x/scale_d) with scale_d = max|x_d| over the corpus —
  // per-dim max is an EXACT aggregate (no FP summation), so both
  // engines derive identical scales, identical codes, and identical
  // dequantized values; distances then ride the same three-fold L2
  // identity as q128 (self-dots staged once, dot_f64's sequential
  // fold mirrored by the oracle), so FP parity holds by construction
  // end to end. Output: exact-L2 top-3 vs SQ top-3 overlap per panel
  // query — the number that gates trusting the 4x compression.
  //
  // Scale posture: the scale vector is a 64-value broadcast (per-dim
  // max = one tiny map-side-combined aggregate); both rankings run
  // on the bounded query panel with topk_by_score partials; the
  // overlap join carries 3 ids per query.
  def q149(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
      .withColumn("vv", dot(col("v"), col("v"))).persist()
    all.count() // barrier: exact + SQ branches share one scan
    val scales: Array[Double] = all
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(max(abs(col("x"))).as("mx"))
      .orderBy(col("pos")).collect().map(_.getDouble(1))
    val scArr = array(scales.map(lit(_)): _*)
    val queries = all.filter(col("vec_id") % 100 === 0 &&
        col("vec_id") < QueryPanelBound)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("vv").as("qq"))
    val l2e6 = round(((col("vv") + col("qq"))
      - lit(2d) * dot(col("v"), col("qv"))) * 1e6).cast("long")
    val exact = all.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("nid"), l2e6.as("d"))
      .groupBy(col("query_id"))
      .agg(call_function("topk_by_score",
        -col("d"), col("nid"), lit(3)).as("t"))
      .select(col("query_id"), expr("transform(t, x -> x.id)").as("exact_ids"))
    // encode -> decode: the stored form is the int8 code; search
    // dequantizes (code·scale/127) and reuses the L2 identity
    val sq = all
      .select(col("vec_id"),
        graft.vector.VectorOps.sqEncode(col("v"), scArr).as("c"))
      .select(col("vec_id"),
        graft.vector.VectorOps.sqDecode(col("c"), scArr).as("dv"))
      .withColumn("dvv", dot(col("dv"), col("dv")))
      .crossJoin(broadcast(queries.select(col("query_id").as("qid"),
        col("qv"), col("qq").as("q2"))))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(((col("dvv") + col("q2"))
          - lit(2d) * dot(col("dv"), col("qv"))) * 1e6)
          .cast("long").as("d"))
      .groupBy(col("qid"))
      .agg(call_function("topk_by_score",
        -col("d"), col("nid"), lit(3)).as("t"))
      .select(col("qid"), expr("transform(t, x -> x.id)").as("sq_ids"))
    exact.join(sq, col("query_id") === col("qid"))
      .select(col("query_id"),
        size(col("exact_ids")).cast("long").as("n_exact"),
        size(array_intersect(col("exact_ids"), col("sq_ids")))
          .cast("long").as("n_hit"))
      .withColumn("recall_e6", expr("n_hit * 1000000 DIV n_exact"))
  }

  val q149Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings
       |), dims AS (
       |  SELECT CAST(u.d AS INT) AS d
       |  FROM (SELECT unnest(range(1, $Dim + 1)) AS d) u
       |), sc AS (
       |  SELECT list(mx ORDER BY d) AS sc FROM (
       |    SELECT d, max(abs(v[d])) AS mx FROM e, dims GROUP BY d)
       |), dq AS (
       |  SELECT vec_id,
       |    list_transform(range(1, $Dim + 1), d ->
       |      CAST(round(127.0 * v[d] / greatest(sc[d], 1e-30), 0) AS INT)
       |        * sc[d] / 127.0) AS dv
       |  FROM e, sc
       |), e2 AS (
       |  SELECT vec_id, v, ${dotSql("v", "v")} AS vv FROM e
       |), d2 AS (
       |  SELECT vec_id, dv, ${dotSql("dv", "dv")} AS dvv FROM dq
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv, vv AS qq FROM e2
       |  WHERE vec_id % 100 = 0 AND vec_id < $QueryPanelBound
       |), exact_top AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY CAST(round(1000000.0 * ((n.vv + q.qq)
       |          - 2 * ${dotSql("n.v", "q.qv")}), 0) AS BIGINT) ASC,
       |          n.vec_id) AS rn
       |    FROM e2 n, q WHERE n.vec_id <> q.query_id)
       |  WHERE rn <= 3
       |), sq_top AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY CAST(round(1000000.0 * ((n.dvv + q.qq)
       |          - 2 * ${dotSql("n.dv", "q.qv")}), 0) AS BIGINT) ASC,
       |          n.vec_id) AS rn
       |    FROM d2 n, q WHERE n.vec_id <> q.query_id)
       |  WHERE rn <= 3
       |)
       |SELECT x.query_id, count(*) AS n_exact,
       |  CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.neighbor_id) * 1000000 // count(*) AS BIGINT)
       |    AS recall_e6
       |FROM exact_top x LEFT JOIN sq_top a
       |  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q149_sq8_recall" -> (q149 _),
    "q147_ranking_eval" -> (q147 _),
    "q134_hard_negatives" -> (q134 _),
    "q135_negatives_recall" -> (q135 _),
    "q40_cosine_topk" -> (q40 _),
    "q41_srp_buckets" -> (q41 _),
    "q42_ann_neardup" -> (q42 _),
    "q43_ivf_ann" -> (q43 _),
    "q52_kmeans_step" -> (q52 _),
    "q62_banded_ann" -> (q62 _),
    "q69_pq_encode" -> (q69 _),
    "q70_pq_adc" -> (q70 _),
    "q71_ivfpq_search" -> (q71 _),
    "q74_pq_residual" -> (q74 _),
    "q79_semantic_clusters" -> (q79 _),
    "q105_ann_recall" -> (q105 _),
    "q113_semantic_decon" -> (q113 _),
    "q114_source_outliers" -> (q114 _),
    "q118_margin_align" -> (q118 _),
    "q122_banded_align" -> (q122 _),
    "q123_align_recall" -> (q123 _),
    "q126_ivf_recall" -> (q126 _),
    "q128_pq_recall" -> (q128 _)
  )

  val oracles: Map[String, String] = Map(
    "q149_sq8_recall" -> q149Sql,
    "q147_ranking_eval" -> q147Sql,
    "q134_hard_negatives" -> q134Sql,
    "q135_negatives_recall" -> q135Sql,
    "q40_cosine_topk" -> q40Sql,
    "q41_srp_buckets" -> q41Sql,
    "q42_ann_neardup" -> q42Sql,
    "q43_ivf_ann" -> q43Sql,
    "q52_kmeans_step" -> q52Sql,
    "q62_banded_ann" -> q62Sql,
    "q69_pq_encode" -> q69Sql,
    "q70_pq_adc" -> q70Sql,
    "q71_ivfpq_search" -> q71Sql,
    "q74_pq_residual" -> q74Sql,
    "q79_semantic_clusters" -> q79Sql,
    "q105_ann_recall" -> q105Sql,
    "q113_semantic_decon" -> q113Sql,
    "q114_source_outliers" -> q114Sql,
    "q118_margin_align" -> q118Sql,
    "q122_banded_align" -> q122Sql,
    "q123_align_recall" -> q123Sql,
    "q126_ivf_recall" -> q126Sql,
    "q128_pq_recall" -> q128Sql
  )
}
