package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CmsQuery.cmsQuery
import graft.text.TextOps

/** LLM-training-data pipeline queries over the `documents` table
  * (SURVEY.md §2.11): exact dedup, MinHash-LSH near-dup, SimHash,
  * n-gram-Jaccard near-dup, language ID, quality scoring, token
  * counting, fingerprinting. Every signature is md5-based so DuckDB
  * reproduces it bit-identically — the oracle checks the *whole*
  * pipeline (shingling, hashing, banding, pairing), not a projection.
  *
  * Near-dup queries plant their own positives: perturbed copies
  * (doc_id + 1,000,000, last 3 tokens dropped) of every 7th document,
  * constructed identically in both engines, so the pair-generation
  * path provably fires even when the corpus has no organic dups.
  */
object TextQueries {

  import Relational.tbl
  import TextOps._

  private val toks = tokens(col("text"))

  /** DuckDB: first 15 md5 hex digits of `e` as a BIGINT (Horner).
    * Shared across every oracle that decodes `md5_long60` output
    * (split/mix/shingle/decode queries) — one copy, one semantics.
    */
  private[queries] def md5IntSql(e: String): String = {
    val h = (1 to 15).map(p =>
      s"(strpos('0123456789abcdef', substr(md5($e), $p, 1)) - 1)")
    h.reduce((acc, n) => s"($acc * 16 + $n)")
  }

  /** The salted split bucket (md5_long60("split:"+doc_id) % 100) and
    * its train/valid/test label — ONE definition each, shared by
    * q46/q58/q61 (and mirrored by [[splitBucketSql]]/[[splitCaseSql]]
    * on the oracle side): the leakage-safety story depends on every
    * query cutting the corpus at the same 80/90 boundary with the
    * same salt, so the cut must not be re-spelled per query.
    */
  private def splitBucket(spark: SparkSession): Column = {
    call_function("md5_long60",
      concat(lit("split:"), col("doc_id").cast("string"))) % 100
  }

  private def splitLabel(spark: SparkSession): Column = {
    val b = splitBucket(spark)
    when(b < 80, "train").when(b < 90, "valid").otherwise("test")
  }

  private val splitBucketSql: String =
    s"${md5IntSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100"

  private val splitCaseSql: String =
    s"""CASE WHEN $splitBucketSql < 80 THEN 'train'
       |       WHEN $splitBucketSql < 90 THEN 'valid'
       |       ELSE 'test' END""".stripMargin

  /** q35's quality score over a `toks` array — shared by q35/q61;
    * [[qualityE4Sql]] is the oracle twin over (sum_len, n_tokens,
    * stop_hits) columns.
    */
  private def qualityE4Col: Column = {
    val nTok = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val stopHits = langHits(toks, langProfiles.toMap.apply("en")).cast("long")
    least(lit(10000L),
      floor(sumLen * 100 / nTok) * 10 + floor(stopHits * 10000 / nTok))
      .cast("long")
  }

  private val qualityE4Sql: String =
    "least(10000, (sum_len * 100 // n_tokens) * 10 + stop_hits * 10000 // n_tokens)"


  /** documents ∪ planted exact copies of every 10th doc.
    * `private[queries]` so ShuffleBudgetSpec derives its budget
    * denominators from the SAME corpus the queries read.
    */
  private[queries] def withExactCopies(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    d.union(d.filter(col("doc_id") % 10 === 0)
      .select(Fixtures.plantedId(col("doc_id"), 1000000L).as("doc_id"), col("text")))
  }

  private val exactCopiesSql =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** documents ∪ planted near-copies (last 3 tokens dropped) of every
    * 7th doc with > 10 tokens.
    */
  private def withNearCopies(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    d.union(d
      .filter(col("doc_id") % 7 === 0 && size(toks) > 10)
      .select(Fixtures.plantedId(col("doc_id"), 1000000L).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), size(toks) - 3)).as("text")))
  }

  // ---- q30: exact deduplication (hash-groupBy on the text digest) ----
  def q30(spark: SparkSession, dir: String): DataFrame =
    withExactCopies(tbl(spark, dir, "documents"))
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"),
        count(lit(1)).cast("long").as("n_copies"))

  val q30Sql: String =
    s"""WITH docs AS (
       |  $exactCopiesSql
       |)
       |SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_copies
       |FROM docs GROUP BY text ORDER BY keeper""".stripMargin

  // ---- q31: MinHash + LSH near-duplicate detection ----
  // shingle(5-word) -> base md5 hash once -> minhash(k=8, affine
  // family) -> 4 bands x 2 rows -> bucket join on band key ->
  // m8 >= 4 calibrated pre-filter -> exact-Jaccard confirm >= 0.5.
  //
  // The pre-filter is q127's calibration table APPLIED: the
  // confirm bar J >= 0.5 implies E[m8] >= 4, and the measured table
  // shows every true pair at m8 >= 4 on all gate SFs while organic
  // band collisions (J ~ 0.01) sit at m8 <= 3 — so candidates with
  // m8 <= 3 are priced out BEFORE their shingle sets are fetched
  // (measured at sf0.1: 2 of 1004 candidates drop, both J = 0.009;
  // tiny here, but the 100 TB point is the SHAPE — the 8-int
  // signatures ride the band explode into the one banded self-join,
  // and the ~250-element sets move only for calibrated survivors).
  // Both engines carry the same floor, so parity is by construction,
  // not by corpus luck.
  def q31(spark: SparkSession, dir: String): DataFrame = {
    val docs = withNearCopies(tbl(spark, dir, "documents"))
      .withColumn("sh", hashedShingles(toks, 5))
      .filter(size(col("sh")) > 0)
    // shuffle-barriered: the band self-join and the shingle-set fetch
    // below each re-read this, and sibling branches of one job would
    // otherwise race to re-run the md5 digest pass 2-3x (measured:
    // 27 s -> ~10 s at sf0.1 when the barrier landed). A repartition
    // replaces a persist+count: the shuffle map stage runs
    // exactly once per job and every branch reads its output — same
    // guarantee, no extra action, no cache lifecycle (see
    // TextOps.jaccardPairs).
    val sig = docs.select(
      (col("doc_id") +: col("sh") +: minHash(col("sh"), 8)): _*)
      .repartition(col("doc_id"))
    // band join carries ids + the 8-int signatures (the m8 floor's
    // inputs, riding the explode) — the ~250-element shingle arrays
    // would otherwise be exploded 4x and shuffled with every band
    // row. calibratedLshCandidatePairs adds the hot-bucket cap
    // (default never binds on this corpus, so the DuckDB oracle —
    // which has no cap — still matches bit-for-bit) and the m8 floor
    // in the same join.
    val banded = sig.select(
      (col("doc_id") +: (0 until 8).map(i => col(s"mh$i"))) :+
        explode(lshBandKeys((0 until 8).map(i => col(s"mh$i")), 4, 2))
          .as("bk"): _*)
    val idPairs = TextOps.calibratedLshCandidatePairs(banded, M8Floor)
    val sets = sig.select(col("doc_id"), col("sh"))
    val pairs = idPairs
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
    pairs
      .withColumn("jac", TextOps.jaccard(col("sha"), col("shb")))
      .filter(col("jac") >= 0.5)
      .select(col("id_a"), col("id_b"),
        round(col("jac") * 10000).cast("long").as("jaccard_e4"))
  }

  /** The calibrated m8 pre-confirm floor (see q31's header and the
    * q127 audit that sets it).
    */
  private[graft] val M8Floor = 4

  private def mhSql(i: Int) =
    s"list_min(list_transform(sh, h -> (h * ${MinHashA(i)} + ${MinHashB(i)}) % $MinHashP))"

  /** Shared oracle CTE chain for the MinHash signature pipeline —
    * near-copy planting, shingle hashing, the 8 minhash columns
    * (`docs`/`sh`/`sig`) — and the 4-band key list. The FP- and
    * hash-critical core lives in exactly ONE place (the
    * exactRankedCte/pqAssignCte pattern) so q31 and its q127
    * calibration audit can never silently measure different
    * pipelines.
    */
  private val minhashSigCte: String =
    s"""docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, array_to_string(toks[1:len(toks)-3], ' ')
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM documents)
       |  WHERE doc_id % 7 = 0 AND len(toks) > 10
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 5 THEN []::BIGINT[]
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 3),
       |                i -> ${md5IntSql("array_to_string(toks[i:i+4], ' ')")} % $MinHashP))
       |         END AS sh
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM docs)
       |), sig AS (
       |  SELECT doc_id, sh,
       |    ${(0 until 8).map(i => s"${mhSql(i)} AS mh$i").mkString(",\n    ")}
       |  FROM sh WHERE len(sh) > 0
       |)""".stripMargin

  private val mhBandsSql: String = (0 until 4).map { b =>
    s"md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS b$b"
  }.mkString(",\n    ")

  val q31Sql: String = {
    val m8 = (0 until 8)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $minhashSigCte, banded AS (
       |  SELECT doc_id, sh,
       |    ${(0 until 8).map(i => s"mh$i").mkString(", ")},
       |    $mhBandsSql
       |  FROM sig
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(round(10000.0 * len(list_intersect(a.sh, b.sh)) /
       |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 0) AS BIGINT)
       |    AS jaccard_e4
       |FROM banded a JOIN banded b
       |  ON a.doc_id < b.doc_id
       | AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
       | AND $m8 >= $M8Floor
       |WHERE 1.0 * len(list_intersect(a.sh, b.sh)) /
       |  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q32: 16-bit SimHash signatures ----
  // Staged: the token md5 pass lands in a named column evaluated once
  // per row; the 16 bit-vote aggregates then scan the small int array.
  def q32(spark: SparkSession, dir: String): DataFrame = {
    tbl(spark, dir, "documents")
      .select(col("doc_id"), tokenHashes16(toks).as("__tv"))
      .select(col("doc_id"),
        simHash16FromHashes(col("__tv")).cast("int").as("simhash"))
  }

  val q32Sql: String = {
    val nib = (p: Int) =>
      s"(strpos('0123456789abcdef', substr(md5(tok), $p, 1)) - 1)"
    val bits = (0 until 16).map { j =>
      s"CASE WHEN sum(CASE WHEN (tv >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1 << j} ELSE 0 END"
    }.mkString(" +\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents
       |), v AS (
       |  SELECT doc_id,
       |    ${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS tv
       |  FROM t
       |)
       |SELECT doc_id, CAST($bits AS INT) AS simhash
       |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- q49: 64-bit SimHash (production width, 4 x 16-bit limbs) ----
  // Closes the "16-bit for oracle tractability" caveat on q32: the
  // production signature is 64 bits, built from four independent
  // salted 16-bit limbs and emitted as 16 hex chars (limb 3 high) —
  // composed identically in both engines, so the full width is
  // hash-checked.
  def q49(spark: SparkSession, dir: String): DataFrame = {
    TextOps.withSimHash64(
      tbl(spark, dir, "documents").select(col("doc_id"), col("text")),
      col("text"), "simhash64")
      .select(col("doc_id"), col("simhash64"))
  }

  val q49Sql: String = {
    def nib(e: String, p: Int) =
      s"(strpos('0123456789abcdef', substr(md5($e), $p, 1)) - 1)"
    def tv(j: Int) = {
      val e = s"'sh$j:' || tok"
      s"${nib(e, 1)} * 4096 + ${nib(e, 2)} * 256 + ${nib(e, 3)} * 16 + ${nib(e, 4)}"
    }
    def limb(j: Int) = (0 until 16).map { b =>
      s"CASE WHEN sum(CASE WHEN (tv$j >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1 << b} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents
       |), v AS (
       |  SELECT doc_id, ${tv(0)} AS tv0, ${tv(1)} AS tv1,
       |    ${tv(2)} AS tv2, ${tv(3)} AS tv3
       |  FROM t
       |), s AS (
       |  SELECT doc_id, ${limb(0)} AS l0, ${limb(1)} AS l1,
       |    ${limb(2)} AS l2, ${limb(3)} AS l3
       |  FROM v GROUP BY doc_id
       |)
       |SELECT doc_id, printf('%04x%04x%04x%04x', l3, l2, l1, l0) AS simhash64
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // ---- q33: n-gram-Jaccard near-dup via inverted shingle index ----
  def q33(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(withNearCopies(tbl(spark, dir, "documents")), 0.5)

  /** Shared oracle CTE chain producing the inverted-index candidate
    * pairs (used by q33 and the q47 cluster resolution on top of it).
    */
  private val nearPairsCte: String =
    s"""docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, array_to_string(toks[1:len(toks)-3], ' ')
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      |        FROM documents)
      |  WHERE doc_id % 7 = 0 AND len(toks) > 10
      |), sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 5 THEN []::BIGINT[]
      |         ELSE list_distinct(list_transform(range(1, len(toks) - 3),
      |                i -> ${md5IntSql("array_to_string(toks[i:i+4], ' ')")} % $MinHashP))
      |         END AS sh
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      |        FROM docs)
      |), inv AS (
      |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
      |  FROM sh
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
      |    count(*) AS common
      |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4
      |)""".stripMargin

  val q33Sql: String =
    s"""WITH $nearPairsCte
      |SELECT id_a, id_b, common,
      |  CAST(round(10000.0 * common / (na + nb - common), 0) AS BIGINT) AS jaccard_e4
      |FROM pairs
      |WHERE 1.0 * common / (na + nb - common) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // ---- q34: language-ID heuristic — confusion matrix vs labels ----
  // Uses the STAGED form (flat per-language hit columns): the scalar
  // languageId expression re-evaluates the token scans; staged, each
  // profile scan runs exactly once per row (16.2 s -> sub-second at
  // sf0.1).
  def q34(spark: SparkSession, dir: String): DataFrame =
    TextOps.withLanguageId(
      tbl(spark, dir, "documents").select(col("lang"), col("text")),
      col("text"), "predicted")
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  /** SQL projection list of per-language profile-hit counts over a
    * `toks` column (shared by the q34 and q61 oracles).
    */
  private val langHitsSql: String = langProfiles.map { case (lang, ws) =>
    s"len(list_filter(toks, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS ${lang}_hits"
  }.mkString(",\n    ")

  /** SQL CASE computing the predicted language from the hit columns —
    * first max in lexicographic lang order (matches
    * TextOps.languageId).
    */
  private val langPredCaseSql: String = {
    val langs = langProfiles.map(_._1)
    val pred = langs.map { l =>
      val later = langs.filter(_ > l)
      val geLater =
        if (later.isEmpty) "TRUE"
        else later.map(o => s"${l}_hits >= ${o}_hits").mkString(" AND ")
      val gtEarlier = langs.filter(_ < l).map(o => s"${l}_hits > ${o}_hits")
      val cond = (Seq(geLater) ++ Seq(
        if (gtEarlier.isEmpty) "TRUE" else gtEarlier.mkString(" AND ")))
        .mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("\n      ")
    s"""CASE WHEN greatest(${langs.map(_ + "_hits").mkString(",")}) = 0 THEN 'und'
       |      $pred
       |      END""".stripMargin
  }

  val q34Sql: String =
    s"""WITH s AS (
       |  SELECT lang,
       |    $langHitsSql
       |  FROM (SELECT lang, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM documents)
       |), p AS (
       |  SELECT lang,
       |    $langPredCaseSql AS predicted
       |  FROM s
       |)
       |SELECT lang, predicted, count(*) AS n
       |FROM p GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin

  // ---- q35: quality scoring (length / token / stopword metrics) ----
  def q35(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val stopHits = langHits(toks, langProfiles.toMap.apply("en")).cast("long")
    tbl(spark, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nTok.as("n_tokens"),
        floor(sumLen * 100 / nTok).cast("long").as("avg_tok_len_e2"),
        floor(stopHits * 10000 / nTok).cast("long").as("stop_ratio_e4"),
        qualityE4Col.as("quality_e4"))
  }

  val q35Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, length(text) AS n_chars,
      |    string_split_regex(lower(trim(text)), '\\s+') AS toks
      |  FROM documents
      |), m AS (
      |  SELECT doc_id, n_chars,
      |    len(toks) AS n_tokens,
      |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
      |    len(list_filter(toks, t -> t IN ('the','a','of','and','is','to','in'))) AS stop_hits
      |  FROM t
      |)
      |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  sum_len * 100 // n_tokens AS avg_tok_len_e2,
      |  stop_hits * 10000 // n_tokens AS stop_ratio_e4,
      |  $qualityE4Sql AS quality_e4
      |FROM m ORDER BY doc_id""".stripMargin

  // ---- q36: token counting (whitespace + BPE-ish regex) ----
  def q36(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("ws_tokens"),
        size(expr(
          "regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\\\s]', 0)"))
          .cast("long").as("bpe_tokens"))

  val q36Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q37: document fingerprint (min rolling char-8-gram hash) ----
  def q37(spark: SparkSession, dir: String): DataFrame = {
    // native single-pass scalar (see [[graft.functions.CharGramStats]]):
    // the composed HOF form re-scanned the string per substr and
    // evaluated the gram array per output column — 8.6 s at sf0.1
    // under as-declared timing; this is one codegen'd call per row
    tbl(spark, dir, "documents")
      .select(col("doc_id"),
        call_function("char_gram_stats", col("text"), lit(8)).as("s"))
      .select(
        col("doc_id"),
        col("s.fingerprint").as("fingerprint"),
        col("s.n_distinct").as("n_distinct_8grams"))
  }

  val q37Sql: String =
    """SELECT doc_id,
      |  list_min(list_transform(range(1, length(text) - 6),
      |    i -> md5(substr(text, i, 8)))) AS fingerprint,
      |  CAST(len(list_distinct(list_transform(range(1, length(text) - 6),
      |    i -> md5(substr(text, i, 8))))) AS BIGINT) AS n_distinct_8grams
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q38: TF-IDF (completes tokenize/n-gram/TF-IDF, §2.11) ----
  // tf = occurrences/doc_len, idf = ln(N/df); scores for the first 20
  // docs, rounded e6. ln is libm on both engines -> identical doubles.
  def q38(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    val tok = docs
      .select(col("doc_id"), size(toks).as("doc_len"),
        explode(toks).as("term"))
    // The scored slice (doc_id < 20) is tiny, but idf needs the
    // corpus-wide document frequency — so tf and df deliberately read
    // tok at DIFFERENT widths: tf's filter pushes down to the parquet
    // scan (explodes ~20 docs), while df runs one full-corpus
    // count_distinct (two-phase: map-side partial distinct on
    // (term, doc_id), then one shuffle of the survivors). No persist,
    // no eager barrier, one job — caching the full-corpus tf table
    // would only feed an aggregate straight down to df.
    val tf = tok.filter(col("doc_id") < 20)
      .groupBy(col("doc_id"), col("doc_len"), col("term"))
      .agg(count(lit(1)).as("occ"))
    val df_ = tok.groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"))
    // corpus size as a broadcast 1-row scalar aggregate — folded into
    // the plan (one job), no driver-side count round-trip
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // broadcast the ~20-doc tf side; df_ (full vocabulary) streams
    broadcast(tf).join(df_, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("occ").cast("long").as("occ"),
        col("df").cast("long").as("df"),
        round((col("occ") / col("doc_len")) *
          log(col("n_docs") / col("df")) * 1e6).cast("long")
          .as("tfidf_e6"))
  }

  val q38Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, len(toks) AS doc_len, unnest(toks) AS term
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |        FROM documents)
      |), tf AS (
      |  SELECT doc_id, doc_len, term, count(*) AS occ
      |  FROM tok GROUP BY 1, 2, 3
      |), df AS (
      |  SELECT term, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1
      |), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
      |SELECT doc_id, term, occ, df,
      |  CAST(round((1.0 * occ / doc_len) * ln(n.n / df) * 1000000, 0) AS BIGINT)
      |    AS tfidf_e6
      |FROM tf JOIN df USING (term), n
      |WHERE doc_id < 20
      |ORDER BY doc_id, term""".stripMargin

  // ---- q46: deterministic train/valid/test split (hash-mod) ----
  // The standard leakage-safe corpus split: bucket = salted content-id
  // hash mod 100, 80/10/10. Pure column arithmetic, reshuffles nothing
  // — at 100 TB the split is a free projection on every scan.
  def q46(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id"), splitBucket(spark).as("bucket"),
        splitLabel(spark).as("split"))

  val q46Sql: String =
    s"""SELECT doc_id,
      |  CAST($splitBucketSql AS BIGINT) AS bucket,
      |  $splitCaseSql AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q47: near-dup cluster resolution (connected components) ----
  // Turns the q33 pair list into the actual dedup decision: every doc
  // in the near-dup graph labeled with its component's minimum id
  // (keep keeper == doc_id, drop the rest). Spark: min-label
  // propagation, O(diameter) join rounds; oracle: recursive CTE
  // reachability fixpoint.
  def q47(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(jaccardPairs(withNearCopies(tbl(spark, dir, "documents")), 0.5))
      .select(col("id").as("doc_id"), col("label").as("keeper"))

  val q47Sql: String =
    s"""WITH RECURSIVE $nearPairsCte,
      |good AS (
      |  SELECT id_a, id_b FROM pairs
      |  WHERE 1.0 * common / (na + nb - common) >= 0.5
      |), nodes AS (
      |  SELECT DISTINCT id
      |  FROM (SELECT id_a AS id FROM good UNION ALL SELECT id_b FROM good)
      |), edges AS (
      |  SELECT id_a AS a, id_b AS b FROM good
      |  UNION ALL
      |  SELECT id_b, id_a FROM good
      |), reach(n, m) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
      |)
      |SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS keeper
      |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin

  // ---- q127: MinHash estimator calibration audit ----
  // The audit behind q31's two-stage design: the k=8 signature's
  // match fraction m8/8 IS an estimator of Jaccard (E[m8/8] = J),
  // but at k=8 it quantizes to ninths — so this query measures, for
  // every LSH candidate pair, the exact shingle Jaccard grouped by
  // m8, yielding the calibration table (n_pairs, mean/min/max exact
  // e4 per matching-component count; at most 7 rows — a candidate
  // pair exists only via a fully-matching 2-row band, so m8 >= 2
  // structurally). What it shows on this
  // corpus: the estimate is monotone in truth on average but the
  // per-bucket min/max spread is wide — which is WHY q31 must
  // confirm with exact Jaccard instead of thresholding the signature
  // (the q105/q123/q126 pattern: measure the approximation before
  // trusting it; here the measurement justifies the confirm stage's
  // existence). All integer outputs; the mean is a truncating DIV.
  //
  // 100 TB posture: identical to q31's — banded candidate pairs
  // (hot-bucket-capped, never all-pairs), per-pair arithmetic, then
  // a 9-row aggregate with map-side partials.
  def q127(spark: SparkSession, dir: String): DataFrame = {
    val docs = withNearCopies(tbl(spark, dir, "documents"))
      .withColumn("sh", hashedShingles(toks, 5))
      .filter(size(col("sh")) > 0)
    val sig = docs.select(
      (col("doc_id") +: col("sh") +: minHash(col("sh"), 8)): _*)
      .repartition(col("doc_id")) // the q31 barrier: both joins below re-read this
    val banded = sig.select(col("doc_id"),
      explode(lshBandKeys((0 until 8).map(i => col(s"mh$i")), 4, 2)).as("bk"))
    val idPairs = TextOps.lshCandidatePairs(banded)
    def side(p: String) = sig.select(
      (col("doc_id").as(s"id_$p") +: col("sh").as(s"sh$p") +:
        (0 until 8).map(i => col(s"mh$i").as(s"${p}m$i"))): _*)
    val m8 = (0 until 8)
      .map(i => (col(s"am$i") === col(s"bm$i")).cast("long")).reduce(_ + _)
    // multiply-BEFORE-divide, the TextOps.jaccardPairs fold: one FP
    // rounding, matching the oracle's `10000.0 * common / d` exactly
    // — the divide-then-scale form is 1-ulp-divergent in principle,
    // and unlike q31 this audit aggregates min/max over EVERY
    // candidate pair, so a single flipped pair reds the gate
    val common = size(array_intersect(col("sha"), col("shb")))
      .cast("double")
    val jacE4 = round(common * 10000 /
      (size(col("sha")) + size(col("shb")) - common)).cast("long")
    idPairs.join(side("a"), "id_a").join(side("b"), "id_b")
      .select(m8.as("m8"), jacE4.as("jac_e4"))
      .groupBy(col("m8"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("jac_e4")).as("sj"),
        min(col("jac_e4")).as("min_jac_e4"),
        max(col("jac_e4")).as("max_jac_e4"))
      .select(col("m8"), col("n_pairs"),
        expr("sj DIV n_pairs").as("mean_jac_e4"),
        col("min_jac_e4"), col("max_jac_e4"))
  }

  val q127Sql: String = {
    val m8 = (0 until 8)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $minhashSigCte, banded AS (
       |  SELECT doc_id, sh,
       |    ${(0 until 8).map(i => s"mh$i").mkString(", ")},
       |    $mhBandsSql
       |  FROM sig
       |), cand AS (
       |  SELECT CAST($m8 AS BIGINT) AS m8,
       |    CAST(round(10000.0 * len(list_intersect(a.sh, b.sh)) /
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 0) AS BIGINT)
       |      AS jac_e4
       |  FROM banded a JOIN banded b
       |    ON a.doc_id < b.doc_id
       |   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
       |)
       |SELECT m8, count(*) AS n_pairs,
       |  CAST(sum(jac_e4) // count(*) AS BIGINT) AS mean_jac_e4,
       |  min(jac_e4) AS min_jac_e4, max(jac_e4) AS max_jac_e4
       |FROM cand GROUP BY m8 ORDER BY m8""".stripMargin
  }

  // ---- q125: packing-efficiency audit over q58's bins ----
  // The numbers a pretraining batch-prep pipeline actually tracks
  // about its packing, computed from q58's assignment: per split,
  // the bin count and utilization (concatenate-and-cut wastes only
  // the final partial bin, so util ~= 1 — the audit PROVES that
  // instead of assuming it), and the straddle statistics that price
  // the attention-masking complexity this packing style trades for
  // its utilization: how many docs cross a bin boundary, what
  // fraction that is, and the widest span any single doc covers
  // (a doc longer than the budget spans >= 2 bins NO MATTER the
  // packer — the max_span row is what tells you truncation policy
  // is needed, not a better packer). All integer (e6 fractions,
  // truncating DIV in both engines).
  //
  // 100 TB posture: q58's one window shuffle is the cost driver; the
  // audit itself is a 3-row aggregate with map-side partials.
  def q125(spark: SparkSession, dir: String): DataFrame =
    q58(spark, dir)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("bin_offset") + col("n_tokens") > 2048L, 1L)
          .otherwise(0L)).as("n_straddle"),
        max(expr("(bin_offset + n_tokens + 2047) DIV 2048")).as("max_span"))
      .select(col("split"), col("n_docs"), col("total_tokens"),
        expr("(total_tokens + 2047) DIV 2048").as("n_bins"),
        // nullif: an all-empty-text split packs 0 tokens into 0 bins;
        // ANSI DIV 0 throws, so the divisor must NULL out instead
        expr("total_tokens * 1000000 DIV nullif(((total_tokens + 2047) DIV 2048) * 2048, 0)")
          .as("util_e6"),
        col("n_straddle"),
        expr("n_straddle * 1000000 DIV n_docs").as("straddle_e6"),
        col("max_span"))

  val q125Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    $splitCaseSql AS split,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, split, n_tokens,
       |    COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      AS cum_before
       |  FROM d
       |), p AS (
       |  SELECT doc_id, split, n_tokens,
       |    cum_before % 2048 AS bin_offset
       |  FROM c
       |), a AS (
       |  SELECT split, count(*) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(sum(CASE WHEN bin_offset + n_tokens > 2048 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_straddle,
       |    CAST(max((bin_offset + n_tokens + 2047) // 2048) AS BIGINT) AS max_span
       |  FROM p GROUP BY split
       |)
       |SELECT split, n_docs, total_tokens,
       |  CAST((total_tokens + 2047) // 2048 AS BIGINT) AS n_bins,
       |  CAST(total_tokens * 1000000 // nullif(((total_tokens + 2047) // 2048) * 2048, 0)
       |    AS BIGINT) AS util_e6,
       |  n_straddle,
       |  CAST(n_straddle * 1000000 // n_docs AS BIGINT) AS straddle_e6,
       |  max_span
       |FROM a ORDER BY split""".stripMargin

  // ---- q124: cluster-aware leakage-safe split ----
  // The gap q46's per-doc hash split leaves open: near-duplicates
  // hash INDEPENDENTLY, so a train doc's near-copy lands in test with
  // probability 20% — the classic eval-leakage path, and exactly what
  // the planted twin fixture exhibits (doc d and d+1000000 get
  // unrelated buckets). The production fix: split on the CLUSTER, not
  // the doc — every member inherits its q47 component keeper's salted
  // bucket, so a whole near-dup group moves as one unit and can never
  // straddle a split boundary. Singleton docs keep themselves as
  // keeper, which makes this split AGREE with q46 wherever no
  // near-dup exists: migrating only re-buckets duplicate groups.
  //
  // 100 TB posture: the cost is q47's (measured decades — pair
  // generation + O(log n) CC rounds); on top of it one narrow
  // (id, label) left join and a map-only salted-hash projection. The
  // same one-definition salt family as q46/q58/q61 — the leakage
  // story still depends on every query cutting at the same boundary.
  def q124(spark: SparkSession, dir: String): DataFrame = {
    val docs = withNearCopies(tbl(spark, dir, "documents"))
    val clusters = graft.text.TextOps.dedupClusters(
      graft.text.TextOps.jaccardPairs(docs, 0.5))
    docs.select(col("doc_id"))
      .join(clusters, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("keeper"))
      .withColumn("bucket",
        call_function("md5_long60",
          concat(lit("split:"), col("keeper").cast("string"))) % 100)
      .select(col("doc_id"), col("keeper"), col("bucket"),
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "valid")
          .otherwise("test").as("split"))
  }

  val q124Sql: String = {
    val kb = s"${md5IntSql("'split:' || CAST(keeper AS VARCHAR)")} % 100"
    s"""WITH RECURSIVE $nearPairsCte,
      |good AS (
      |  SELECT id_a, id_b FROM pairs
      |  WHERE 1.0 * common / (na + nb - common) >= 0.5
      |), nodes AS (
      |  SELECT DISTINCT id
      |  FROM (SELECT id_a AS id FROM good UNION ALL SELECT id_b FROM good)
      |), edges AS (
      |  SELECT id_a AS a, id_b AS b FROM good
      |  UNION ALL
      |  SELECT id_b, id_a FROM good
      |), reach(n, m) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
      |), cl AS (
      |  SELECT n AS id, min(m) AS label FROM reach GROUP BY n
      |), k AS (
      |  SELECT d.doc_id, coalesce(c.label, d.doc_id) AS keeper
      |  FROM docs d LEFT JOIN cl c ON c.id = d.doc_id
      |)
      |SELECT doc_id, CAST(keeper AS BIGINT) AS keeper,
      |  CAST($kb AS BIGINT) AS bucket,
      |  CASE WHEN $kb < 80 THEN 'train'
      |       WHEN $kb < 90 THEN 'valid'
      |       ELSE 'test' END AS split
      |FROM k ORDER BY doc_id""".stripMargin
  }

  // ---- q56: vocabulary build (top-k terms by collection frequency) ----
  // The tokenizer-training precursor: corpus-wide term counts with
  // document frequency, top 100 by (tf desc, term asc) — a total
  // order, so the cut is deterministic in both engines. Scale shape:
  // explode -> two-phase hash aggregate (map-side partial combine
  // collapses each partition's term stream before the single shuffle
  // on term; df rides the same aggregate as a partial count-distinct
  // over doc_id) -> TakeOrderedAndProject, so the driver receives 100
  // rows, never the vocabulary. At 100 TB the only wide exchange is
  // the combined (term, partial-tf, partial-doc-set) table — the
  // standard vocab-build plan.
  def q56(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"),
        count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(100)

  val q56Sql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents
      |)
      |SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM t GROUP BY term
      |ORDER BY tf DESC, term LIMIT 100""".stripMargin

  // ---- q57: deterministic stratified sampling (data mixing) ----
  // The corpus-mixing primitive: per-language keep rates (en 80%,
  // de/fr/es 50%, zh 25%) applied via a salted content-id hash, so
  // membership is a pure projection + filter — reproducible across
  // runs/engines, leakage-safe (same salt family as q46's split, a
  // different salt string), and at 100 TB a zero-shuffle scan whose
  // filter cuts I/O before any downstream op. Emits the bucket so
  // the oracle checks the hash arithmetic, not just the decision.
  def q57(spark: SparkSession, dir: String): DataFrame = {
    val bucket = (call_function("md5_long60",
      concat(lit("mix:"), col("doc_id").cast("string"))) % 10000)
    val rate = when(col("lang") === "en", 8000L)
      .when(col("lang").isin("de", "fr", "es"), 5000L)
      .otherwise(2500L)
    tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), bucket.as("bucket"),
        rate.as("rate_e4"))
      .filter(col("bucket") < col("rate_e4"))
  }

  val q57Sql: String = {
    val b = md5IntSql("'mix:' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, lang, CAST($b % 10000 AS BIGINT) AS bucket,
       |  CAST(CASE WHEN lang = 'en' THEN 8000
       |            WHEN lang IN ('de','fr','es') THEN 5000
       |            ELSE 2500 END AS BIGINT) AS rate_e4
       |FROM documents
       |WHERE $b % 10000 < CASE WHEN lang = 'en' THEN 8000
       |                        WHEN lang IN ('de','fr','es') THEN 5000
       |                        ELSE 2500 END
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q58: sequence packing (concatenate-and-cut, budget 2048) ----
  // The pretraining batch-prep step: within each train/valid/test
  // split (q46's hash split), documents are concatenated in doc_id
  // order and cut every 2048 BPE tokens (q36's regex tokenizer);
  // each doc reports the context-window bin of its first token and
  // the offset inside it. Docs straddle bins by design — that is how
  // GPT-style pretraining packs. Scale shape: ONE shuffle
  // (repartition by split for the window), then a running-sum window
  // per split; the 3-partition skew of a split-keyed window at 100 TB
  // is real, so production would key the window by (split, shard)
  // with shard = bucket-hash — noted here, omitted so the oracle
  // stays a 3-partition window both engines compute identically.
  def q58(spark: SparkSession, dir: String): DataFrame = {
    val split = splitLabel(spark)
    val nTok = size(expr(
      "regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\\\s]', 0)"))
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("split")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    tbl(spark, dir, "documents")
      .select(col("doc_id"), split.as("split"), nTok.as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("split"), col("n_tokens"),
        expr("cum_before DIV 2048").as("bin"),
        (col("cum_before") % 2048).as("bin_offset"))
  }

  val q58Sql: String = {
    s"""WITH d AS (
       |  SELECT doc_id,
       |    $splitCaseSql AS split,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, split, n_tokens,
       |    COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      AS cum_before
       |  FROM d
       |)
       |SELECT doc_id, split, n_tokens,
       |  cum_before // 2048 AS bin, cum_before % 2048 AS bin_offset
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ---- q61: end-to-end corpus curation (the composed pipeline) ----
  // What a training-data user actually runs: language-ID + quality
  // score + exact-dedup keeper + train/valid/test split in ONE query,
  // emitting a keep/drop decision with the first failing rule as the
  // reason (priority: dup > lang > quality — the cheap-to-recheck
  // rules first, matching how curation pipelines report drops).
  // Planted exact copies (q30's fixture) make the dup branch provably
  // fire. Scale shape: language/quality/split are projections on the
  // scan; the ONLY wide work is exact-dedup's digest shuffle (groupBy
  // md5 + join back on the 16-byte digest, never raw text) — i.e. the
  // composition adds nothing beyond its most expensive member.
  def q61(spark: SparkSession, dir: String): DataFrame =
    curate(withExactCopies(tbl(spark, dir, "documents")))

  /** The curation decision applied to any (doc_id, text) frame — the
    * q61 logic factored out so the streaming drop-folder ingest
    * ([[graft.streaming.Ingest]]) runs the IDENTICAL rules per
    * micro-batch. Dedup scope is the input frame: q61 passes the whole
    * corpus; a micro-batch caller gets within-batch dedup, with
    * cross-batch dedup provided by the ingest's digest probe against
    * the accumulated table. `keepDigest` additionally exposes the
    * already-computed text md5 as `text_md5` (the probe's key —
    * recomputing it downstream would be a second full pass over the
    * text, and re-deriving it via a doc_id join would silently
    * cross-product on duplicate ids).
    */
  def curate(docs: DataFrame, keepDigest: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    val keepers = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"))
    val base = Seq(col("doc_id"), col("lang_pred"), col("quality_e4"),
      col("keeper"), col("split"), col("reason"),
      col("reason").isNull.as("keep"))
    TextOps.withLanguageId(docs, col("text"), "lang_pred")
      .withColumn("quality_e4", qualityE4Col)
      .withColumn("h", md5(col("text")))
      .join(keepers, "h")
      .withColumn("split", splitLabel(spark))
      .withColumn("reason",
        when(col("doc_id") =!= col("keeper"), "dup")
          .when(col("lang_pred") === "und", "lang")
          .when(col("quality_e4") < 5000, "quality"))
      .select(base ++
        (if (keepDigest) Seq(col("h").as("text_md5")) else Nil): _*)
  }

  val q61Sql: String = {
    s"""WITH docs AS (
       |  $exactCopiesSql
       |), t AS (
       |  SELECT doc_id, text,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM docs
       |), p AS (
       |  SELECT doc_id, lang_pred, quality_e4 FROM (
       |    SELECT doc_id,
       |      $langPredCaseSql AS lang_pred,
       |      $qualityE4Sql AS quality_e4
       |    FROM (SELECT doc_id,
       |            $langHitsSql,
       |            CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
       |              AS sum_len,
       |            len(toks) AS n_tokens,
       |            len(list_filter(toks,
       |              t -> t IN ('the','a','of','and','is','to','in')))
       |              AS stop_hits
       |          FROM t))
       |), k AS (
       |  SELECT md5(text) AS h, min(doc_id) AS keeper
       |  FROM docs GROUP BY text
       |), j AS (
       |  SELECT d.doc_id, p.lang_pred, p.quality_e4, k.keeper,
       |    $splitCaseSql AS split,
       |    CASE WHEN d.doc_id != k.keeper THEN 'dup'
       |         WHEN p.lang_pred = 'und' THEN 'lang'
       |         WHEN p.quality_e4 < 5000 THEN 'quality' END AS reason
       |  FROM docs d
       |  JOIN p USING (doc_id)
       |  JOIN k ON md5(d.text) = k.h
       |)
       |SELECT doc_id, lang_pred, quality_e4, keeper, split, reason,
       |  reason IS NULL AS keep
       |FROM j ORDER BY doc_id""".stripMargin
  }

  // ---- q63: benchmark decontamination (n-gram overlap probe) ----
  // The benchmark set = every 50th document (an eval suite is a fixed
  // small table in production); contaminated training docs are
  // PLANTED by appending benchmark doc 0's first 12 tokens to every
  // doc_id % 40 == 1 document (at id + 2000000) — 12 tokens = 8
  // shared 5-gram shingles, safely above the overlap threshold, so
  // the detector provably fires alongside any organic overlaps.
  // Asymmetric by design: thresholds the absolute shared-shingle
  // count (a leaked benchmark item inside a long page must flag),
  // not a Jaccard ratio. Scale shape: corpus side rides its scan,
  // benchmark index broadcast, one count aggregate
  // (TextOps.contaminationPairs).
  def q63(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select("doc_id", "text")
    val excerpt = docs.filter(col("doc_id") === 0)
      .select(concat_ws(" ",
        slice(TextOps.tokens(col("text")), 1, 12)).as("excerpt"))
    val planted = docs.filter(col("doc_id") % 40 === 1)
      .crossJoin(broadcast(excerpt))
      .select(Fixtures.plantedId(col("doc_id"), 2000000L).as("doc_id"),
        concat(col("text"), lit(" "), col("excerpt")).as("text"))
    TextOps.contaminationPairs(docs.unionByName(planted),
        isBench = col("doc_id") % 50 === 0, minOverlap = 5L)
  }

  val q63Sql: String = {
    s"""WITH excerpt AS (
       |  SELECT array_to_string(
       |    (string_split_regex(lower(trim(text)), '\\s+'))[1:12], ' ') AS ex
       |  FROM documents WHERE doc_id = 0
       |), docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000, text || ' ' || (SELECT ex FROM excerpt)
       |  FROM documents WHERE doc_id % 40 = 1
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 5 THEN []::BIGINT[]
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 3),
       |                i -> ${md5IntSql("array_to_string(toks[i:i+4], ' ')")} % ${TextOps.MinHashP}))
       |         END AS sh
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM docs)
       |), inv AS (
       |  SELECT doc_id, unnest(sh) AS s FROM sh
       |)
       |SELECT a.doc_id, b.doc_id AS bench_id,
       |  CAST(count(*) AS BIGINT) AS overlap
       |FROM (SELECT * FROM inv WHERE doc_id % 50 <> 0) a
       |JOIN (SELECT * FROM inv WHERE doc_id % 50 = 0) b USING (s)
       |GROUP BY 1, 2 HAVING count(*) >= 5
       |ORDER BY a.doc_id, bench_id""".stripMargin
  }

  // ---- q64: repetition-based quality (Gopher-style rules) ----
  // The repetition signals the Gopher/MassiveText filters threshold:
  // per document, the fraction of 2-gram OCCURRENCES held by the
  // single most frequent 2-gram (top_frac) and the fraction belonging
  // to any repeated 2-gram (dup_frac), both as exact e4 integers
  // (integer `div`, so the cross-engine compare is exact — no double
  // division anywhere). Documents with fewer than two tokens have no
  // 2-grams and drop out, matching the oracle's length guard.
  //
  // Scale shape: MAP-ONLY. The metric is strictly per-document, so no
  // row ever needs another row's grams — the native `rep_stats2`
  // expression ([[graft.functions.RepStats2]]) counts each row's
  // adjacent 2-grams in one codegen'd pass and ZERO shuffle; the
  // query has no exchange at all. Two earlier formulations were
  // measurably wrong: explode -> groupBy(doc_id, gram) shuffled the
  // corpus's entire token stream to answer a question each row can
  // answer about itself, and the sort-grams-then-fold-runs HOF kept
  // the map-only shape but paid interpreted lambda dispatch + a fresh
  // struct per element per row (both ~3.1 s at sf0.1; the native
  // expression is sub-second).
  def q64(spark: SparkSession, dir: String): DataFrame = {
    tbl(spark, dir, "documents")
      // the length guard runs on the cheap token count BEFORE the
      // stats projection — a filter on st.n_2grams would be pushed
      // through the Project by substitution and evaluate rep_stats2
      // twice per row
      .filter(size(toks) >= 2)
      .select(col("doc_id"), call_function("rep_stats2", toks).as("st"))
      .select(col("doc_id"), col("st.n_2grams").as("n_2grams"),
        col("st.top_c").as("top_c"), col("st.dup_c").as("dup_c"))
      .select(col("doc_id"), col("n_2grams"),
        expr("top_c * 10000 div n_2grams").as("top_frac_e4"),
        expr("dup_c * 10000 div n_2grams").as("dup_frac_e4"))
      .withColumn("keep",
        col("top_frac_e4") <= 2000 && col("dup_frac_e4") <= 6000)
  }

  val q64Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> array_to_string(toks[i:i+1], ' '))) AS g
       |  FROM t WHERE len(toks) >= 2
       |), c AS (
       |  SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2
       |), d AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
       |    CAST(max(c) AS BIGINT) AS top_c,
       |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_c
       |  FROM c GROUP BY 1
       |)
       |SELECT doc_id, n_2grams,
       |  top_c * 10000 // n_2grams AS top_frac_e4,
       |  dup_c * 10000 // n_2grams AS dup_frac_e4,
       |  top_c * 10000 // n_2grams <= 2000 AND
       |    dup_c * 10000 // n_2grams <= 6000 AS keep
       |FROM d ORDER BY doc_id""".stripMargin

  // ---- q65: domain-mixture weights (the planning half of q57) ----
  // Per-source token inventory -> the per-source sampling weight that
  // re-balances the corpus to a UNIFORM target mixture:
  // weight = target_share / actual_share = tot_tokens /
  // (n_sources * n_tokens), emitted as an exact e6 integer (`div`).
  // q57 consumes weights like these as its per-stratum rates. Scale
  // shape: one two-phase aggregate down to a handful of source rows,
  // plus a scalar total broadcast back — the fact table is scanned
  // once and never shuffled beyond the map-side-combined aggregate.
  def q65(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val perSrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("tot_tokens * 1000000 div (n_sources * n_tokens)")
          .as("weight_e6"))
  }

  val q65Sql: String =
    s"""WITH t AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
       |      AS n_tokens
       |  FROM documents GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
       |    count(*) AS n_sources
       |  FROM t
       |)
       |SELECT source, n_docs, n_tokens,
       |  tot_tokens * 1000000 // (n_sources * n_tokens) AS weight_e6
       |FROM t, tot ORDER BY source""".stripMargin

  // ---- q66: token-id encoding (tokenize-to-ids against a vocab) ----
  // The encode step between vocabulary build (q56) and sequence
  // packing (q58): every document becomes its ordered array of vocab
  // ids — rank 1..K by (frequency DESC, token ASC), OOV -> 0. Scale
  // shape: the vocab is a TOP-K (TakeOrdered, never a full vocabulary
  // sort — q56's rule) built once and BROADCAST, so the encode itself
  // is: posexplode -> map-side hash join -> per-doc sort_array
  // re-assembly keyed by doc_id; raw text never shuffles, only
  // (doc_id, pos, id) triples. The tiny 100-row rank window runs on
  // the limited dim, not the corpus. Output serializes the id array
  // as a comma-joined string: downstream consumers (q58 packing)
  // take the array form, but a registered query's result schema is
  // scalars-only (driver-harness contract — see EntrySpec's guard).
  def q66(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok"))
    val docs = tbl(spark, dir, "documents")
    val tokTable = docs.select(col("doc_id"),
      posexplode(toks).as(Seq("pos", "tok")))
    val vocab = tokTable.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(100)
      .select(col("tok"), row_number().over(w).cast("long").as("id"))
    tokTable.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(col("pos"), coalesce(col("id"), lit(0L)).as("id")))).as("ps"))
      .select(col("doc_id"),
        concat_ws(",",
          transform(col("ps"), s => s.getField("id").cast("string")))
          .as("token_ids"),
        size(col("ps")).cast("long").as("n_tokens"))
  }

  val q66Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, i AS pos, toks[i] AS tok
       |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       |), v AS (
       |  SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS id
       |  FROM (SELECT tok, count(*) AS c FROM p GROUP BY 1
       |        ORDER BY c DESC, tok LIMIT 100)
       |)
       |SELECT doc_id,
       |  string_agg(CAST(coalesce(v.id, 0) AS VARCHAR), ',' ORDER BY pos)
       |    AS token_ids,
       |  CAST(count(*) AS BIGINT) AS n_tokens
       |FROM p LEFT JOIN v USING (tok)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- q68: deterministic per-stratum top-k sample ----
  // "k docs per language, reproducibly": rank = salted md5 of the
  // doc id, top-k per stratum via the native bounded `topk_by_score`
  // aggregate — a map-side k-slot buffer per stratum, so the exchange
  // carries at most k rows per (task, stratum) where a row_number
  // window would shuffle the whole corpus (the q40 lesson applied to
  // sampling). Seedless-deterministic like q57's stratified sampler,
  // but with an exact per-stratum COUNT guarantee instead of a rate —
  // the form quota-based data mixing needs. Distinct salt from
  // q46/q57: sample, split, and mix decisions stay independent.
  def q68(spark: SparkSession, dir: String): DataFrame = {
    tbl(spark, dir, "documents")
      .select(col("lang"), col("doc_id"),
        call_function("md5_long60",
          concat(lit("samp:"), col("doc_id").cast("string"))).as("r"))
      .groupBy(col("lang"))
      .agg(call_function("topk_by_score",
        col("r"), col("doc_id"), lit(3)).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("r"))
  }

  val q68Sql: String =
    s"""WITH s AS (
       |  SELECT lang, doc_id,
       |    ${md5IntSql("'samp:' || CAST(doc_id AS VARCHAR)")} AS r
       |  FROM documents
       |), ranked AS (
       |  SELECT lang, doc_id, r,
       |    row_number() OVER (PARTITION BY lang ORDER BY r DESC, doc_id)
       |      AS rank
       |  FROM s
       |)
       |SELECT lang, CAST(rank AS INT) AS rank, doc_id, r
       |FROM ranked WHERE rank <= 3 ORDER BY lang, rank""".stripMargin

  // ---- q72: global training order (curriculum index) ----
  // Every doc gets a stable 0-based position in the quality-descending
  // curriculum — the "global row_number" every training pipeline
  // eventually needs (stable sample ids, curriculum schedules,
  // resumable iteration). A window over an empty partition spec would
  // funnel 100 TB through ONE task; the scalable form is the classic
  // two-pass enumeration: range-partition + sort by the total order
  // (quality DESC, doc_id — ties broken, so the order is unique), then
  // RDD zipWithIndex (one count job for per-partition offsets, then a
  // map attaching offset + local position). No partition ever sees
  // more than its slice; the oracle is the window it replaces.
  def q72(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val scored = tbl(spark, dir, "documents")
      .select(col("doc_id"), qualityE4Col.as("quality_e4"))
      .repartitionByRange(col("quality_e4").desc, col("doc_id"))
      .sortWithinPartitions(col("quality_e4").desc, col("doc_id"))
    val indexed = scored.rdd.zipWithIndex.map { case (r, i) =>
      Row(r.getLong(0), r.getLong(1), i)
    }
    spark.createDataFrame(indexed, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("quality_e4", LongType),
      StructField("train_idx", LongType))))
  }

  val q72Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, $qualityE4Sql AS quality_e4
       |  FROM (SELECT doc_id,
       |          CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
       |            AS sum_len,
       |          len(toks) AS n_tokens,
       |          len(list_filter(toks,
       |            t -> t IN ('the','a','of','and','is','to','in')))
       |            AS stop_hits
       |        FROM t)
       |)
       |SELECT doc_id, quality_e4,
       |  CAST(row_number() OVER (ORDER BY quality_e4 DESC, doc_id) - 1
       |    AS BIGINT) AS train_idx
       |FROM p ORDER BY train_idx""".stripMargin

  // ---- q73: JSONL source round-trip (the ingest boundary format) ----
  // documents -> JSON-lines -> read back with an EXPLICIT schema (no
  // inference pass) -> content-integrity aggregate. The oracle
  // computes the same aggregate from the ORIGINAL parquet table, so a
  // green hash proves the round trip preserved every doc byte-for-
  // byte: the per-group checksum sums each text's 60-bit md5 (reduced
  // mod 1e12 so 10^5 docs cannot overflow checked BIGINT arithmetic)
  // — order-independent, content-sensitive. The JSONL corpus is
  // staged once per dataset in tmpdir (q48's prep pattern); the
  // timed query is read + aggregate, not the write.
  /** Stages the documents table once per (dataset, format) in
    * tmpdir, keyed by the parquet's mtime so a regenerated dataset
    * re-stages; shared by the JSONL (q73) and ORC (q92) round-trips
    * so the staging contract has one definition.
    */
  private def stageCorpus(spark: SparkSession, dir: String, fmt: String)(
      write: (DataFrame, String) => Unit): String = {
    val mt = new java.io.File(s"$dir/documents.parquet").lastModified
    val tag = java.lang.Integer.toHexString(s"$dir:$mt".hashCode & 0x7fffffff)
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_${fmt}_$tag").getAbsolutePath
    if (!new java.io.File(s"$path/_SUCCESS").exists)
      write(tbl(spark, dir, "documents"), path)
    path
  }

  private[graft] def prepareJsonlCorpus(spark: SparkSession,
      dir: String): String =
    stageCorpus(spark, dir, "jsonl")(graft.sources.Jsonl.writeJsonl)

  def q73(spark: SparkSession, dir: String): DataFrame = {
    val path = prepareJsonlCorpus(spark, dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    graft.sources.Jsonl.readJsonl(spark, path, schema)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(call_function("md5_long60", col("text")) % 1000000000000L)
          .as("text_hash_sum"))
  }

  val q73Sql: String =
    s"""SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(${md5IntSql("text")} % 1000000000000) AS BIGINT)
       |    AS text_hash_sum
       |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---- q92: ORC source round-trip (the warehouse handover format) ----
  // q73's integrity contract on the OTHER interchange format: the
  // corpus is staged once as ORC, read back through Spark's native
  // vectorized ORC reader with an explicit schema, and reduced to the
  // same order-independent per-group content checksum computed by the
  // oracle from the ORIGINAL parquet — a green hash proves the ORC
  // write+read preserved every doc byte-for-byte. Where q73's JSONL
  // read is a full-scan text parse, this read exercises what makes
  // ORC analytical: the `n_chars >= 200` predicate pushes into the
  // scan (row-group min/max skipping; `PushedFilters` pinned by
  // OrcSpec) and only the three referenced columns decode. Staged
  // once per dataset in tmpdir (q48/q73's prep pattern); the timed
  // query is read + aggregate, not the write.
  private[graft] def prepareOrcCorpus(spark: SparkSession,
      dir: String): String =
    stageCorpus(spark, dir, "orc")(graft.sources.Orc.writeOrc)

  def q92(spark: SparkSession, dir: String): DataFrame = {
    val path = prepareOrcCorpus(spark, dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    graft.sources.Orc.readOrc(spark, path, schema)
      .filter(col("n_chars") >= 200)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(call_function("md5_long60", col("text")) % 1000000000000L)
          .as("text_hash_sum"))
  }

  val q92Sql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(${md5IntSql("text")} % 1000000000000) AS BIGINT)
       |    AS text_hash_sum
       |FROM documents WHERE n_chars >= 200
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- q75: chunk-level exact dedup (substring dedup lite) ----
  // Document-level dedup misses the dominant contamination mode of
  // web corpora: boilerplate blocks repeated inside otherwise-unique
  // pages. The practical middle ground between doc-level md5 (q30)
  // and full suffix-array substring dedup: split every doc into
  // 8-token chunks, hash each, and score each doc by the fraction of
  // its chunks that appear anywhere else in the corpus. Planted exact
  // copies (q30's fixture) make the cross-doc branch provably fire.
  // Scale shape: chunking+hashing ride the scan; the only wide work
  // is one digest-keyed count + one digest equi join (16-byte keys,
  // raw text never shuffles) — q30's posture at chunk granularity.
  def q75(spark: SparkSession, dir: String): DataFrame = {
    val docs = withExactCopies(tbl(spark, dir, "documents"))
    // ceil(n/8) as an INT (Column `/` is double division; sequence
    // needs an integral bound)
    val nChunks = floor((size(toks) + lit(7)) / lit(8)).cast("int")
    // occurrence counts WITHOUT a groupBy+join-back: that formulation
    // recomputes the tokenize->chunk->md5 pipeline on both join sides
    // (measured in the plan — and a digest-keyed exchange is not
    // reused across differently-pruned branches). A count over the
    // digest partition needs the same single hash exchange the join
    // would, runs the chunk pipeline exactly ONCE by construction,
    // and adds no join. Skew bound = the hottest digest's occurrence
    // count, identical to the join form's hot-key bound.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    docs.select(col("doc_id"),
      explode(transform(sequence(lit(0), nChunks - 1),
        i => md5(concat_ws(" ", slice(toks, i * 8 + 1, lit(8)))))).as("h"))
      .withColumn("n_occ", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum((col("n_occ") > 1).cast("long")).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        expr("n_dup_chunks * 10000 div n_chunks").as("dup_frac_e4"))
  }

  val q75Sql: String =
    s"""WITH docs AS (
       |  $exactCopiesSql
       |), t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM docs
       |), ch AS (
       |  SELECT doc_id, i AS ci,
       |    md5(array_to_string(toks[i*8+1 : i*8+8], ' ')) AS h
       |  FROM t, unnest(range(0, (len(toks) + 7) // 8)) AS u(i)
       |), occ AS (
       |  SELECT h, count(*) AS n_occ FROM ch GROUP BY 1
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_chunks,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) * 10000
       |    // count(*) AS BIGINT) AS dup_frac_e4
       |FROM ch JOIN occ USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- q76: sliding-window chunking with overlap (the RAG/training
  //      chunker) ----
  // Fixed-size chunks with overlap (size 8, stride 6 — each chunk
  // shares 2 tokens with its predecessor) so no semantic boundary is
  // ever split without a covering chunk: the standard retrieval/
  // training chunker. Emits (doc_id, chunk_id, start_tok, n_toks,
  // chunk md5) — the chunk table an embedding stage consumes. Pure
  // projection + generate: rides the scan, zero wide operations; at
  // 100 TB this is embarrassingly parallel and the output is what
  // gets Z-ordered/bucketed for the ANN build downstream.
  def q76(spark: SparkSession, dir: String): DataFrame =
    // scale-adaptive fan-out: ~40 chunk digests per doc, all
    // computed in the scan stage — serial on the one-rowgroup
    // fixture; no-op at production scale (see ScanFanOut)
    graft.operators.ScanFanOut(tbl(spark, dir, "documents"))
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(0), size(toks) - 1, lit(6)))
          .as(Seq("chunk_id", "start_tok")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(8), size(toks) - col("start_tok")).cast("long").as("n_toks"),
        md5(concat_ws(" ", slice(toks, col("start_tok") + 1, lit(8))))
          .as("chunk_md5"))

  val q76Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
       |    AS BIGINT) AS chunk_id,
       |  i AS start_tok,
       |  CAST(least(8, len(toks) - i) AS BIGINT) AS n_toks,
       |  md5(array_to_string(toks[i+1 : i+8], ' ')) AS chunk_md5
       |FROM t, unnest(range(0, len(toks), 6)) AS u(i)
       |ORDER BY doc_id, chunk_id""".stripMargin

  // ---- q78: PII scrub (regex redaction at scale) ----
  // The compliance pass every released corpus runs: detect and redact
  // email-shaped and phone-shaped spans, report per-doc counts plus a
  // digest of the scrubbed text (the digest keeps the oracle exact
  // without hauling full text through the comparison). Planted PII
  // (every 9th doc gets a synthetic contact line, built identically in
  // both engines) proves the redaction branch fires. Pure per-row
  // regex work — rides the scan, embarrassingly parallel, zero wide
  // operations; regexes stay in the RE2∩Java-regex common dialect so
  // both engines match identical spans.
  def q78(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val planted = tbl(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 0,
          concat(lower(trim(col("text"))),
            lit(" contact contact-"), col("doc_id").cast("string"),
            lit("@example.com or 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lower(trim(col("text")))).as("text"))
    planted.select(col("doc_id"),
        regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("text"), emailRe, "<email>"),
          phoneRe, "<phone>")).as("scrubbed_md5"))
  }

  val q78Sql: String =
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 9 = 0
       |      THEN lower(trim(text)) || ' contact contact-' ||
       |        CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
       |        lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
       |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |      ELSE lower(trim(text)) END AS text
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text,
       |    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text,
       |    '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(text,
       |    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<email>', 'g'),
       |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<phone>', 'g')) AS scrubbed_md5
       |FROM planted ORDER BY doc_id""".stripMargin

  // ---- q80: incremental (delta-vs-base) exact dedup ----
  // The production shape for a continuously-growing corpus: a new
  // batch is admitted against the EXISTING corpus without ever
  // reshuffling the corpus. Delta fixture (built identically in both
  // engines): every 10th base doc replayed under a new id (must drop
  // as dup_base) ∪ fresh docs keyed doc_id % 7 = 3 whose text
  // collides within the delta on doc_id % 50 (first-id keeper wins,
  // rest drop as dup_delta). Scale shape: the BASE side is touched by
  // exactly one map-only pass — its digests probe a BROADCAST of the
  // delta's distinct digests (the delta is micro-batch-sized by
  // construction), and only the matched digest set (≤ |delta| rows)
  // ever aggregates; within-delta dedup is delta-sized work. The
  // 100 TB base: zero shuffles, zero sorts, one scan.
  def q80(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val replayed = docs.filter(col("doc_id") % 10 === 0)
      .select(Fixtures.plantedId(col("doc_id"), 2000000L).as("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") % 7 === 3)
      .select(Fixtures.plantedId(col("doc_id"), 3000000L).as("doc_id"),
        concat(lit("fresh "), (col("doc_id") % 50).cast("string")).as("text"))
    val delta = replayed.union(fresh).withColumn("h", md5(col("text")))
    // one map-only probe over the base; emits only matched digests.
    // The probe transport is guarded ([[TextOps.matchedBaseDigests]]):
    // broadcast while the delta fits, documented SMJ fallback past the
    // cap — an unguarded broadcast() of an oversized delta would OOM
    // instead of degrading
    val baseHits = TextOps.matchedBaseDigests(
        docs.select(md5(col("text")).as("h")), delta, "h")
      .withColumn("in_base", lit(true))
    val keeper = delta.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    delta
      .join(broadcast(baseHits), Seq("h"), "left")
      .join(broadcast(keeper), Seq("h"))
      .withColumn("reason",
        when(col("in_base"), "dup_base")
          .when(col("doc_id") =!= col("keeper"), "dup_delta"))
      .select(col("doc_id"), col("reason"), col("reason").isNull.as("keep"))
  }

  val q80Sql: String =
    s"""WITH delta AS (
       |  SELECT doc_id + 2000000 AS doc_id, text
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000 AS doc_id,
       |    'fresh ' || CAST(doc_id % 50 AS VARCHAR) AS text
       |  FROM documents WHERE doc_id % 7 = 3
       |), d AS (
       |  SELECT doc_id, md5(text) AS h FROM delta
       |), base_hits AS (
       |  SELECT DISTINCT md5(text) AS h FROM documents
       |  WHERE md5(text) IN (SELECT h FROM d)
       |), k AS (
       |  SELECT h, min(doc_id) AS keeper FROM d GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  CASE WHEN b.h IS NOT NULL THEN 'dup_base'
       |       WHEN d.doc_id <> k.keeper THEN 'dup_delta' END AS reason,
       |  (b.h IS NULL AND d.doc_id = k.keeper) AS keep
       |FROM d
       |LEFT JOIN base_hits b USING (h)
       |JOIN k USING (h)
       |ORDER BY d.doc_id""".stripMargin

  // ---- q85: longest shared span (suffix-style substring dedup) ----
  // The q75 upgrade: not "what fraction of chunks is duplicated" but
  // "how LONG is each doc's longest token run appearing verbatim in
  // another doc" — the measurement real pretraining substring dedup
  // (Lee et al., "Deduplicating Training Data Makes Language Models
  // Better") cuts on. Core in [[TextOps.maxSharedSpans]]: stride-1
  // 8-gram shingles chained along (docA, docB, position-difference)
  // diagonals, alignment-free and token-exact for spans >= 8. The
  // fixture plants both span kinds: whole-doc copies (every 10th doc
  // — span = full doc) and MISALIGNED partial plants (every 8th+1 doc
  // with >= 24 tokens donates tokens 6..21 into a fresh doc behind a
  // 2-token prefix, so the shared 16 tokens sit at offset 2 vs 5 —
  // chunk-aligned digests would miss them; the diagonal chain reports
  // exactly 16 unless the slice's shingles are organically hot).
  /** The q85/q86 fixture — ONE definition for both engines' queries:
    * documents ∪ whole-doc copies (every 10th) ∪ misaligned partial
    * plants (every 8th+1 with >= 24 tokens donates tokens 6..21 into
    * a fresh doc behind a 2-token prefix). The pair must measure and
    * cut the SAME corpus, so the plant is not re-spelled per query.
    */
  private[queries] def spanFixture(spark: SparkSession,
      dir: String): DataFrame = {
    // (a ScanFanOut here was tried and REVERTED — no in-bench
    // win: the fixture feeds several consumers across q85/q86's
    // subplans and the digest front's serial share is small)
    val docs = tbl(spark, dir, "documents")
    withExactCopies(docs).union(
      docs.filter(col("doc_id") % 8 === 1 && size(toks) >= 24)
        .select(Fixtures.plantedId(col("doc_id"), 2000000L).as("doc_id"),
          concat_ws(" ",
            concat(array(lit("aug"), col("doc_id").cast("string")),
              slice(toks, 6, 16))).as("text")))
  }

  /** Oracle twin of [[spanFixture]] + the shared shingle→pair→run CTE
    * chain of [[TextOps.sharedSpanRuns]] (through `runs`, carrying
    * `ap` for run-start recovery) — q85Sql and q86Sql diverge only
    * after this prefix, so the cap, the plant, and the diagonal
    * machinery cannot drift between the pair.
    */
  private val spanRunsCteSql: String =
    s"""docs AS (
       |  $exactCopiesSql
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id,
       |    'aug ' || CAST(doc_id AS VARCHAR) || ' ' ||
       |    array_to_string(
       |      string_split_regex(lower(trim(text)), '\\s+')[6:21], ' ') AS text
       |  FROM documents
       |  WHERE doc_id % 8 = 1
       |    AND len(string_split_regex(lower(trim(text)), '\\s+')) >= 24
       |), t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM docs
       |), sh AS (
       |  SELECT doc_id, i AS pos,
       |    ${md5IntSql("array_to_string(toks[i+1 : i+8], ' ')")} AS h
       |  FROM t, unnest(range(0, len(toks) - 7)) AS u(i)
       |  WHERE len(toks) >= 8
       |), occ AS (
       |  SELECT h, count(*) AS n FROM sh GROUP BY 1
       |), kept AS (
       |  SELECT sh.doc_id, sh.pos, sh.h
       |  FROM sh JOIN occ USING (h) WHERE n BETWEEN 2 AND 8
       |), pairs AS (
       |  SELECT a.doc_id AS ad, a.pos AS ap,
       |    a.pos - b.pos AS diag, b.doc_id AS bd
       |  FROM kept a JOIN kept b USING (h)
       |  WHERE a.doc_id <> b.doc_id
       |), runs AS (
       |  SELECT ad, bd, diag, ap,
       |    ap - row_number() OVER (PARTITION BY ad, bd, diag ORDER BY ap)
       |      AS isl
       |  FROM pairs
       |)""".stripMargin

  def q85(spark: SparkSession, dir: String): DataFrame =
    TextOps.maxSharedSpans(spanFixture(spark, dir))

  val q85Sql: String =
    s"""WITH $spanRunsCteSql, spans AS (
       |  SELECT ad AS doc_id, max(run) + 7 AS span FROM (
       |    SELECT ad, bd, diag, isl, count(*) AS run
       |    FROM runs GROUP BY 1, 2, 3, 4)
       |  GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  CAST(coalesce(span, 0) AS BIGINT) AS max_span_toks
       |FROM (SELECT doc_id FROM docs) d LEFT JOIN spans USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- q86: substring dedup CUT (the action to q85's measurement) ----
  // Lee et al. don't just measure shared spans — they remove them.
  // Same fixture and span machinery as q85; every token covered by a
  // shared span whose partner has the SMALLER doc_id is cut (a total
  // keeper order: exactly one copy of each shared span survives
  // corpus-wide, no coordination), and each doc reports original
  // tokens, tokens cut, and the md5 of its kept tokens — whole-doc
  // copies collapse to the empty string, the misaligned plants lose
  // exactly their 16 borrowed tokens.
  def q86(spark: SparkSession, dir: String): DataFrame =
    TextOps.cutSharedSpans(spanFixture(spark, dir))

  val q86Sql: String =
    s"""WITH $spanRunsCteSql, runcnt AS (
       |  SELECT ad, bd, diag, isl, count(*) AS run, min(ap) AS start
       |  FROM runs GROUP BY 1, 2, 3, 4
       |), cov AS (
       |  SELECT DISTINCT ad AS doc_id, p AS pos
       |  FROM runcnt, unnest(range(start, start + run + 7)) AS u(p)
       |  WHERE bd < ad
       |), tok AS (
       |  SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS tok
       |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       |)
       |SELECT tok.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_toks,
       |  CAST(count(cov.pos) AS BIGINT) AS n_cut,
       |  md5(coalesce(array_to_string(
       |    list(tok.tok ORDER BY tok.pos) FILTER (WHERE cov.pos IS NULL),
       |    ' '), '')) AS kept_md5
       |FROM tok LEFT JOIN cov
       |  ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
       |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin

  // ---- q88: URL/domain extraction + per-domain corpus stats ----
  // The CommonCrawl-style curation step: every doc carries a source
  // URL; corpus policy decisions (keep/drop/weight) are made per
  // DOMAIN, so the pipeline needs domain extraction plus per-domain
  // aggregates — doc count, distinct-text count (the domain's dup
  // rate), token volume. URLs are planted deterministically from
  // doc_id (the documents table's `source` is a synthetic label, not
  // a URL): host = "h<doc_id%23>", registrable domain =
  // "site<doc_id%7>.example", path from the id — identical in both
  // engines, and the extraction regex stays in the RE2∩Java dialect
  // (q78's rule). Map-only extraction; the aggregate shuffles one
  // narrow row per (domain, digest) — never text.
  def q88(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://h"), (col("doc_id") % 23).cast("string"),
      lit(".site"), (col("doc_id") % 7).cast("string"),
      lit(".example/p/"), col("doc_id").cast("string"))
    val domainRe = "^https?://(?:[a-z0-9-]+\\.)*([a-z0-9-]+\\.[a-z]+)/"
    tbl(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_extract(url, domainRe, 1).as("domain"),
        md5(col("text")).as("h"), size(toks).cast("long").as("n_toks"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique_texts"),
        sum(col("n_toks")).as("sum_tokens"))
  }

  val q88Sql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    'https://h' || CAST(doc_id % 23 AS VARCHAR) ||
      |      '.site' || CAST(doc_id % 7 AS VARCHAR) ||
      |      '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
      |    md5(text) AS h,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
      |      AS n_toks
      |  FROM documents
      |)
      |SELECT regexp_extract(url,
      |    '^https?://(?:[a-z0-9-]+\.)*([a-z0-9-]+\.[a-z]+)/', 1) AS domain,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts,
      |  CAST(sum(n_toks) AS BIGINT) AS sum_tokens
      |FROM u GROUP BY 1 ORDER BY domain""".stripMargin

  // ---- q90: unigram LM quality score (per-doc mean log-prob) ----
  // The model-based quality filter between q35's surface heuristics
  // and a real LM: score every document by the mean log-probability
  // of its tokens under the corpus's own add-one-smoothed unigram
  // distribution (CCNet/Gopher-style "perplexity bucket" signal —
  // boilerplate and keyword-stuffed docs score high, rare-token noise
  // scores low). Cross-engine exactness: each DISTINCT TERM gets one
  // libm ln (identical doubles, q38's rule) immediately rounded to
  // micro-nats (ll_e6 BIGINT); per-doc aggregation then sums
  // INTEGERS — order-independent under any partitioning — and the
  // normalizer ln(N+V) is one more rounded scalar. No float ever
  // rides a shuffle. avg subtracts AFTER the positive integer
  // division so truncation (Spark DIV) and floor (DuckDB //) agree.
  //
  // 100 TB posture: the vocab build is q56's two-phase agg (one
  // narrow shuffle of (term, partial) pairs); scoring is a map-only
  // broadcast-hash probe of the ~10^6-row (term, ll_e6) table plus a
  // per-doc agg whose map-side partial collapses each partition's
  // token stream to one (doc_id, n, sum) row before the shuffle.
  def q90(spark: SparkSession, dir: String): DataFrame = {
    val tok = tbl(spark, dir, "documents")
      .select(col("doc_id"), explode(toks).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
    // ln(N + V) as a broadcast 1-row scalar folded into the plan
    val z = vocab
      .agg((sum(col("c")) + count(lit(1))).cast("double").as("z"))
      .select(round(log(col("z")) * 1e6).cast("long").as("ln_z_e6"))
    val termLl = vocab.select(col("term"),
      round(log((col("c") + 1).cast("double")) * 1e6).cast("long")
        .as("ll_e6"))
    tok.join(broadcast(termLl), "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("ll_e6")).as("sum_ll_e6"))
      .crossJoin(broadcast(z))
      .select(col("doc_id"), col("n_toks"), col("sum_ll_e6"),
        (expr("sum_ll_e6 DIV n_toks") - col("ln_z_e6")).as("avg_ll_e6"))
  }

  val q90Sql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents
      |), v AS (
      |  SELECT term, count(*) AS c FROM tok GROUP BY term
      |), z AS (
      |  SELECT CAST(round(ln(CAST(sum(c) + count(*) AS DOUBLE)) * 1e6)
      |    AS BIGINT) AS ln_z_e6 FROM v
      |), tl AS (
      |  SELECT term,
      |    CAST(round(ln(CAST(c + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS ll_e6
      |  FROM v
      |)
      |SELECT doc_id, count(*) AS n_toks,
      |  CAST(sum(ll_e6) AS BIGINT) AS sum_ll_e6,
      |  CAST(sum(ll_e6) // count(*) - (SELECT ln_z_e6 FROM z) AS BIGINT)
      |    AS avg_ll_e6
      |FROM tok JOIN tl USING (term)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- q91: bigram PMI co-occurrence (collocation mining) ----
  // The corpus-analysis op behind tokenizer audits and stopword/
  // phrase discovery: pointwise mutual information over ADJACENT
  // token pairs, marginals taken over bigram slots (cx = occurrences
  // as left member, cy = as right), floor cxy >= 5 against sparse-
  // count noise, top 100 by (pmi desc, x, y) — a total order, so the
  // cut is deterministic. PMI touches floats only AFTER all counting:
  // four libm lns of integer-valued doubles combined left-to-right in
  // the same expression shape in both engines, rounded e6 (q38's
  // rule); counts and ranks never leave integers.
  //
  // 100 TB posture: ONE corpus pass — bigram enumeration rides the
  // scan into a single (x, y) pair-count agg (map-side partial
  // combine), cached at pair-table size (<= vocab², in practice ~the
  // distinct-bigram count — orders of magnitude under the corpus).
  // Marginals and the total are then SUMS OVER THE PAIR TABLE
  // (cx = Σ_y cxy, cy = Σ_x cxy, N = Σ cxy), so no second corpus
  // scan exists; the naive form re-derived the exploded bigram
  // stream once per marginal — three corpus passes for one answer.
  // The floor cuts the survivor table before the two broadcast-hash
  // marginal joins; TakeOrderedAndProject hands the driver 100 rows.
  // Nothing corpus-sized is ever wide.
  def q91(spark: SparkSession, dir: String): DataFrame = {
    val bi = tbl(spark, dir, "documents")
      .select(toks.as("t")).filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(t[i] AS x, t[i + 1] AS y))")).as("g"))
      .select(col("g.x").as("x"), col("g.y").as("y"))
    val pairsAll = bi.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cxy")).persist()
    val pairs = pairsAll.filter(col("cxy") >= 5)
    val left = pairsAll.groupBy(col("x")).agg(sum(col("cxy")).as("cx"))
    val right = pairsAll.groupBy(col("y")).agg(sum(col("cxy")).as("cy"))
    val n = pairsAll.agg(sum(col("cxy")).cast("double").as("nbi"))
    pairs.join(broadcast(left), "x").join(broadcast(right), "y")
      .crossJoin(broadcast(n))
      .select(col("x"), col("y"), col("cxy"), col("cx"), col("cy"),
        round((log(col("cxy").cast("double")) + log(col("nbi"))
          - log(col("cx").cast("double"))
          - log(col("cy").cast("double"))) * 1e6).cast("long")
          .as("pmi_e6"))
      .orderBy(col("pmi_e6").desc, col("x"), col("y"))
      .limit(100)
  }

  val q91Sql: String =
    """WITH t AS (
      |  SELECT string_split_regex(lower(trim(text)), '\s+') AS tk
      |  FROM documents
      |), bi AS (
      |  SELECT tk[u.i] AS x, tk[u.i + 1] AS y
      |  FROM t, unnest(range(1, len(tk))) AS u(i)
      |  WHERE len(tk) >= 2
      |), p AS (
      |  SELECT x, y, count(*) AS cxy FROM bi GROUP BY x, y
      |  HAVING count(*) >= 5
      |), l AS (SELECT x, count(*) AS cx FROM bi GROUP BY x),
      |r AS (SELECT y, count(*) AS cy FROM bi GROUP BY y),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS nbi FROM bi)
      |SELECT x, y, CAST(cxy AS BIGINT) AS cxy, CAST(cx AS BIGINT) AS cx,
      |  CAST(cy AS BIGINT) AS cy,
      |  CAST(round((ln(CAST(cxy AS DOUBLE)) + ln(nbi)
      |    - ln(CAST(cx AS DOUBLE)) - ln(CAST(cy AS DOUBLE))) * 1e6)
      |    AS BIGINT) AS pmi_e6
      |FROM p JOIN l USING (x) JOIN r USING (y) CROSS JOIN n
      |ORDER BY pmi_e6 DESC, x, y LIMIT 100""".stripMargin

  // ---- q93: weighted stratified sampling (Efraimidis–Spirakis) ----
  // q68's quota sampling upgraded to WEIGHTED sampling — the corpus-
  // mixing step that samples documents proportional to length (token
  // budget), not uniformly: per stratum, keep the k docs maximizing
  // u^(1/w) (equivalently ln(u)/w), the A-ES reservoir key, with
  // u = (md5_long60("wsamp:"+doc_id)+1) / 2^60 — deterministic,
  // reproducible, leakage-safe (same salt family as q46/q57/q68,
  // its own salt string) — and w = n_chars. Cross-engine exactness:
  // u is one power-of-two scale of an integer (exact), then ONE libm
  // ln, one divide, one round to an e9 BIGINT key — both engines
  // rank by the SAME rounded integer with doc_id tiebreak, so the
  // cut is total-ordered and identical (q38's float rule; no float
  // ever aggregated).
  //
  // 100 TB posture: scoring is map-only (hash + ln per row, no
  // dependence on any other row); the per-stratum cut rides the
  // native bounded `topk_by_score` partial aggregate — the shuffle
  // carries <= k rows per (task, stratum), never the corpus, and the
  // driver receives k rows per stratum. The full-sort window form
  // this replaces shuffles every scored row per stratum.
  def q93(spark: SparkSession, dir: String): DataFrame = {
    val h = call_function("md5_long60",
      concat(lit("wsamp:"), col("doc_id").cast("string")))
    val u = (h + 1).cast("double") / lit(1152921504606846976.0) // 2^60
    // weight clamp: an empty or NULL-length doc gets weight 1 — the
    // unguarded ln(u)/0 is ±Infinity, which Spark's long cast folds
    // to a sentinel while DuckDB's CAST raises, silently (resp.
    // loudly) corrupting the cut
    val w = greatest(coalesce(col("n_chars"), lit(0L)), lit(1L))
    val key = round(log(u) / w.cast("double") * 1e9).cast("long")
    tbl(spark, dir, "documents")
      .select(col("lang"), col("doc_id"), key.as("key_e9"))
      .groupBy(col("lang"))
      .agg(call_function("topk_by_score",
        col("key_e9"), col("doc_id"), lit(10)).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("key_e9"))
  }

  val q93Sql: String = {
    val h = md5IntSql("'wsamp:' || CAST(doc_id AS VARCHAR)")
    s"""WITH s AS (
       |  SELECT lang, doc_id,
       |    CAST(round(ln(CAST(($h) + 1 AS DOUBLE) / 1152921504606846976.0)
       |      / CAST(greatest(coalesce(n_chars, 0), 1) AS DOUBLE) * 1e9)
       |      AS BIGINT) AS key_e9
       |  FROM documents
       |), r AS (
       |  SELECT lang, doc_id, key_e9,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY key_e9 DESC, doc_id) AS rk
       |  FROM s
       |)
       |SELECT lang, CAST(rk AS INT) AS rank, doc_id, key_e9
       |FROM r WHERE rk <= 10 ORDER BY lang, rank""".stripMargin
  }

  // ---- q95: Unicode-normalized exact dedup (NFC + casefold +
  //      whitespace collapse) ----
  // The normalization gate in front of q30's digest dedup: web
  // corpora encode the SAME text in composed and decomposed Unicode
  // (é vs e+U+0301), in case variants, and with whitespace noise —
  // all of which hash apart under a raw-byte digest, so exact dedup
  // silently misses them. The canonical form here is
  // NFC -> lower -> trim -> collapse runs of whitespace; the native
  // `nfc_normalize` expression (ASCII short-circuit, codegen'd) is
  // oracled bit-for-bit by DuckDB's function of the same name.
  // Planted twins make the collapse provably fire: every 37th doc
  // gets a COMPOSED variant (precomposed É/é, upper-cased, doubled
  // spaces) and a DECOMPOSED one (combining U+0301, lower, single
  // spaces) — byte-different, canonically identical.
  //
  // 100 TB posture: normalization rides the scan (map-only, ASCII
  // rows never even allocate), and the only wide work is q30's
  // digest-keyed agg — 8-byte normalized digests shuffle, raw text
  // never does (the raw-variant count is a digest countDistinct for
  // the same reason).
  def q95(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    val every37 = docs.filter(col("doc_id") % 37 === 0)
    // explicit \u escapes, not raw source bytes, so an editor or
    // formatter renormalizing the file cannot silently change which
    // encoding each variant plants: composed = precomposed
    // U+00C9/U+00E9, decomposed = ASCII letters + combining U+0301
    // — byte-different, NFC-equal
    val composed = every37.select(
      Fixtures.plantedId(col("doc_id"), 10000000L).as("doc_id"),
      concat(lit("R\u00C9SUM\u00C9  Caf\u00E9 "), col("text")).as("text"))
    val decomposed = every37.select(
      Fixtures.plantedId(col("doc_id"), 20000000L).as("doc_id"),
      concat(lit("re\u0301sume\u0301 cafe\u0301 "), col("text")).as("text"))
    docs.unionByName(composed).unionByName(decomposed)
      .select(col("doc_id"),
        call_function("md5_long60", col("text")).as("raw_h"),
        call_function("md5_long60",
          regexp_replace(
            trim(lower(call_function("nfc_normalize", col("text")))),
            "\\s+", " ")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("canon_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_h")).as("n_raw_variants"))
      .filter(col("n_docs") > 1)
  }

  val q95Sql: String = {
    // the decomposed prefix is built from chr() so the oracle JSON
    // stays ASCII-clean; 769 = U+0301 combining acute, 201/233 = É/é
    val hNorm = md5IntSql(
      "regexp_replace(trim(lower(nfc_normalize(text))), '\\s+', ' ', 'g')")
    val hRaw = md5IntSql("text")
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
       |), planted AS (
       |  SELECT doc_id, text FROM base
       |  UNION ALL
       |  SELECT doc_id + 10000000,
       |    'R' || chr(201) || 'SUM' || chr(201) || '  Caf' || chr(233)
       |      || ' ' || text
       |  FROM base WHERE doc_id % 37 = 0
       |  UNION ALL
       |  SELECT doc_id + 20000000,
       |    're' || chr(769) || 'sume' || chr(769) || ' cafe' || chr(769)
       |      || ' ' || text
       |  FROM base WHERE doc_id % 37 = 0
       |), keyed AS (
       |  SELECT doc_id, ($hRaw) AS raw_h, ($hNorm) AS h FROM planted
       |)
       |SELECT h, min(doc_id) AS canon_id, count(*) AS n_docs,
       |  count(DISTINCT raw_h) AS n_raw_variants
       |FROM keyed GROUP BY h HAVING count(*) > 1
       |ORDER BY canon_id""".stripMargin
  }

  // ---- q81: BPE tokenizer training — the first k merge rounds ----
  // The step AFTER q56's vocabulary build in a real LLM data
  // pipeline: learn byte-pair-encoding merges from the corpus.
  // Each round counts adjacent symbol pairs over the (word, count)
  // vocabulary, picks the most frequent (ties: lexicographically
  // smallest), records it, and merges every greedy left-to-right
  // occurrence; symbols start as the characters of each [a-z]+ word.
  //
  // Cross-engine-exact merge trick: symbols live in a DOUBLE-space
  // joined string with single-space padding (' h  e  l ... o '), so
  // the pattern ' l  r ' -> ' l·r ' consumes only each occurrence's
  // own delimiter halves — a plain left-to-right non-overlapping
  // string replace (same semantics in Spark's StringReplace and
  // DuckDB's replace) then equals the greedy BPE fold even for
  // overlapping runs ('aaaa' -> 'aa','aa', not 'aa','a','a' — a
  // single-space encoding gets that wrong because consecutive
  // matches share the middle delimiter).
  //
  // 100 TB posture: after one corpus pass builds the (word, cnt)
  // vocabulary — exactly q56's agg, vocab ~10^6-10^7 rows vs 10^11
  // docs — every round runs on the VOCAB only: one narrow pair agg
  // (map-side partial over <=30 B rows) + a map-only literal
  // replace; the driver holds one (l, r, cnt) row per round. k
  // rounds = k tiny aggs, nothing corpus-sized ever shuffles.
  //
  // Like the q43/q74 codebook collects and q77's bloom build,
  // CONSTRUCTING this DataFrame runs the training jobs (the merge
  // loop is inherently iterative); the returned frame is the small
  // post-training result, which is also what a plan dump shows.
  /** The (word, cnt, double-space char repr) vocabulary BPE trains
    * over.
    */
  private def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(explode(toks).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("s", concat(lit(" "),
        concat_ws("  ", transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1)))),
        lit(" ")))

  /** One BPE replace: merge pair (l, r) greedy-left-to-right in a
    * double-space symbol repr.
    */
  private def bpeReplace(s: Column, l: String, r: String): Column =
    call_function("replace", s, lit(s" $l  $r "), lit(s" $l$r "))

  /** Learn up to `k` BPE merges from a (cnt, s) vocabulary; returns
    * (rank, left, right, pair count) per round. Stops early (fewer
    * rows) if the vocabulary runs out of pairs before round k — the
    * oracle's empty `best` CTEs truncate the same way, so a
    * degenerate corpus is a short answer in BOTH engines, not a
    * Spark-side error the oracle doesn't share.
    */
  private def bpeLearn(words0: DataFrame,
      k: Int): Seq[(Int, String, String, Long)] = {
    var words = words0.select(col("cnt"), col("s"))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= k && !dry) {
      val sym = split(trim(col("s")), "  ")
      val pair = explode(zip_with(
        slice(sym, lit(1), size(sym) - 1),
        slice(sym, lit(2), size(sym) - 1),
        (l, rr) => struct(l.as("l"), rr.as("r"))))
      val best = words
        .filter(size(sym) > 1)
        .select(col("cnt"), pair.as("p"))
        .groupBy(col("p.l"), col("p.r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val (l, rr) = (best(0).getString(0), best(0).getString(1))
        merges += ((r, l, rr, best(0).getLong(2)))
        words = words.withColumn("s", bpeReplace(col("s"), l, rr))
        r += 1
      }
    }
    merges.result()
  }

  def q81(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words0 = bpeVocab(spark, dir).persist()
    try
      bpeLearn(words0, 4)
        .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
    finally words0.unpersist()
  }

  // ---- q82: BPE apply — the corpus subword-frequency table ----
  // Learn the q81 merges, then APPLY them in rank order and count
  // the resulting subwords across the corpus. Weighted through the
  // vocabulary (occurrences = sum of word counts), so the apply pass
  // is VOCAB-sized — the corpus is touched only by the q56-shaped
  // word-count agg; at 100 TB the segmentation itself never rescans
  // a document.
  def q82(spark: SparkSession, dir: String): DataFrame = {
    val words0 = bpeVocab(spark, dir).persist()
    try {
      val merged = bpeLearn(words0, 4).foldLeft(col("s")) {
        case (c, (_, l, r, _)) => bpeReplace(c, l, r)
      }
      words0
        .select(col("cnt"), explode(split(trim(merged), "  ")).as("subword"))
        .groupBy(col("subword")).agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("subword")).limit(50)
    } finally words0.unpersist()
  }

  /** The shared BPE CTE chain: vocabulary + 4 (pairs, best, words)
    * training rounds — q81 reads the `best*` tables, q82 re-applies
    * them to `words0`.
    */
  private val bpeCtesSql: String = {
    def round(r: Int): String = {
      val prev = s"words${r - 1}"
      s"""pairs$r AS (
         |  SELECT z[1] AS l, z[2] AS r, sum(cnt) AS c FROM (
         |    SELECT cnt, unnest(list_zip(sym[1:len(sym)-1], sym[2:])) AS z
         |    FROM (SELECT cnt, string_split(trim(s), '  ') AS sym FROM $prev)
         |    WHERE len(sym) > 1
         |  )
         |  GROUP BY 1, 2
         |), best$r AS (
         |  SELECT l, r, c FROM pairs$r ORDER BY c DESC, l, r LIMIT 1
         |), words$r AS (
         |  -- LEFT JOIN ON TRUE, not CROSS JOIN: when the vocabulary
         |  -- runs dry before round $r (best$r empty) the words pass
         |  -- through unchanged instead of being wiped — matching the
         |  -- Spark side's early stop
         |  SELECT cnt,
         |    CASE WHEN b.l IS NULL THEN s
         |         ELSE replace(s, ' ' || b.l || '  ' || b.r || ' ',
         |                      ' ' || b.l || b.r || ' ') END AS s
         |  FROM $prev LEFT JOIN best$r b ON TRUE
         |)""".stripMargin
    }
    s"""words0 AS (
       |  SELECT count(*) AS cnt,
       |    ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s
       |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |        FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$')
       |  GROUP BY w
       |), ${(1 to 4).map(round).mkString(", ")}""".stripMargin
  }

  val q81Sql: String =
    s"""WITH $bpeCtesSql
       |SELECT * FROM (
       |  SELECT 1 AS merge_rank, l AS left_sym, r AS right_sym,
       |    CAST(c AS BIGINT) AS pair_count FROM best1
       |  UNION ALL SELECT 2, l, r, CAST(c AS BIGINT) FROM best2
       |  UNION ALL SELECT 3, l, r, CAST(c AS BIGINT) FROM best3
       |  UNION ALL SELECT 4, l, r, CAST(c AS BIGINT) FROM best4
       |) ORDER BY merge_rank""".stripMargin

  val q82Sql: String =
    s"""WITH $bpeCtesSql
       |SELECT subword, CAST(sum(cnt) AS BIGINT) AS n FROM (
       |  SELECT cnt, unnest(string_split(trim(s), '  ')) AS subword
       |  FROM words4
       |)
       |GROUP BY subword ORDER BY n DESC, subword LIMIT 50""".stripMargin

  // ---- q83: Count-Min heavy hitters (sketched frequency) ----
  // The fixed-state frequency estimate next to q77's membership
  // bloom: build one d x w counter grid over the corpus terms
  // (cms_build, a true partial aggregate — each task ships one 32 KB
  // grid, never keys), broadcast it, and read estimates map-side
  // (cms_query). Output joins the exact top-20 term counts with
  // their sketch estimates; CM guarantees estimate >= exact, with
  // collision-only overestimates. At 100 TB the exact groupBy holds
  // every distinct key; the sketch answers in 32 KB.
  def q83(spark: SparkSession, dir: String): DataFrame = {
    val w = 1 << 10
    val d = 4
    val words = tbl(spark, dir, "documents")
      .select(explode(toks).as("term"))
      .filter(col("term").rlike("^[a-z]+$"))
      .withColumn("k", call_function("md5_long60", col("term")))
    // driver-side scalar collect + broadcast, the codebook/bloom shape
    val bytes = words
      .agg(call_function("cms_build", col("k"), lit(w), lit(d)))
      .head().getAs[Array[Byte]](0)
    val bc = spark.sparkContext.broadcast(bytes)
    words.groupBy(col("term"), col("k"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("term")).limit(20)
      .withColumn("cms_n", cmsQuery(col("k"), bc))
      .select(col("term"), col("exact_n"), col("cms_n"))
  }

  val q83Sql: String = {
    val kOf = md5IntSql("term")
    def cell(keyExpr: String) =
      s"(${md5IntSql(s"'cms' || jj.j || ':' || CAST($keyExpr AS VARCHAR)")}) % 1024"
    s"""WITH words AS (
       |  SELECT term, $kOf AS k FROM (
       |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |    FROM documents)
       |  WHERE regexp_matches(term, '^[a-z]+$$')
       |), counters AS (
       |  SELECT jj.j, ${cell("k")} AS idx, count(*) AS c
       |  FROM words CROSS JOIN (SELECT unnest(range(4)) AS j) jj
       |  GROUP BY 1, 2
       |), top AS (
       |  SELECT term, k, count(*) AS exact_n FROM words GROUP BY term, k
       |  ORDER BY exact_n DESC, term LIMIT 20
       |)
       |SELECT t.term, t.exact_n, min(c.c) AS cms_n
       |FROM top t
       |CROSS JOIN (SELECT unnest(range(4)) AS j) jj
       |JOIN counters c ON c.j = jj.j AND c.idx = ${cell("t.k")}
       |GROUP BY t.term, t.exact_n
       |ORDER BY exact_n DESC, term""".stripMargin
  }

  // ---- q103: edit-distance verification of near-dup candidates ----
  // The verify stage a production dedup pipeline runs AFTER candidate
  // generation: shingle-Jaccard (q33's machinery, threshold lowered to
  // 0.3 for recall) proposes pairs, and exact Levenshtein over the
  // candidate texts confirms them — kept when the edit distance is at
  // most 20% of the longer text. Character-exact where Jaccard is
  // token-approximate, and O(len_a x len_b) per pair, which is why it
  // can only ever run on CANDIDATES: the scale story is that the
  // quadratic scorer touches |candidate pairs| (LSH/inverted-index
  // bounded), never n^2 — the same candidates->verify split as q42's
  // ANN near-dup. Both engines compute unit-cost codepoint
  // Levenshtein (Spark `levenshtein`, DuckDB `levenshtein`).
  def q103(spark: SparkSession, dir: String): DataFrame = {
    val docs = withNearCopies(tbl(spark, dir, "documents"))
    val cand = jaccardPairs(docs, 0.3)
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("ta")),
        Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("tb")),
        Seq("id_b"))
      .select(
        // banded Levenshtein: the keep condition lev*5 <= max_len is
        // exactly lev <= floor(max_len/5) (integer lev), so passing
        // that bound as the threshold makes the scorer O(len x k)
        // instead of O(len^2) — Spark's thresholded form walks only a
        // 2k+1-wide diagonal band and short-circuits on length
        // difference alone. Within the bound it returns the EXACT
        // distance (identical output rows); past it, -1 (the rows the
        // filter dropped anyway). The oracle keeps the unbounded form
        // + filter: same relation, engine-independent.
        // The explode(array(struct)) wrap is a Generate BARRIER:
        // without it Catalyst pushes the `lev != -1` filter
        // into the join condition by SUBSTITUTING the levenshtein
        // expression, and the projection recomputes it — every
        // surviving pair paid the banded scorer TWICE (verified in
        // the formatted plan: the expression appeared in both the
        // join condition and the project). A filter on a GENERATED
        // attribute cannot be substituted below the Generate, so the
        // scorer runs exactly once per pair. Same rows, same values.
        explode(array(struct(col("id_a"), col("id_b"),
          expr("levenshtein(ta, tb, " +
            "cast((greatest(length(ta), length(tb)) div 5) as int))")
            .cast("long").as("lev"),
          greatest(length(col("ta")), length(col("tb"))).cast("long")
            .as("max_len")))).as("r"))
      .select(col("r.id_a").as("id_a"), col("r.id_b").as("id_b"),
        col("r.lev").as("lev"), col("r.max_len").as("max_len"))
      .filter(col("lev") =!= -1L)
  }

  val q103Sql: String =
    s"""WITH $nearPairsCte,
      |cand AS (
      |  SELECT id_a, id_b FROM pairs
      |  WHERE 1.0 * common / (na + nb - common) >= 0.3
      |)
      |SELECT c.id_a, c.id_b,
      |  levenshtein(da.text, db.text) AS lev,
      |  greatest(length(da.text), length(db.text)) AS max_len
      |FROM cand c
      |JOIN docs da ON da.doc_id = c.id_a
      |JOIN docs db ON db.doc_id = c.id_b
      |WHERE levenshtein(da.text, db.text) * 5 <=
      |  greatest(length(da.text), length(db.text))
      |ORDER BY id_a, id_b""".stripMargin

  // ---- q107: incremental (delta-vs-base) NEAR-dup admission ----
  // The near-dup twin of q80: a new crawl batch is admitted against
  // the EXISTING corpus by MinHash-LSH, without pairwise work on the
  // base and without ever shuffling base text or shingles. Delta
  // fixture (built identically in both engines): near-copies (every
  // 7th base doc, last 3 tokens dropped — must match their source) ∪
  // genuinely fresh synthetic docs (must admit).
  //
  // Scale shape (the 100 TB base): the base is touched by exactly TWO
  // map-only passes — pass 1 streams base band keys into a join
  // against the BROADCAST delta band keys (delta is micro-batch-sized
  // by construction; past that cap the q80 guard pattern
  // [[TextOps.matchedBaseDigests]] applies — documented, not
  // replicated here); pass 2 semi-joins base signatures against the
  // broadcast candidate id set, so only the ≤|delta|·bands matched
  // base rows ever carry their shingle arrays into the confirm stage.
  // The only exchanges are delta-sized (candidate distinct + best-of
  // aggregate); ReuseExchange dedupes the shared candidate broadcast.
  def q107(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val delta = q107Delta(docs)
    nearDupVerdicts(delta.select(col("doc_id")),
      minHashSig(docs), minHashSig(delta))
  }

  /** The q107 delta fixture: near-copies (every 7th base doc, last 3
    * tokens dropped) ∪ genuinely fresh synthetic docs — shared with
    * NearDupStreamSpec so stream/batch parity runs on THE fixture.
    */
  private[graft] def q107Delta(docs: DataFrame): DataFrame = {
    val near = docs.filter(col("doc_id") % 7 === 0 && size(toks) > 10)
      .select(Fixtures.plantedId(col("doc_id"), 1000000L).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), size(toks) - 3)).as("text"))
    val fresh = docs.filter(col("doc_id") % 11 === 5)
      .select(Fixtures.plantedId(col("doc_id"), 3000000L).as("doc_id"),
        concat(lit("fresh doc about topic "),
          (col("doc_id") % 40).cast("string")).as("text"))
    near.union(fresh)
  }

  /** (doc_id, sh, mh0-7) MinHash signatures for a (doc_id, text)
    * relation — the q31/q107 signature scheme (5-word shingles, k=8).
    * Rows with zero shingles (< 5 tokens after the distinct) drop:
    * they have no signature and can never band-collide. Shared with
    * [[graft.streaming.NearDupStream]], whose base INDEX is exactly
    * this relation persisted.
    */
  private[graft] def minHashSig(d: DataFrame): DataFrame = d
    .withColumn("sh", hashedShingles(tokens(col("text")), 5))
    .filter(size(col("sh")) > 0)
    .select(col("doc_id") +: col("sh") +: minHash(col("sh"), 8): _*)

  /** Per-delta-doc near-dup verdicts against a base signature
    * relation — the shared core of q107 (batch) and
    * [[graft.streaming.NearDupStream]] (per micro-batch). `deltaIds`
    * is the full delta id set (docs too short to sign still get an
    * admit verdict); `baseSig`/`deltaSig` are [[minHashSig]] outputs.
    * Scale posture (assuming a corpus-sized base and a
    * micro-batch-sized delta): base touched by two map-only passes,
    * every exchange delta-sized — see q107's header comment.
    *
    * The DELTA lineage is deliberately left unbarriered and recomputes
    * per consuming branch (id set, band keys, shingle fetch): it is
    * micro-batch-sized by contract, so the recompute is small, while a
    * q31-style repartition barrier would put the delta's shingle
    * arrays into an exchange for nothing. The cost that matters — the
    * base passes — is bounded by the ReuseExchange-shared candidate
    * broadcast below. Callers whose delta derivation is expensive to
    * recompute (a streaming file source) persist it instead
    * ([[graft.streaming.NearDupStream]] does).
    */
  private[graft] def nearDupVerdicts(deltaIds: DataFrame,
      baseSig: DataFrame, deltaSig: DataFrame): DataFrame = {
    def banded(s: DataFrame, idOut: String): DataFrame = s
      .select(col("doc_id").as(idOut),
        explode(lshBandKeys((0 until 8).map(i => col(s"mh$i")), 4, 2))
          .as("bk"))
    // pass 1: candidate (base, delta) pairs via the band-bucket join;
    // distinct both dedupes multi-band hits (mirroring the oracle's
    // OR-join, one row per pair) and barriers the delta-sized result
    val cands = banded(baseSig, "id_b")
      .join(broadcast(banded(deltaSig, "id_d")), Seq("bk"))
      .select(col("id_b"), col("id_d")).distinct()
    // pass 2: fetch shingle sets for MATCHED base docs and attach
    // their candidate pairs in ONE inner join against the single
    // broadcast of cands — a separate semi-join-then-pair-join would
    // broadcast cands twice with DIFFERENT column prunings (the semi
    // probe prunes id_d), so ReuseExchange cannot dedupe them and the
    // whole band pass (pass 1, inside cands' lineage) executes again:
    // 3 base scans instead of 2 (caught by executed-plan inspection)
    val scored = baseSig
      .join(broadcast(cands), col("doc_id") === col("id_b"))
      .join(broadcast(deltaSig.select(col("doc_id").as("id_d"),
        col("sh").as("shd"))), Seq("id_d"))
      .withColumn("jac", TextOps.jaccard(col("sh"), col("shd")))
      .filter(col("jac") >= 0.5)
    // best base match per delta doc: max jaccard, ties to the lowest
    // base id (negated inside the struct-max). Exact-rational double
    // compares: |sh| < 2^10 keeps a/b vs c/d well past double rounding
    val best = scored
      .groupBy(col("id_d"))
      .agg(max(struct(col("jac").as("j"), (-col("id_b")).as("nid")))
        .as("m"))
      .select(col("id_d"), (-col("m.nid")).as("best_base"),
        round(col("m.j") * 10000).cast("long").as("jaccard_e4"))
    deltaIds
      .join(broadcast(best), col("doc_id") === col("id_d"), "left")
      .select(col("doc_id"), col("best_base"), col("jaccard_e4"),
        col("best_base").isNull.as("admit"))
  }

  val q107Sql: String = {
    val bands = (b: String) => (0 until 4).map { i =>
      s"md5(mh${2 * i} || '|' || mh${2 * i + 1}) AS $b$i"
    }.mkString(",\n    ")
    val orJoin = (0 until 4).map(i => s"b.b$i = d.d$i").mkString(" OR ")
    val jac = "1.0 * len(list_intersect(b.sh, d.sh)) / " +
      "(len(b.sh) + len(d.sh) - len(list_intersect(b.sh, d.sh)))"
    s"""WITH delta AS (
       |  SELECT doc_id + 1000000 AS doc_id,
       |    array_to_string(toks[1:len(toks)-3], ' ') AS text
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM documents)
       |  WHERE doc_id % 7 = 0 AND len(toks) > 10
       |  UNION ALL
       |  SELECT doc_id + 3000000,
       |    'fresh doc about topic ' || CAST(doc_id % 40 AS VARCHAR)
       |  FROM documents WHERE doc_id % 11 = 5
       |), sh_base AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 5 THEN []::BIGINT[]
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 3),
       |                i -> ${md5IntSql("array_to_string(toks[i:i+4], ' ')")} % $MinHashP))
       |         END AS sh
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM documents)
       |), sh_delta AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 5 THEN []::BIGINT[]
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 3),
       |                i -> ${md5IntSql("array_to_string(toks[i:i+4], ' ')")} % $MinHashP))
       |         END AS sh
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM delta)
       |), sig_base AS (
       |  SELECT doc_id, sh,
       |    ${(0 until 8).map(i => s"${mhSql(i)} AS mh$i").mkString(",\n    ")}
       |  FROM sh_base WHERE len(sh) > 0
       |), sig_delta AS (
       |  SELECT doc_id, sh,
       |    ${(0 until 8).map(i => s"${mhSql(i)} AS mh$i").mkString(",\n    ")}
       |  FROM sh_delta WHERE len(sh) > 0
       |), banded_base AS (
       |  SELECT doc_id, sh, ${bands("b")}
       |  FROM sig_base
       |), banded_delta AS (
       |  SELECT doc_id, sh, ${bands("d")}
       |  FROM sig_delta
       |), scored AS (
       |  SELECT d.doc_id AS id_d, b.doc_id AS id_b, $jac AS jac
       |  FROM banded_base b JOIN banded_delta d ON ($orJoin)
       |  WHERE $jac >= 0.5
       |), best AS (
       |  SELECT id_d, id_b AS best_base,
       |    CAST(round(jac * 10000, 0) AS BIGINT) AS jaccard_e4,
       |    row_number() OVER (PARTITION BY id_d ORDER BY jac DESC, id_b)
       |      AS rn
       |  FROM scored
       |)
       |SELECT dd.doc_id, b.best_base, b.jaccard_e4,
       |  b.best_base IS NULL AS admit
       |FROM delta dd
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON dd.doc_id = b.id_d
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q108: hashed linear quality classifier (fastText-style) ----
  // A learned-model-style quality gate: word unigrams + adjacent
  // bigrams feature-hashed into 4096 buckets, scored by a linear
  // model. The weight table is a pure function of the bucket id (a
  // Knuth-hash residue centred on zero) standing in for trained
  // weights, so the oracle replays the model exactly and the whole
  // path stays integer arithmetic — bit-exact across engines, no
  // sigmoid/float drift. In production the weight column swaps for a
  // broadcast Map[Int, Float] lookup; the plan shape (one scan,
  // map-only score, zero shuffles before the oracle-determinism sort)
  // is identical.
  def q108(spark: SparkSession, dir: String): DataFrame = {
    val D = 4096
    def wInt(b: Column): Column = (b * 2654435761L) % 8191L - 4095L
    tbl(spark, dir, "documents")
      .select(col("doc_id"), toks.as("t"))
      .withColumn("uni",
        transform(col("t"), t => call_function("md5_long60", t) % D))
      .withColumn("big",
        when(size(col("t")) < 2, array().cast("array<long>"))
          .otherwise(transform(sequence(lit(1), size(col("t")) - 1),
            i => call_function("md5_long60",
              concat(element_at(col("t"), i), lit(" "),
                element_at(col("t"), i + 1))) % D)))
      .select(col("doc_id"),
        (size(col("uni")) + size(col("big"))).cast("long").as("n_feat"),
        (aggregate(col("uni"), lit(0L), (acc, b) => acc + wInt(b)) +
          aggregate(col("big"), lit(0L), (acc, b) => acc + wInt(b)))
          .as("score_int"))
      .withColumn("keep", col("score_int") > 0)
  }

  val q108Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents
       |), f AS (
       |  SELECT doc_id,
       |    list_transform(toks, tok -> ${md5IntSql("tok")} % 4096) AS uni,
       |    CASE WHEN len(toks) < 2 THEN []::BIGINT[]
       |         ELSE list_transform(range(1, len(toks)),
       |                i -> ${md5IntSql("toks[i] || ' ' || toks[i+1]")} % 4096)
       |         END AS big
       |  FROM t
       |), s AS (
       |  SELECT doc_id,
       |    CAST(len(uni) + len(big) AS BIGINT) AS n_feat,
       |    CAST(coalesce(list_sum(list_transform(uni,
       |           b -> (b * 2654435761) % 8191 - 4095)), 0)
       |       + coalesce(list_sum(list_transform(big,
       |           b -> (b * 2654435761) % 8191 - 4095)), 0) AS BIGINT)
       |      AS score_int
       |  FROM f
       |)
       |SELECT doc_id, n_feat, score_int, score_int > 0 AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  // ---- q109: token-length histogram + cumulative token share ----
  // The packing planner's input: log2 buckets of per-doc token count,
  // per-bucket doc/token totals, and the running cumulative share of
  // all tokens (e4 fixed point) — "what max_seq_len covers 99% of
  // tokens". One scan, map-side partials into a ~12-group aggregate;
  // the unpartitioned cumsum window runs on BUCKET-COUNT rows (≤64 —
  // single-partition by size, not by accident). Bucket = bit length
  // minus one (exact integers both engines; no float log2).
  def q109(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = tbl(spark, dir, "documents")
      .select(size(toks).cast("long").as("n"))
      .groupBy((length(bin(col("n"))) - 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_toks"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    agg
      .withColumn("__cum", sum(col("n_toks")).over(cum))
      .withColumn("__tot", sum(col("n_toks")).over(all))
      // integer `div`, matching the oracle's `//` exactly: `/` on
      // longs is DOUBLE division, which rounds across integer
      // boundaries once cum*10000 passes 2^53 — within this query's
      // own target regime (~2e13 tokens at 100 TB; long overflow
      // itself is ~9e14 tokens, still clear)
      .withColumn("cum_share_e4", expr("__cum * 10000 div __tot"))
      .select(col("bucket"), col("n_docs"), col("n_toks"),
        col("cum_share_e4"))
  }

  val q109Sql: String =
    s"""WITH t AS (
       |  SELECT len(string_split_regex(lower(trim(text)), '\\s+')) AS n
       |  FROM documents
       |), a AS (
       |  SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
       |    count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_toks
       |  FROM t GROUP BY 1
       |)
       |SELECT bucket, n_docs, n_toks,
       |  CAST(sum(n_toks) OVER (ORDER BY bucket) * 10000
       |    // sum(n_toks) OVER () AS BIGINT) AS cum_share_e4
       |FROM a ORDER BY bucket""".stripMargin

  // ---- q110: importance resampling (DSIR-shaped, Gumbel top-k) ----
  // The data-selection operator behind DSIR (Xie et al., 2023):
  // resample the corpus toward a TARGET distribution (here: the 'en'
  // subset as the exemplar domain) with importance weights from the
  // target-vs-background unigram LM ratio. Sampling ∝ exp(score) is
  // realized EXACTLY as top-k of score + Gumbel noise (the Gumbel-max
  // trick), which composes with the integer micro-nat machinery: the
  // per-doc mean log-ratio is q90's integer fold (one rounded libm ln
  // per distinct term PER SIDE, integers ever after), the Gumbel key
  // -ln(-ln(u)) uses q93's deterministic salted u, and both engines
  // rank by the SAME rounded BIGINT with doc_id tiebreak.
  //
  // Integer-division portability: Spark DIV truncates toward zero,
  // DuckDB // floors — they agree only on non-negative operands, and
  // a log-RATIO sum can be negative. The per-term ratio is therefore
  // offset by +50e6 micro-nats before the per-doc sum (ln of any
  // BIGINT count is < 44 nats, so the offset keeps every term
  // non-negative at any conceivable corpus size) and the offset is
  // subtracted back AFTER the division.
  //
  // 100 TB posture: two narrow (term, count) vocab aggs, the ratio
  // table broadcast-probed (q90's shape), per-doc sums collapsing
  // map-side, and the global cut riding the bounded topk_by_score
  // partial aggregate — ≤ k rows per task cross the final exchange.
  def q110(spark: SparkSession, dir: String): DataFrame = {
    val Offset = 50000000L
    val docs = tbl(spark, dir, "documents")
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(toks).as("term"))
    val vb = tok.groupBy(col("term")).agg(count(lit(1)).as("cb"))
    val vt = tok.filter(col("lang") === "en")
      .groupBy(col("term")).agg(count(lit(1)).as("ct"))
    def zE6(v: DataFrame, c: String, out: String): DataFrame = v
      .agg((sum(col(c)) + count(lit(1))).cast("double").as("z"))
      .select(round(log(col("z")) * 1e6).cast("long").as(out))
    val zb = zE6(vb, "cb", "ln_zb_e6")
    val zt = zE6(vt, "ct", "ln_zt_e6")
    // per-side add-one smoothing; a term unseen in the target gets
    // ln(0+1) = 0 exactly via the left join's NULL -> 0 count
    val termLr = vb.join(vt, Seq("term"), "left")
      .select(col("term"),
        (round(log((coalesce(col("ct"), lit(0L)) + 1).cast("double")) * 1e6)
          .cast("long")
          - round(log((col("cb") + 1).cast("double")) * 1e6).cast("long")
          + Offset).as("lrk_e6"))
    val h = call_function("md5_long60",
      concat(lit("isamp:"), col("doc_id").cast("string")))
    // u in (0, 1): clamped one double-ulp below 1 (identically in
    // both engines) so -ln(-ln(u)) never hits the u = 1 pole
    val u = least((h + 1).cast("double") / lit(1152921504606846976.0),
      lit(0.9999999999999999))
    val gE6 = round(-log(-log(u)) * 1e6).cast("long")
    tok.join(broadcast(termLr), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("lrk_e6")).as("sum_lrk_e6"))
      .crossJoin(broadcast(zt)).crossJoin(broadcast(zb))
      .select(col("doc_id"),
        (expr("sum_lrk_e6 DIV n_toks") - Offset
          - (col("ln_zt_e6") - col("ln_zb_e6")) + gE6).as("key_e6"))
      .agg(call_function("topk_by_score",
        col("key_e6"), col("doc_id"), lit(20)).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("key_e6"))
  }

  val q110Sql: String = {
    val h = md5IntSql("'isamp:' || CAST(doc_id AS VARCHAR)")
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), vb AS (
       |  SELECT term, count(*) AS cb FROM tok GROUP BY term
       |), vt AS (
       |  SELECT term, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY term
       |), zb AS (
       |  SELECT CAST(round(ln(CAST(sum(cb) + count(*) AS DOUBLE)) * 1e6)
       |    AS BIGINT) AS ln_zb_e6 FROM vb
       |), zt AS (
       |  SELECT CAST(round(ln(CAST(sum(ct) + count(*) AS DOUBLE)) * 1e6)
       |    AS BIGINT) AS ln_zt_e6 FROM vt
       |), tl AS (
       |  SELECT vb.term,
       |    CAST(round(ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
       |    - CAST(round(ln(CAST(cb + 1 AS DOUBLE)) * 1e6) AS BIGINT)
       |    + 50000000 AS lrk_e6
       |  FROM vb LEFT JOIN vt USING (term)
       |), d AS (
       |  SELECT doc_id, count(*) AS n_toks,
       |    CAST(sum(lrk_e6) AS BIGINT) AS sum_lrk_e6
       |  FROM tok JOIN tl USING (term) GROUP BY doc_id
       |), sc AS (
       |  SELECT doc_id,
       |    sum_lrk_e6 // n_toks - 50000000
       |    - ((SELECT ln_zt_e6 FROM zt) - (SELECT ln_zb_e6 FROM zb))
       |    + CAST(round(-ln(-ln(least(CAST(($h) + 1 AS DOUBLE)
       |        / 1152921504606846976.0, 0.9999999999999999))) * 1e6)
       |      AS BIGINT) AS key_e6
       |  FROM d
       |), r AS (
       |  SELECT doc_id, key_e6,
       |    row_number() OVER (ORDER BY key_e6 DESC, doc_id) AS rk
       |  FROM sc
       |)
       |SELECT CAST(rk AS INT) AS rank, doc_id, CAST(key_e6 AS BIGINT) AS key_e6
       |FROM r WHERE rk <= 20 ORDER BY rank""".stripMargin
  }

  // ---- q111: corpus drift monitor (delta vs base token rates) ----
  // The standing check a continuously-fed corpus runs on every crawl
  // batch: which terms' rates moved most between the incoming delta
  // (q107's fixture batch) and the base? Ranked by the EXACT
  // cross-multiplied rate difference |cd*Nb - cb*Nd| — pure integer,
  // no logs, no floats, so both engines rank identically down to the
  // term tiebreak. Computed join-free: the two sides union with a tag
  // and collapse in ONE (term, conditional-count) aggregate.
  //
  // Arithmetic bounds: the cross product is computed in
  // decimal(38,0)/HUGEINT, exact past any BIGINT corpus (cd*Nb at
  // 1e12 x 2e13 overflows int64 exactly in the regime the monitor
  // targets); the e6 rates use BIGINT (cd*1e6 < 2^63 until a single
  // TERM exceeds ~9e12 occurrences — beyond any real vocabulary).
  //
  // 100 TB posture: one narrow (term, cd, cb) shuffle with map-side
  // partials, a single-row totals broadcast, TakeOrdered top-20.
  def q111(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val tagged = docs.select(explode(toks).as("term"), lit(0L).as("side"))
      .union(q107Delta(docs)
        .select(explode(toks).as("term"), lit(1L).as("side")))
    driftReadout(tagged.groupBy(col("term")).agg(
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("cd"),
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("cb")))
  }

  /** The drift readout over a collapsed (term, cd, cb) count table —
    * shared by q111 (batch) and [[graft.streaming.DriftStream]]'s
    * finisher. Runs on vocab-sized rows, never the token stream.
    */
  private[graft] def driftReadout(agg: DataFrame): DataFrame = {
    val tot = agg.agg(sum(col("cd")).as("nd"), sum(col("cb")).as("nb"))
    agg.crossJoin(broadcast(tot))
      .select(col("term"), col("cd"), col("cb"),
        // internal widening stays decimal(38,0); the OUTPUT narrows to
        // int64 because DuckDB HUGEINT degrades to float64 through a
        // pandas round-trip (1222425.0 vs 1222425 → hash drift). The
        // narrow is safe while |diff| < 2^63, i.e. until cd*Nb crosses
        // ~9.2e18 — a per-term count times the OTHER side's corpus
        // total; monitors past that re-rank on a coarser unit.
        abs(col("cd").cast("decimal(19,0)") * col("nb")
          - col("cb").cast("decimal(19,0)") * col("nd"))
          .cast("decimal(38,0)").cast("long").as("diff_x"),
        // nullif: under ANSI (Spark 4 default) DIV 0 THROWS — a
        // zero-count side (the standing monitor polled before any
        // delta lands) must read as NULL rates, not crash the
        // dashboard; values are unchanged whenever the side is
        // non-empty, which q111's oracle parity covers
        expr("cd * 1000000 DIV nullif(nd, 0)").as("rate_d_e6"),
        expr("cb * 1000000 DIV nullif(nb, 0)").as("rate_b_e6"))
      .orderBy(col("diff_x").desc, col("term"))
      .limit(20)
  }

  /** (term, `out`) token counts for a (doc_id, text) relation — the
    * count-table half of the drift decomposition (counts ADD, so
    * per-micro-batch partials re-aggregate exactly).
    */
  private[graft] def termCounts(docs: DataFrame, out: String): DataFrame =
    docs.select(explode(toks).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as(out))

  val q111Sql: String =
    s"""WITH delta AS (
       |  SELECT doc_id + 1000000 AS doc_id,
       |    array_to_string(toks[1:len(toks)-3], ' ') AS text
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM documents)
       |  WHERE doc_id % 7 = 0 AND len(toks) > 10
       |  UNION ALL
       |  SELECT doc_id + 3000000,
       |    'fresh doc about topic ' || CAST(doc_id % 40 AS VARCHAR)
       |  FROM documents WHERE doc_id % 11 = 5
       |), tok AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term,
       |    0 AS side
       |  FROM documents
       |  UNION ALL
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')), 1
       |  FROM delta
       |), a AS (
       |  SELECT term,
       |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cd,
       |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cb
       |  FROM tok GROUP BY term
       |), t AS (
       |  SELECT sum(cd) AS nd, sum(cb) AS nb FROM a
       |)
       |SELECT term, CAST(cd AS BIGINT) AS cd, CAST(cb AS BIGINT) AS cb,
       |  CAST(abs(CAST(cd AS HUGEINT) * nb - CAST(cb AS HUGEINT) * nd)
       |       AS BIGINT) AS diff_x,
       |  CAST(cd * 1000000 // nd AS BIGINT) AS rate_d_e6,
       |  CAST(cb * 1000000 // nb AS BIGINT) AS rate_b_e6
       |FROM a, t
       |ORDER BY diff_x DESC, term LIMIT 20""".stripMargin

  // ---- q116: canonical-keeper selection (quality argmax per cluster) ----
  // The policy step AFTER cluster resolution: q47 keeps min-id per
  // cluster — the arbitrary-but-deterministic choice; a production
  // dedup keeps the BEST copy (near-dup members differ — truncations,
  // boilerplate variants), so the keeper is the quality argmax
  // (q35's score) with the id tiebreak. Composition: q47's clusters
  // join the per-doc quality scan, then ONE narrow per-cluster
  // aggregate — the argmax is `min(struct(-quality, id))`, a
  // partial-aggregable min-by (map-side combine collapses members per
  // task), NOT a window over member rows. Output is the replacement
  // map's cluster summary: (cluster, keeper, keeper_quality_e4,
  // n_members).
  def q116(spark: SparkSession, dir: String): DataFrame = {
    val docs = withNearCopies(tbl(spark, dir, "documents"))
    val clusters = graft.text.TextOps.dedupClusters(
      graft.text.TextOps.jaccardPairs(docs, 0.5))
    val quality = docs.select(col("doc_id"), qualityE4Col.as("quality_e4"))
    clusters.join(quality, col("id") === col("doc_id"))
      .groupBy(col("label").as("cluster"))
      .agg(min(struct((-col("quality_e4")).as("nq"),
        col("doc_id").as("kid"))).as("k"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("k.kid").as("keeper"),
        (-col("k.nq")).as("keeper_quality_e4"), col("n_members"))
  }

  val q116Sql: String =
    s"""WITH RECURSIVE $nearPairsCte,
      |good AS (
      |  SELECT id_a, id_b FROM pairs
      |  WHERE 1.0 * common / (na + nb - common) >= 0.5
      |), nodes AS (
      |  SELECT DISTINCT id
      |  FROM (SELECT id_a AS id FROM good UNION ALL SELECT id_b FROM good)
      |), edges AS (
      |  SELECT id_a AS a, id_b AS b FROM good
      |  UNION ALL
      |  SELECT id_b, id_a FROM good
      |), reach(n, m) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
      |), clu AS (
      |  SELECT n AS id, CAST(min(m) AS BIGINT) AS cluster
      |  FROM reach GROUP BY n
      |), tq AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      |  FROM docs
      |), p AS (
      |  SELECT doc_id, $qualityE4Sql AS quality_e4
      |  FROM (SELECT doc_id,
      |          CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
      |            AS sum_len,
      |          len(toks) AS n_tokens,
      |          len(list_filter(toks,
      |            t -> t IN ('the','a','of','and','is','to','in')))
      |            AS stop_hits
      |        FROM tq)
      |), j AS (
      |  SELECT c.cluster, c.id AS doc_id, p.quality_e4
      |  FROM clu c JOIN p ON p.doc_id = c.id
      |), r AS (
      |  SELECT cluster, doc_id, quality_e4,
      |    row_number() OVER (PARTITION BY cluster
      |                       ORDER BY quality_e4 DESC, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY cluster) AS nm
      |  FROM j
      |)
      |SELECT cluster, doc_id AS keeper, quality_e4 AS keeper_quality_e4,
      |  CAST(nm AS BIGINT) AS n_members
      |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin

  // ---- q117: similarity-graph rank (integer power iteration) ----
  // Representative-document scoring over the near-dup graph: 3
  // damped power iterations (PageRank form, d = 0.85) on the q47
  // pair graph, so each dup family surfaces its most CENTRAL member
  // — the doc most similar to the most others — rather than q116's
  // quality argmax or q47's arbitrary min id. A different iterative
  // law than CC: messages are WEIGHTED (rank/degree) and summed, not
  // min-folded, so the operator exercises the propagate-aggregate
  // shape at a fixed iteration count instead of to convergence.
  //
  // Exactness: all arithmetic is integer — initial mass 1e12 per
  // node, per-edge contribution `pr DIV deg`, update
  // `floor(0.15 * 1e12) + (85 * sum) DIV 100` — both engines floor
  // identically, no float ever appears. Headroom: sum(contributions)
  // is bounded by total mass (n * 1e12), so 85 * sum stays under
  // 2^63 until n ~ 10^5 graph nodes per connected region at this
  // scale constant; shrink the mass constant with log2(n) headroom
  // at larger graphs.
  //
  // 100 TB posture: the pair pipeline is the q33/q47 machinery (one
  // digest pass, capped buckets); the iteration exchanges are narrow
  // (id, pr) and (dst, contribution) rows — per round, one join on
  // the repartition-aligned edge list and one sum aggregate; the
  // final readout is a bounded TakeOrdered top-20. Fixed 3 rounds =
  // fixed plan depth, no convergence job.
  def q117(spark: SparkSession, dir: String): DataFrame = {
    val docs = withNearCopies(tbl(spark, dir, "documents"))
    // shuffle-barrier the confirmed pairs: both union branches below
    // read the one pair-agg exchange (ReusedExchange) instead of
    // re-running the digest pipeline per direction
    val pairs = graft.text.TextOps.jaccardPairs(docs, 0.5)
      .select(col("id_a"), col("id_b")).repartition(col("id_a"))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("src"))
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    var pr = deg.select(col("id"), lit(1000000000000L).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(pr.join(deg, "id").withColumnRenamed("id", "src"), "src")
        .select(col("dst"), expr("pr DIV deg").as("c"))
      pr = contrib.groupBy(col("dst").as("id"))
        .agg(expr("150000000000 + (85 * sum(c)) DIV 100").as("pr"))
    }
    pr.select(col("id").as("doc_id"), col("pr").as("rank_e12"))
      .orderBy(col("rank_e12").desc, col("doc_id")).limit(20)
  }

  val q117Sql: String = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT e.dst AS id,
         |    150000000000 + (85 * sum(r.pr // d.deg)) // 100 AS pr
         |  FROM edges e
         |  JOIN $prev r ON r.id = e.src
         |  JOIN deg d ON d.id = e.src
         |  GROUP BY e.dst
         |)""".stripMargin
    s"""WITH $nearPairsCte,
       |good AS (
       |  SELECT id_a, id_b FROM pairs
       |  WHERE 1.0 * common / (na + nb - common) >= 0.5
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM good
       |  UNION ALL
       |  SELECT id_b, id_a FROM good
       |), deg AS (
       |  SELECT src AS id, count(*) AS deg FROM edges GROUP BY src
       |), r0 AS (
       |  SELECT id, CAST(1000000000000 AS BIGINT) AS pr FROM deg
       |), ${iter("r0", "r1")}, ${iter("r1", "r2")}, ${iter("r2", "r3")}
       |SELECT id AS doc_id, CAST(pr AS BIGINT) AS rank_e12
       |FROM r3 ORDER BY pr DESC, id LIMIT 20""".stripMargin
  }

  // ---- q121: BM25 lexical retrieval (top-10 for a fixed query) ----
  // The lexical half of a RAG retrieval stack (the vector half is
  // q40/q62/q71): Okapi BM25 over the corpus for a fixed 4-term
  // query, k1 = 1.2, b = 0.75. Everything after the per-term idf is
  // INTEGER: with the exact rationals k1 = 6/5, b = 3/4, the
  // per-term score idf * tf*(k1+1) / (tf + k1*(1-b) + k1*b*len/avg)
  // multiplies through by 10*N*avg = 10*SL into
  //   idf_e6 * 22*tf*SL div (10*tf*SL + 3*SL + 9*len*N)
  // — one floor division per term (decimal/HUGEINT-widened products,
  // the q119/q120 pattern), summed in FIXED query-term order, so no
  // float accumulation order exists to diverge. The idfs themselves
  // are ln-based e6 integers (the q90 micro-nat pattern; libm parity
  // across engines is q90's long-standing precedent).
  //
  // 100 TB posture: the stats row (N, SL, per-term dfs -> idfs) is
  // ONE corpus aggregate broadcast back as a single row; scoring is
  // map-only per doc against the broadcast; the readout is a bounded
  // TakeOrdered top-10. An inverted index would serve point queries
  // faster, but for batch scoring (RAG corpus preparation) the scan
  // IS the right plan — every doc must be scored anyway.
  def q121(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("table", "stream", "join", "key")
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), toks.as("tk"))
      .withColumn("len", size(col("tk")).cast("long"))
    val stats = docs.agg(
      count(lit(1)).as("nn"),
      sum(col("len")).as("sl") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("tk"), t), 1L).otherwise(0L))
            .as(s"df$i")
        }: _*)
    val withIdf = stats.select(col("nn") +: col("sl") +:
      terms.indices.map { i =>
        round(log(lit(1.0) +
          (col("nn") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
          * 1e6).cast("long").as(s"idf$i")
      }: _*)
    val tfd = terms.zipWithIndex.foldLeft(
      docs.crossJoin(broadcast(withIdf))) { case (df, (t, i)) =>
        df.withColumn(s"tf$i",
          size(filter(col("tk"), x => x === lit(t))).cast("long"))
    }
    val contrib = terms.indices.map { i =>
      expr(s"CAST((CAST(idf$i AS DECIMAL(38,0)) * tf$i * sl * 22) div " +
        s"(10 * CAST(tf$i AS DECIMAL(38,0)) * sl + 3 * sl + " +
        s"9 * CAST(len AS DECIMAL(38,0)) * nn) AS LONG)")
    }.reduce(_ + _)
    tfd.select(col("doc_id"), contrib.as("score_e6"))
      .filter(col("score_e6") > 0)
      .orderBy(col("score_e6").desc, col("doc_id"))
      .limit(10)
  }

  val q121Sql: String = {
    val terms = Seq("table", "stream", "join", "key")
    val tfSel = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(",\n    ")
    val dfSel = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(tk, '$t') THEN 1 ELSE 0 END) AS df$i"
    }.mkString(",\n    ")
    val idfSel = terms.indices.map { i =>
      s"CAST(round(ln(1.0 + (nn - df$i + 0.5) / (df$i + 0.5)) * 1000000, 0) AS BIGINT) AS idf$i"
    }.mkString(",\n    ")
    val contrib = terms.indices.map { i =>
      s"CAST((CAST(idf$i AS HUGEINT) * tf$i * sl * 22) // " +
        s"(10 * CAST(tf$i AS HUGEINT) * sl + 3 * sl + 9 * CAST(len AS HUGEINT) * nn) AS BIGINT)"
    }.mkString("\n    + ")
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
       |  FROM documents
       |), dd AS (
       |  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS len,
       |    $tfSel
       |  FROM d
       |), st AS (
       |  SELECT count(*) AS nn, CAST(sum(len) AS BIGINT) AS sl,
       |    $dfSel
       |  FROM dd
       |), si AS (
       |  SELECT nn, sl,
       |    $idfSel
       |  FROM st
       |), sc AS (
       |  SELECT doc_id,
       |    $contrib AS score_e6
       |  FROM dd, si
       |)
       |SELECT doc_id, score_e6 FROM sc
       |WHERE score_e6 > 0
       |ORDER BY score_e6 DESC, doc_id LIMIT 10""".stripMargin
  }

  // ---- q112: containment near-dup (asymmetric excerpt detection) ----
  // The pass a dedup pipeline runs BESIDE Jaccard (q33): containment
  // `common / min(na, nb)` flags a short excerpt embedded in a long
  // parent — a relationship whose Jaccard is only ~len(excerpt) /
  // len(parent), structurally below any near-dup threshold. Fixture:
  // every 11th doc with > 20 tokens plants its FIRST-HALF excerpt at
  // doc_id + 2000000; a contiguous half's 5-shingles are a subset of
  // the parent's, so each planted pair confirms at containment 1.0
  // while its Jaccard sits near 0.5 — exactly the gap the metric
  // exists to close. Same capped inverted-index core as q33
  // (TextOps.shinglePairCounts); both metrics are emitted per pair.
  def q112(spark: SparkSession, dir: String): DataFrame =
    TextOps.containmentPairs(withExcerpts(tbl(spark, dir, "documents")), 0.9)

  /** documents ∪ planted first-half excerpts of every 11th doc with
    * > 20 tokens (at doc_id + 2000000).
    */
  private def withExcerpts(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    d.union(d
      .filter(col("doc_id") % 11 === 0 && size(toks) > 20)
      .select(Fixtures.plantedId(col("doc_id"), 2000000L).as("doc_id"),
        concat_ws(" ",
          slice(toks, lit(1), floor(size(toks) / 2).cast("int"))).as("text")))
  }

  val q112Sql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000, array_to_string(toks[1:len(toks)//2], ' ')
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM documents)
       |  WHERE doc_id % 11 = 0 AND len(toks) > 20
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 5 THEN []::BIGINT[]
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 3),
       |                i -> ${md5IntSql("array_to_string(toks[i:i+4], ' ')")} % $MinHashP))
       |         END AS sh
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM docs)
       |), inv AS (
       |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
       |  FROM sh
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
       |    count(*) AS common
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT id_a, id_b, common,
       |  CAST(round(10000.0 * common / least(na, nb), 0) AS BIGINT) AS containment_e4,
       |  CAST(round(10000.0 * common / (na + nb - common), 0) AS BIGINT) AS jaccard_e4
       |FROM pairs
       |WHERE 1.0 * common / least(na, nb) >= 0.9
       |ORDER BY id_a, id_b""".stripMargin

  // ---- q132: compression-ratio curation signal (zlib, native) ----
  // The CCNet/RefinedWeb-style cheap repetition probe: a document's
  // DEFLATE ratio (raw UTF-8 bytes / compressed bytes) separates
  // boilerplate (compresses far better than prose) from
  // high-entropy junk (barely compresses) in one map-only pass —
  // no tokenization, no shuffle, the signal every curation stack
  // computes before anything expensive. The compressor is the JDK's
  // own zlib behind the codegen'd `deflate_len` native
  // ([[graft.functions.DeflateLen]]).
  //
  // Oracle strategy (the q129/q130 posture): compressed sizes are
  // not closed-form, so the gate plants two payload classes from
  // doc_id alone — never reading `text`, so the query replays at any
  // SF/replica — whose ratios sit FAR on either side of the 3.0
  // flag threshold: cls 0 repeats a 24-char phrase 8-24x (measured
  // ratio > 4.5 at the shortest plant), cls 1 chains 8 md5 hexes
  // (256 chars of 4-bit/char entropy, ratio < 2). The oracle
  // recomputes raw_len and the flag closed-form; DeflateLenSpec pins
  // the actual ratio margins and an inflate round-trip so a wrong
  // length can't hide behind the wide threshold.
  //
  // 100 TB posture: map-only scan (PlanSpec-pinned zero
  // exchanges); the per-row cost is zlib over ~200
  // bytes, and the output is 4 narrow columns — the payload never
  // shuffles.
  def q132(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val body = when(id % 2 === 0,
        repeat(lit("the quick data pipeline "), (lit(8) + id % 17).cast("int")))
      .otherwise(concat((0 until 8).map(k =>
        md5(concat(id.cast("string"), lit(s":$k")))): _*))
    tbl(spark, dir, "documents")
      .select(id,
        (id % 2).cast("int").as("cls"),
        // BYTES, not chars: the ratio compares byte counts, and the
        // one flag definition (TextOps.repetitiveFlag — shared with
        // the QualityStream monitor) is byte-based; the planted
        // classes are ASCII so the oracle's closed forms hold either
        // way, but CJK-heavy real documents flag 3x differently
        octet_length(body).cast("long").as("raw_len"),
        TextOps.repetitiveFlag(body).cast("int").as("is_repetitive"))
  }

  val q132Sql: String =
    """SELECT doc_id, CAST(doc_id % 2 AS INT) AS cls,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 24 * (8 + doc_id % 17)
      |            ELSE 256 END AS BIGINT) AS raw_len,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
      |    AS is_repetitive
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q142: HTML/boilerplate main-content extraction ----
  // The CCNet/RefinedWeb front door (REAL-CRAWL HARDENED): every
  // text operator above starts from clean `text`, but real crawl curation starts
  // from HTML. Planted closed-form pages wrap each doc's
  // (ASCII-sanitized) text in the full boilerplate zoo — doctype,
  // title, UPPERCASE style/script tags with attributes containing
  // `>` inside quotes, a comment carrying markup that must never
  // leak, a link-dense nav, a short quoted-attr menu div, an
  // entity-laden always-long second content block (named + decimal +
  // hex + out-of-ASCII + unknown entities), a CDATA-wrapped third
  // content block, a link-bearing footer — and Html.extractMain
  // (comment strip, CDATA unwrap, script/style drop, case-insensitive
  // quoted-attribute-safe block segmentation, tag strip + single-pass
  // entity decode + whitespace collapse, visible-length +
  // link-density gate) must recover exactly the content blocks. The
  // DuckDB oracle replays the SAME pipeline over the SAME planted
  // page (both engines' regexes stay inside the java.util.regex /
  // RE2 intersection — see Html's scaladoc), so a boundary slip in
  // any stage hash-fails.
  //
  // Composition: Html.extractMain is the optional front stage of
  // q61's curation — HtmlSpec proves curate(extracted html docs)
  // equals curate(clean docs) row-for-row on wrapped corpora; q159
  // runs it as the composed v3 pipeline's stage 0.
  //
  // 100 TB posture: map-only (a few regex passes plus one
  // split/interleave per document, the q34/q35 cost class); zero
  // shuffle.
  def q142(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Html
    val id = col("doc_id")
    // sanitize organic text to ASCII-printable minus <>& so the
    // planted page's tag/entity structure is exactly what we planted
    // (and space stays the only whitespace — regex-parity guard)
    val t = regexp_replace(
      regexp_replace(coalesce(col("text"), lit("")), "[^ -~]", " "),
      "[<>&]", " ")
    val s = (c: Column) => c.cast("string")
    val html = concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), s(id),
      lit("</title><STYLE media=\"x>y\">body{c:#"), s(id % 10),
      lit("}</STYLE>"),
      lit("<SCRIPT data-q=\"a>b\">var x="), s(id), lit(";</script >"),
      lit("</head><body>"),
      lit("<!-- <p>secret comment words that must never leak "), s(id),
      lit("</p> -->"),
      lit("<nav><a href=\"/h\">Home</a> <a href=\"/a\">About</a></nav>"),
      lit("<DIV CLASS=\"menu > compact\">menu "), s(id % 7), lit("</DIV>"),
      lit("<p>"), t, lit("</p>"),
      lit("<p>Body section "), s(id),
      lit(" &amp; more &#65;&#x42; &quot;qq&quot; &apos;s&nbsp;tail " +
        "&#8217; &bad; "),
      expr("repeat('content words matter here ', CAST(3 + doc_id % 4 AS INT))"),
      lit("</p>"),
      lit("<p><![CDATA[cdata text with <raw> marker "), s(id % 5),
      lit("]]> plus enough visible characters to pass</p>"),
      lit("<footer><a href=\"/c\">Contact</a> (c) "), s(id % 100),
      lit("</footer></body></html>"))
    // scale-adaptive fan-out: the extraction is the suite's
    // heaviest per-row map work and the fixture scan is one
    // unsplittable rowgroup — serial without this (measured 4.3 s
    // 1-task vs ~1 s fanned; no-op at production scale, see
    // ScanFanOut)
    graft.operators.ScanFanOut(tbl(spark, dir, "documents"))
      .select(id, Html.extractMain(html).as("m"))
      .select(id,
        md5(col("m.content")).as("content_md5"),
        length(col("m.content")).cast("long").as("content_len"),
        col("m.n_blocks"), col("m.n_kept"))
  }

  val q142Sql: String = {
    import graft.text.Html
    val q = Html.sqlQuote _
    // single-pass entity decode of ents[j] (mirrors
    // Html.decodeEntities' when-chain; numeric gate 32..126)
    val cp = "(CASE WHEN substr(ents[j],1,2)='#x' THEN " +
      "try_cast('0x'||substr(ents[j],3) AS BIGINT) " +
      "ELSE try_cast(substr(ents[j],2) AS BIGINT) END)"
    val dec = "CASE WHEN ents[j]='amp' THEN '&' " +
      "WHEN ents[j]='lt' THEN '<' WHEN ents[j]='gt' THEN '>' " +
      "WHEN ents[j]='quot' THEN '\"' WHEN ents[j]='apos' THEN chr(39) " +
      s"WHEN ents[j]='nbsp' THEN ' ' ELSE (CASE WHEN $cp BETWEEN 32 " +
      s"AND 126 THEN chr(CAST($cp AS INT)) ELSE '&'||ents[j]||';' " +
      "END) END"
    s"""WITH src AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(coalesce(text, ''),
       |      '[^ -~]', ' ', 'g'), '[<>&]', ' ', 'g') AS t
       |  FROM documents
       |), page AS (
       |  SELECT doc_id,
       |    '<!DOCTYPE html><html><head><title>Doc ' ||
       |    CAST(doc_id AS VARCHAR) ||
       |    '</title><STYLE media="x>y">body{c:#' ||
       |    CAST(doc_id % 10 AS VARCHAR) || '}</STYLE>' ||
       |    '<SCRIPT data-q="a>b">var x=' || CAST(doc_id AS VARCHAR) ||
       |    ';</script >' || '</head><body>' ||
       |    '<!-- <p>secret comment words that must never leak ' ||
       |    CAST(doc_id AS VARCHAR) || '</p> -->' ||
       |    '<nav><a href="/h">Home</a> <a href="/a">About</a></nav>' ||
       |    '<DIV CLASS="menu > compact">menu ' ||
       |    CAST(doc_id % 7 AS VARCHAR) || '</DIV>' ||
       |    '<p>' || t || '</p>' ||
       |    '<p>Body section ' || CAST(doc_id AS VARCHAR) ||
       |    ' &amp; more &#65;&#x42; &quot;qq&quot; &apos;s&nbsp;tail ' ||
       |    '&#8217; &bad; ' ||
       |    repeat('content words matter here ',
       |      CAST(3 + doc_id % 4 AS BIGINT)) || '</p>' ||
       |    '<p><![CDATA[cdata text with <raw> marker ' ||
       |    CAST(doc_id % 5 AS VARCHAR) ||
       |    ']]> plus enough visible characters to pass</p>' ||
       |    '<footer><a href="/c">Contact</a> (c) ' ||
       |    CAST(doc_id % 100 AS VARCHAR) ||
       |    '</footer></body></html>' AS html
       |  FROM src
       |), c1 AS (
       |  SELECT doc_id, regexp_replace(html,
       |    '${q(Html.CommentPattern)}', ' ', 'g') AS h FROM page
       |), c2 AS (
       |  SELECT doc_id, regexp_replace(h,
       |    '${q(Html.CdataPattern)}', '\\1', 'g') AS h FROM c1
       |), c3 AS (
       |  SELECT doc_id, regexp_replace(h,
       |    '${q(Html.NoisePattern)}', ' ', 'g') AS h FROM c2
       |), blocks AS (
       |  SELECT doc_id, str_split_regex(h,
       |    '${q(Html.BlockTagPattern)}') AS bs
       |  FROM c3
       |), flat AS (
       |  SELECT doc_id, unnest(range(1, len(bs)+1)) AS i,
       |    unnest(bs) AS b FROM blocks
       |), strip AS (
       |  SELECT doc_id, i,
       |    regexp_replace(b, '${q(Html.TagPattern)}', ' ', 'g') AS sb,
       |    len(regexp_extract_all(b, '${q(Html.LinkPattern)}')) AS links
       |  FROM flat
       |), seg AS (
       |  SELECT doc_id, i, links,
       |    str_split_regex(sb, '${q(Html.EntitySplitPattern)}') AS segs,
       |    regexp_extract_all(sb, '${q(Html.EntityPattern)}', 1) AS ents
       |  FROM strip
       |), decd AS (
       |  SELECT doc_id, i, links,
       |    coalesce(array_to_string(list_transform(range(1, len(ents)+1),
       |      j -> segs[j] || $dec), ''), '') || segs[len(segs)] AS dx
       |  FROM seg
       |), vis AS (
       |  SELECT doc_id, i, links,
       |    trim(regexp_replace(dx, '[ \\t\\r\\n]+', ' ', 'g')) AS v
       |  FROM decd
       |), scored AS (
       |  SELECT doc_id,
       |    coalesce(list(v ORDER BY i) FILTER (WHERE
       |      length(v) >= ${Html.MinBlockChars} AND
       |      length(v) >= links * ${Html.CharsPerLink}),
       |      []::VARCHAR[]) AS kept,
       |    count(*) FILTER (WHERE length(v) > 0) AS n_blocks
       |  FROM vis GROUP BY doc_id
       |)
       |SELECT doc_id,
       |  md5(array_to_string(kept, ' ')) AS content_md5,
       |  CAST(length(array_to_string(kept, ' ')) AS BIGINT) AS content_len,
       |  CAST(n_blocks AS BIGINT) AS n_blocks,
       |  CAST(len(kept) AS BIGINT) AS n_kept
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ---- q143: URL canonicalization + blocklist filter ----
  // The step between the crawl and q61's curation: raw crawl URLs arrive in every casing/port/fragment/query
  // variant, and dedup-by-URL or blocklist filtering is meaningless
  // until they canonicalize. Rules (the standard WHATWG-ish subset,
  // all expressible as Column regex combinators in the RE2∩Java
  // dialect): scheme + host lowercased, DEFAULT port stripped (:80
  // http, :443 https; others kept), fragment dropped, query params
  // sorted bytewise with utm_* tracking params removed, path kept
  // verbatim (paths are case-sensitive). The blocklist is a broadcast
  // dim keyed on the registrable domain — the q77 prejoin shape.
  //
  // Planted messy URLs from doc_id cycle through every rule: mixed
  // case scheme/host, default AND non-default ports, unsorted +
  // tracking-polluted queries, fragments. Both engines build and
  // canonicalize the same strings, so a slipped rule hash-fails.
  //
  // 100 TB posture: map-only canonicalization + one broadcast hash
  // join against the (tiny) blocklist dim; zero data shuffle.
  def q143(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val id = col("doc_id")
    val s = (c: Column) => c.cast("string")
    // messy planted URL: HTTPS/Http x case-mixed host x default/
    // non-default/absent port x 4 query shapes x fragment every 5th
    val url = concat(
      when(id % 2 === 0, lit("HTTPS")).otherwise(lit("Http")),
      lit("://WwW.sItE"), s(id % 7), lit(".ExAmPle"),
      when(id % 3 === 0,
        when(id % 2 === 0, lit(":443")).otherwise(lit(":80")))
        .when(id % 3 === 1, lit(":8080")).otherwise(lit("")),
      lit("/P/"), s(id),
      when(id % 4 === 0, lit("?b=2&a=1&utm_source=x"))
        .when(id % 4 === 1, lit("?z=9"))
        .when(id % 4 === 2, lit("?utm_medium=m")).otherwise(lit("")),
      when(id % 5 === 0, concat(lit("#Frag"), s(id))).otherwise(lit("")))
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
    val hostport = regexp_extract(noFrag, "^[A-Za-z]+://([^/?#]+)", 1)
    // userinfo stripped at the LAST '@', bracket-aware host capture,
    // single trailing root-dot stripped — graft.text.Urls.hostOf's
    // full hardened rule, mirrored expression-for-expression in the
    // oracle SQL below so the two cannot drift (a '^([^:]+)' capture
    // would parse '[2001:db8::1]' as '[2001');
    // the fixture carries none of these forms, so output is unchanged
    val noUser = regexp_replace(hostport, "^.*@", "")
    val host = regexp_replace(
      lower(regexp_extract(noUser, "^(\\[[^\\]]*\\]|[^:]+)", 1)),
      "\\.$", "")
    // a bracketed host ends in ']', so the port capture cannot match
    // inside the brackets
    val port = regexp_extract(noUser, ":([0-9]+)$", 1)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val rest = regexp_extract(noFrag, "^[A-Za-z]+://[^/?#]+([^#]*)", 1)
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val params = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^utm_")))
    val canon = concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
    val domain = regexp_extract(host, "([a-z0-9-]+\\.[a-z]+)$", 1)
    val blocklist = Seq("site0.example", "site3.example")
      .toDF("blocked_domain")
    tbl(spark, dir, "documents")
      .select(id, canon.as("canon_url"), domain.as("domain"))
      .join(broadcast(blocklist),
        col("domain") === col("blocked_domain"), "left")
      .select(id, col("canon_url"), col("domain"),
        col("blocked_domain").isNotNull.as("blocked"))
  }

  val q143Sql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'Http' END) ||
      |    '://WwW.sItE' || CAST(doc_id % 7 AS VARCHAR) || '.ExAmPle' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN
      |            CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
      |          WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
      |    '/P/' || CAST(doc_id AS VARCHAR) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '?b=2&a=1&utm_source=x'
      |          WHEN doc_id % 4 = 1 THEN '?z=9'
      |          WHEN doc_id % 4 = 2 THEN '?utm_medium=m' ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN '#Frag' || CAST(doc_id AS VARCHAR)
      |          ELSE '' END) AS url
      |  FROM documents
      |), parts AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(nf, '^([A-Za-z]+)://', 1)) AS scheme,
      |    regexp_replace(
      |      lower(regexp_extract(
      |        regexp_replace(
      |          regexp_extract(nf, '^[A-Za-z]+://([^/?#]+)', 1),
      |          '^.*@', ''),
      |        '^(\[[^\]]*\]|[^:]+)', 1)),
      |      '\.$', '') AS host,
      |    regexp_extract(
      |      regexp_replace(
      |        regexp_extract(nf, '^[A-Za-z]+://([^/?#]+)', 1),
      |        '^.*@', ''),
      |      ':([0-9]+)$', 1) AS port,
      |    regexp_extract(
      |      regexp_extract(nf, '^[A-Za-z]+://[^/?#]+([^#]*)', 1),
      |      '^([^?]*)', 1) AS path,
      |    regexp_extract(
      |      regexp_extract(nf, '^[A-Za-z]+://[^/?#]+([^#]*)', 1),
      |      '\?(.*)$', 1) AS query
      |  FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u)
      |), canon AS (
      |  SELECT doc_id,
      |    scheme || '://' || host ||
      |    (CASE WHEN port != '' AND NOT (scheme = 'http' AND port = '80')
      |               AND NOT (scheme = 'https' AND port = '443')
      |          THEN ':' || port ELSE '' END) ||
      |    path ||
      |    (CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&')
      |          ELSE '' END) AS canon_url,
      |    regexp_extract(host, '([a-z0-9-]+\.[a-z]+)$', 1) AS domain
      |  FROM (SELECT *,
      |          list_sort(list_filter(string_split(query, '&'),
      |            p -> p != '' AND NOT regexp_matches(p, '^utm_'))) AS ps
      |        FROM parts)
      |)
      |SELECT doc_id, canon_url, domain,
      |  domain IN ('site0.example', 'site3.example') AS blocked
      |FROM canon ORDER BY doc_id""".stripMargin

  // ---- q145: EXACT all-pairs Jaccard via prefix filtering ----
  // The lossless alternative to probabilistic LSH (q31) and to q33's
  // full inverted index (which pairs docs sharing ANY shingle —
  // near-quadratic on an overlapping corpus). Each doc indexes only
  // its n − ⌈τn⌉ + 1 globally-RAREST shingles (df asc, hash asc);
  // the prefix-filtering lemma (Bayardo WWW'07 / Xiao ICDE'08 —
  // overlap ≥ α forces the (n−α+1)-prefixes to intersect, applied
  // with α = ⌈τ·max(na,nb)⌉ ≤ each per-doc ⌈τn⌉) guarantees every
  // qualifying pair survives, so the DuckDB oracle is the BRUTE-FORCE
  // index at the same τ: hash-equality proves the filter lossless,
  // not just plausible. Every gate is integer arithmetic (τ = 7/10 as
  // a rational; exact integer ceil) — no FP in any pruning decision.
  //
  // Plants its own positives: every 5th doc with > 6 tokens gets a
  // copy (doc_id + 1,000,000) with the FIRST 2 tokens dropped —
  // distinct from q33's last-3-dropped fixture — built identically in
  // both engines. Word 4-gram shingles (vs q33's 5) keep the two
  // inventories non-overlapping end to end — and matter for speed on
  // the synthetic small-vocab corpus: 3-grams over a ~40-word
  // vocabulary collide heavily (fat prefix buckets, 3.4x q33's
  // floor), 4-grams are discriminative enough that candidate volume
  // collapses to near the true pair count.
  //
  // 100 TB posture: digest pass + df aggregate + prefix-only index
  // self-join (candidates collapse toward the true pair count because
  // prefixes hold the rarest shingles) + two doc_id-keyed verify
  // joins on compact hashed-set rows, plus PPJoin's POSITION
  // bound to the candidate join (a shared prefix token at positions
  // (i,j) witnesses overlap ≤ 1 + min(na−i, nb−j), pruned below the
  // required α) — adopted after measurement (SCALE.md):
  // no-op at this gate's τ=7/10 where df-ordering is already tight,
  // 93.7% candidate cut at τ=1/2 on a shared-boilerplate skew
  // fixture. PrefixJoinSpec measures the candidate reduction vs the
  // full index, pins the positional law, and pins equality with
  // brute force in-engine.
  def q145(spark: SparkSession, dir: String): DataFrame =
    TextOps.prefixJaccardPairs(
      withFirstCutCopies(tbl(spark, dir, "documents")), 7, 10, 4)

  /** documents ∪ planted near-copies (FIRST 2 tokens dropped) of
    * every 5th doc with > 6 tokens — q145's fixture.
    */
  private[queries] def withFirstCutCopies(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    d.union(d
      .filter(col("doc_id") % 5 === 0 && size(toks) > 6)
      .select(Fixtures.plantedId(col("doc_id"), 1000000L).as("doc_id"),
        concat_ws(" ", slice(toks, lit(3), size(toks) - 2)).as("text")))
  }

  val q145Sql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, array_to_string(toks[3:len(toks)], ' ')
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM documents)
       |  WHERE doc_id % 5 = 0 AND len(toks) > 6
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 4 THEN []::BIGINT[]
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 2),
       |                i -> ${md5IntSql("array_to_string(toks[i:i+3], ' ')")} % $MinHashP))
       |         END AS sh
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM docs)
       |), inv AS (
       |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
       |    count(*) AS common
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT id_a, id_b, common,
       |  CAST(round(10000.0 * common / (na + nb - common), 0) AS BIGINT) AS jaccard_e4
       |FROM pairs
       |WHERE common * 10 >= (na + nb - common) * 7
       |ORDER BY id_a, id_b""".stripMargin

  // ---- q150: C4-style corpus-wide line dedup ----
  // The line-granularity complement of document near-dup (q31/q33/
  // q145): boilerplate lines repeat across pages and survive doc-
  // level dedup, so C4's rule keeps each distinct LINE's first
  // occurrence only (smallest (doc_id, pos), within-doc repeats
  // included). The fixture plants exactly that shape: every doc is
  // re-lined (7-token body chunks) and wrapped in two corpus-wide
  // boilerplate lines — built identically in both engines — so the
  // keep-first path provably fires on every doc but the winners.
  //
  // 100 TB posture: line text is digested IN the scan and never
  // shuffles — keeper aggregate, survival join, and per-doc signature
  // all move 32-byte digests + integer keys only; keeper =
  // map-side-combined min aggregate + equi join (no window over the
  // corpus line table); PlanSpec pins it.
  def q150(spark: SparkSession, dir: String): DataFrame =
    // scale-adaptive fan-out: the re-line + per-line digest
    // front runs in the scan stage — serial on the one-rowgroup
    // fixture; no-op at production scale (ScanFanOut)
    TextOps.lineDedup(withBoilerLines(
      graft.operators.ScanFanOut(tbl(spark, dir, "documents"))))

  /** documents re-lined for q150: a fixed boilerplate header line,
    * the body re-chunked 7 tokens per line, a fixed footer line.
    */
  private[queries] def withBoilerLines(docs: DataFrame): DataFrame = {
    val body = transform(
      sequence(lit(0), floor((size(toks) - 1) / lit(7.0)).cast("int")),
      k => concat_ws(" ", slice(toks, k * 7 + 1, lit(7))))
    docs.select(col("doc_id"),
      concat_ws("\n",
        lit("all rights reserved contact us today"),
        array_join(body, "\n"),
        lit("subscribe to the newsletter now")).as("text"))
  }

  val q150Sql: String =
    """WITH relined AS (
      |  SELECT doc_id,
      |    'all rights reserved contact us today' || chr(10) ||
      |    array_to_string(list_transform(
      |      range(0, (len(toks) - 1) // 7 + 1),
      |      k -> array_to_string(toks[k * 7 + 1 : k * 7 + 7], ' ')),
      |      chr(10)) ||
      |    chr(10) || 'subscribe to the newsletter now' AS text
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |        FROM documents)
      |), l AS (
      |  SELECT doc_id, u.i - 1 AS pos, ls[u.i] AS line, len(ls) AS n_lines
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM relined),
      |    unnest(range(1, len(ls) + 1)) AS u(i)
      |), h AS (
      |  SELECT doc_id, pos, md5(line) AS lh,
      |    doc_id * 1000000 + pos AS rank_key
      |  FROM l
      |), k AS (
      |  SELECT lh, min(rank_key) AS keep_key FROM h GROUP BY lh
      |), kept AS (
      |  SELECT a.doc_id, a.pos, a.lh FROM h a JOIN k ON a.lh = k.lh
      |  WHERE a.rank_key = k.keep_key
      |), agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    md5(string_agg(lh, chr(10) ORDER BY pos)) AS kept_sig
      |  FROM kept GROUP BY doc_id
      |), nl AS (
      |  SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT)
      |    AS n_lines
      |  FROM relined
      |)
      |SELECT nl.doc_id, nl.n_lines,
      |  coalesce(a.n_kept, 0) AS n_kept,
      |  coalesce(a.kept_sig, md5('')) AS kept_sig
      |FROM nl LEFT JOIN agg a ON a.doc_id = nl.doc_id
      |ORDER BY nl.doc_id""".stripMargin

  // ---- q159: incremental (delta-vs-base) line dedup ----
  // The standing-crawl form of q150: a
  // release's line-digest index is a persisted artifact, and each
  // crawl delta admits lines against base ∪ its own keep-first —
  // re-crawled docs read as all-boilerplate (n_kept 0), edited docs
  // keep exactly their changed/added lines, fresh docs keep
  // everything but the boilerplate, and a within-delta duplicate
  // loses to its smaller-id twin (q150's rule applied inside the
  // batch). Delta fixture, all closed-form: A = every 9th doc
  // unchanged (re-crawl); B = every (9k+1)th doc with 5 fresh
  // md5-derived tokens appended (the 7-token relining shifts only
  // from the last partial line); C = a fully-fresh synthetic doc (21
  // md5 tokens = 3 new lines) per (9k+2)th doc; D = C's exact twin
  // at a higher id.
  //
  // 100 TB posture (TextOps.lineAdmitStats): the base index NEVER
  // shuffles — one 32-char column probed via matchedBaseDigests
  // (broadcast of the delta's distinct digests under the shared cap,
  // sort-merge fallback past it); everything else is delta-sized
  // digest machinery.
  def q159(spark: SparkSession, dir: String): DataFrame = {
    // (a ScanFanOut on this seed was tried and REVERTED — the
    // base-index and four batch parts consume the seed from several
    // eager subplans, each re-paying the repartition: measured
    // 3.7 s -> 5.3 s in-bench. The serial digest front is the
    // cheaper evil here.)
    val docs = tbl(spark, dir, "documents")
    val id = col("doc_id")
    def freshToks(n: Int, tag: String): Column = concat_ws(" ",
      (0 until n).map(k =>
        md5(concat(id.cast("string"), lit(s":$tag$k")))): _*)
    val base = withBoilerLines(docs)
    val index = TextOps.buildLineIndex(base)
    val partA = docs.filter(id % 9 === 0).select(id, col("text"))
    val partB = docs.filter(id % 9 === 1)
      .select(Fixtures.plantedId(id, 4000000L).as("doc_id"),
        concat(col("text"), lit(" "), freshToks(5, "t")).as("text"))
    val partC = docs.filter(id % 9 === 2)
      .select(Fixtures.plantedId(id, 5000000L).as("doc_id"),
        freshToks(21, "f").as("text"))
    val partD = docs.filter(id % 9 === 2)
      .select(Fixtures.plantedId(id, 6000000L).as("doc_id"),
        freshToks(21, "f").as("text"))
    // persist the constructed batch — the LineDedupStream
    // pattern applied to the one-shot query. THREE subplans evaluate
    // the batch lineage (the transport estimator, the keeper side,
    // and lineStatsFrom's n_lines scan), and the lineage is the
    // expensive part here (4-part union + relining token work); the
    // cache swaps two recomputes for reads. Bench/Verify clear the
    // cache per query.
    val batch = withBoilerLines(
      partA.unionByName(partB).unionByName(partC).unionByName(partD))
      .persist()
    TextOps.lineAdmitStats(batch, index)
  }

  val q159Sql: String = {
    def relined(src: String) =
      s"""SELECT doc_id,
         |    'all rights reserved contact us today' || chr(10) ||
         |    array_to_string(list_transform(
         |      range(0, (len(toks) - 1) // 7 + 1),
         |      k -> array_to_string(toks[k * 7 + 1 : k * 7 + 7], ' ')),
         |      chr(10)) ||
         |    chr(10) || 'subscribe to the newsletter now' AS text
         |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         |        FROM $src)""".stripMargin
    def freshToks(n: Int, tag: String) =
      s"""array_to_string(list_transform(range(0, $n),
         |      k -> md5(CAST(doc_id AS VARCHAR) || ':$tag' ||
         |        CAST(k AS VARCHAR))), ' ')""".stripMargin
    s"""WITH base_relined AS (
       |  ${relined("documents")}
       |), base_lines AS (
       |  SELECT DISTINCT md5(u.line) AS lh
       |  FROM (SELECT string_split(text, chr(10)) AS ls FROM base_relined),
       |    unnest(ls) AS u(line)
       |), delta AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 9 = 0
       |  UNION ALL
       |  SELECT doc_id + 4000000, text || ' ' || ${freshToks(5, "t")}
       |  FROM documents WHERE doc_id % 9 = 1
       |  UNION ALL
       |  SELECT doc_id + 5000000, ${freshToks(21, "f")}
       |  FROM documents WHERE doc_id % 9 = 2
       |  UNION ALL
       |  SELECT doc_id + 6000000, ${freshToks(21, "f")}
       |  FROM documents WHERE doc_id % 9 = 2
       |), relined AS (
       |  ${relined("delta")}
       |), l AS (
       |  SELECT doc_id, u.i - 1 AS pos, ls[u.i] AS line, len(ls) AS n_lines
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM relined),
       |    unnest(range(1, len(ls) + 1)) AS u(i)
       |), hh AS (
       |  SELECT doc_id, pos, md5(line) AS lh,
       |    doc_id * 1000000 + pos AS rank_key
       |  FROM l
       |), kk AS (
       |  SELECT lh, min(rank_key) AS keep_key FROM hh GROUP BY lh
       |), kept AS (
       |  SELECT a.doc_id, a.pos, a.lh FROM hh a JOIN kk ON a.lh = kk.lh
       |  WHERE a.rank_key = kk.keep_key
       |    AND NOT EXISTS (SELECT 1 FROM base_lines b WHERE b.lh = a.lh)
       |), agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    md5(string_agg(lh, chr(10) ORDER BY pos)) AS kept_sig
       |  FROM kept GROUP BY doc_id
       |), nl AS (
       |  SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT)
       |    AS n_lines
       |  FROM relined
       |)
       |SELECT nl.doc_id, nl.n_lines,
       |  coalesce(a.n_kept, 0) AS n_kept,
       |  coalesce(a.kept_sig, md5('')) AS kept_sig
       |FROM nl LEFT JOIN agg a ON a.doc_id = nl.doc_id
       |ORDER BY nl.doc_id""".stripMargin
  }

  // ---- q157: curation pipeline v2 (URL gate -> line dedup -> rules) ----
  // The crawl-side stages composed into ONE query the way a production
  // curation job runs them (q61 composed the earlier stages; this
  // extends the chain with the crawl-side front): per doc, the
  // planted messy URL (q143's fixture) canonicalizes to a registrable
  // domain and gates on the broadcast blocklist; survivors re-line
  // (q150's fixture) and run corpus-wide keep-first line dedup —
  // blocked docs are REMOVED FIRST so their lines never claim keeper
  // slots; the surviving text then takes q61's language/quality rules
  // and the salted split. One verdict row per doc, first failing rule
  // as the reason (blocked > linedup > lang > quality); 'linedup' is
  // the integer rule n_kept·2 < n_lines — a doc that lost half its
  // lines to earlier docs is mostly boilerplate.
  //
  // 100 TB posture: the composition adds nothing beyond its most
  // expensive member (q61's principle) — URL gate and signals are
  // scan projections + one broadcast, the only wide work is q150's
  // digest-keyed line machinery, and the final assembly joins on
  // doc_id.
  def q157(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = tbl(spark, dir, "documents")
    val id = col("doc_id")
    val s = (c: Column) => c.cast("string")
    // q143's planted messy URL, reduced to the domain derivation the
    // blocklist needs (host stops at ':' so ports never interfere)
    val url = concat(
      when(id % 2 === 0, lit("HTTPS")).otherwise(lit("Http")),
      lit("://WwW.sItE"), s(id % 7), lit(".ExAmPle"),
      when(id % 3 === 0,
        when(id % 2 === 0, lit(":443")).otherwise(lit(":80")))
        .when(id % 3 === 1, lit(":8080")).otherwise(lit("")),
      lit("/P/"), s(id),
      when(id % 4 === 0, lit("?b=2&a=1&utm_source=x"))
        .when(id % 4 === 1, lit("?z=9"))
        .when(id % 4 === 2, lit("?utm_medium=m")).otherwise(lit("")),
      when(id % 5 === 0, concat(lit("#Frag"), s(id))).otherwise(lit("")))
    val host = lower(regexp_extract(regexp_replace(url, "#.*$", ""),
      "^[A-Za-z]+://([^/:?#]+)", 1))
    val domain = regexp_extract(host, "([a-z0-9-]+\\.[a-z]+)$", 1)
    val blocklist = Seq("site0.example", "site3.example")
      .toDF("blocked_domain")
    val gated = docs.select(id, col("text"), domain.as("domain"))
      .join(broadcast(blocklist),
        col("domain") === col("blocked_domain"), "left")
      .withColumn("blocked", col("blocked_domain").isNotNull)
      .drop("blocked_domain")
    val lineStats = TextOps.lineDedup(
      withBoilerLines(gated.filter(!col("blocked"))
        .select(col("doc_id"), col("text"))))
      .select(col("doc_id"), col("n_lines"), col("n_kept"))
    // (computing the signals INLINE on the assembly scan measured
    // 1.32 s -> 2.30 s best-of-3 while the query still ended in a
    // range-partitioned sort, which sampled its child and so ran
    // inlined expressions twice; this broadcast-built side evaluates
    // exactly once.)
    val signals = TextOps.withLanguageId(
      gated.select(col("doc_id"), col("text")), col("text"), "lang_pred")
      .withColumn("quality_e4", qualityE4Col)
      .select(col("doc_id"), col("lang_pred"), col("quality_e4"))
    gated
      .join(lineStats, Seq("doc_id"), "left")
      .join(signals, Seq("doc_id"))
      .withColumn("split", splitLabel(spark))
      .withColumn("reason",
        when(col("blocked"), "blocked")
          .when(col("n_kept") * 2 < col("n_lines"), "linedup")
          .when(col("lang_pred") === "und", "lang")
          .when(col("quality_e4") < 5000, "quality"))
      .select(col("doc_id"), col("domain"), col("blocked"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("lang_pred"), col("quality_e4"), col("split"),
        col("reason"), col("reason").isNull.as("keep"))
  }

  val q157Sql: String =
    s"""WITH u AS (
       |  SELECT doc_id, text,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'Http' END) ||
       |    '://WwW.sItE' || CAST(doc_id % 7 AS VARCHAR) || '.ExAmPle' ||
       |    (CASE WHEN doc_id % 3 = 0 THEN
       |            CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
       |          WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
       |    '/P/' || CAST(doc_id AS VARCHAR) ||
       |    (CASE WHEN doc_id % 4 = 0 THEN '?b=2&a=1&utm_source=x'
       |          WHEN doc_id % 4 = 1 THEN '?z=9'
       |          WHEN doc_id % 4 = 2 THEN '?utm_medium=m' ELSE '' END) ||
       |    (CASE WHEN doc_id % 5 = 0 THEN '#Frag' || CAST(doc_id AS VARCHAR)
       |          ELSE '' END) AS url
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, text, domain,
       |    domain IN ('site0.example', 'site3.example') AS blocked
       |  FROM (SELECT doc_id, text,
       |          regexp_extract(
       |            lower(regexp_extract(regexp_replace(url, '#.*$$', ''),
       |              '^[A-Za-z]+://([^/:?#]+)', 1)),
       |            '([a-z0-9-]+\\.[a-z]+)$$', 1) AS domain
       |        FROM u)
       |), relined AS (
       |  SELECT doc_id,
       |    'all rights reserved contact us today' || chr(10) ||
       |    array_to_string(list_transform(
       |      range(0, (len(toks) - 1) // 7 + 1),
       |      k -> array_to_string(toks[k * 7 + 1 : k * 7 + 7], ' ')),
       |      chr(10)) ||
       |    chr(10) || 'subscribe to the newsletter now' AS text
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM b WHERE NOT blocked)
       |), l AS (
       |  SELECT doc_id, u.i - 1 AS pos, ls[u.i] AS line, len(ls) AS n_lines
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM relined),
       |    unnest(range(1, len(ls) + 1)) AS u(i)
       |), hh AS (
       |  SELECT doc_id, pos, md5(line) AS lh,
       |    doc_id * 1000000 + pos AS rank_key
       |  FROM l
       |), kk AS (
       |  SELECT lh, min(rank_key) AS keep_key FROM hh GROUP BY lh
       |), kept AS (
       |  SELECT a.doc_id FROM hh a JOIN kk ON a.lh = kk.lh
       |  WHERE a.rank_key = kk.keep_key
       |), st AS (
       |  SELECT nl.doc_id,
       |    CAST(nl.n_lines AS BIGINT) AS n_lines,
       |    CAST(coalesce(ag.n_kept, 0) AS BIGINT) AS n_kept
       |  FROM (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines
       |        FROM relined) nl
       |  LEFT JOIN (SELECT doc_id, count(*) AS n_kept FROM kept
       |             GROUP BY doc_id) ag ON ag.doc_id = nl.doc_id
       |), t AS (
       |  SELECT doc_id,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, lang_pred, quality_e4 FROM (
       |    SELECT doc_id,
       |      $langPredCaseSql AS lang_pred,
       |      $qualityE4Sql AS quality_e4
       |    FROM (SELECT doc_id,
       |            $langHitsSql,
       |            CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
       |              AS sum_len,
       |            len(toks) AS n_tokens,
       |            len(list_filter(toks,
       |              t -> t IN ('the','a','of','and','is','to','in')))
       |              AS stop_hits
       |          FROM t))
       |), j AS (
       |  SELECT doc_id, b.domain, b.blocked,
       |    st.n_lines, st.n_kept, p.lang_pred, p.quality_e4,
       |    $splitCaseSql AS split,
       |    CASE WHEN b.blocked THEN 'blocked'
       |         WHEN st.n_kept * 2 < st.n_lines THEN 'linedup'
       |         WHEN p.lang_pred = 'und' THEN 'lang'
       |         WHEN p.quality_e4 < 5000 THEN 'quality' END AS reason
       |  FROM b
       |  LEFT JOIN st USING (doc_id)
       |  JOIN p USING (doc_id)
       |)
       |SELECT doc_id, domain, blocked,
       |  coalesce(n_lines, 0) AS n_lines,
       |  coalesce(n_kept, 0) AS n_kept,
       |  lang_pred, quality_e4, split, reason,
       |  reason IS NULL AS keep
       |FROM j ORDER BY doc_id""".stripMargin

  // ---- q158: curation pipeline v3 (HTML front + cluster-aware split) ----
  // Completes the composition: q157 chained URL gate -> line dedup -> rules but started from
  // clean text and split PER DOC (q46's salted hash), so a near-dup
  // group could still straddle train/test. v3 is the full crawl
  // shape: each doc (organic ∪ planted near-copies ∪ planted THIN
  // pages) arrives as a hardened HTML page (comment, quoted-attr
  // menu, entity garnish — all q142 machinery), and the chain runs
  //   HTML extract -> thin gate -> URL canonicalize + blocklist ->
  //   corpus line dedup -> near-dup CC keeper -> lang/quality ->
  //   CLUSTER-AWARE leakage-safe split (q124: bucket on the KEEPER
  //   hash, so a whole near-dup group moves as one unit).
  // Reason priority (first failing rule, cheap-to-recheck first —
  // keep the list below in sync with the when-chain):
  //   blocked > thin > neardup > linedup > lang > quality
  // (dup-first, q61's convention: a cluster non-keeper is reported
  // as the duplicate it IS, not as the boilerplate its stolen lines
  // make it look like — with linedup first the neardup branch could
  // never fire, since a near-copy always loses its lines to its
  // earlier-id original).
  // Line-dedup and CC scope is the LIVE set (not blocked, not thin)
  // so junk docs never claim keeper slots or line ownership. The
  // blocklist is site2/site5 (NOT q157's site0/site3): the near-copy
  // plant is doc_id % 7 == 0 whose domain is site0.example, so
  // blocking site0 would gate out every planted pair's original and
  // the neardup branch could never fire.
  //
  // Oracle strategy: the wrapper's garnish blocks (title, nav, menu,
  // footer) are all constructed below extractMain's 25-char gate and
  // the organic block is sanitized to have no tags/entities/links,
  // so extraction has the closed form `v if len(v) >= 25 else ''`
  // with v = trim(collapse(sanitize(text))) — an INDEPENDENT
  // derivation of the same stage (the q129/q132 posture; q142's own
  // gate hash-checks the extraction machinery itself); every other
  // stage replays the shared q157/q33/q124 SQL.
  //
  // 100 TB posture: q61's composition principle — extraction, URL
  // gate, and signals are scan projections; the only wide work is
  // q150's digest-keyed line machinery and q47's pair+CC resolution
  // (narrow (id,label) exchanges, O(log n) rounds); the split is a
  // map-only hash over the joined keeper.
  def q158(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.Html
    val id = col("doc_id")
    val s = (c: Column) => c.cast("string")
    val base = tbl(spark, dir, "documents")
    val thinDocs = base.filter(id % 97 === 0)
      .select(Fixtures.plantedId(id, 3000000L).as("doc_id"),
        concat(lit("tiny page "), (id % 9).cast("string")).as("text"))
    // scale-adaptive fan-out: extraction below is q142's heavy
    // regex pipeline over every corpus row and the fixture scan is
    // one unsplittable rowgroup — the (doc_id, text) seed crosses one
    // tiny exchange so the page build + extraction run wide (ext
    // materialization measured 1.5 s 1-task -> 0.55 s fanned); no-op
    // at production scale (see ScanFanOut)
    val corpus = graft.operators.ScanFanOut(
      withNearCopies(base).unionByName(thinDocs))
    // stage 0: wrap in the hardened crawl page and extract
    val t = regexp_replace(
      regexp_replace(coalesce(col("text"), lit("")), "[^ -~]", " "),
      "[<>&]", " ")
    val page = concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), s(id),
      lit("</title></head><body>"),
      lit("<!-- <p>tracking markup that must never leak "), s(id),
      lit("</p> -->"),
      lit("<nav><a href=\"/h\">Home</a> <a href=\"/a\">About</a></nav>"),
      lit("<DIV CLASS=\"menu > compact\">&amp; menu "), s(id % 7),
      lit("</DIV>"),
      lit("<p>"), t, lit("</p>"),
      lit("<footer><a href=\"/c\">Contact</a> (c) "), s(id % 100),
      lit("</footer></body></html>"))
    val ext = corpus.select(id,
      Html.extractMain(page).getField("content").as("text"))
      // persisted, not a repartition barrier: FOUR sibling branches
      // consume the extracted corpus (line stats, pair/CC, signals,
      // final assembly) with DIFFERENT column sets, and Catalyst
      // pushes pruning through an exchange — the four rewritten
      // exchanges no longer canonicalize equal, so ReuseExchange
      // never fires (measured: 15 scans / 0 reused in the barrier
      // plan; the q31 trick only works for identical-column
      // consumers). The cache is (doc_id, text) — corpus-sized but
      // the same rows q61's corpus scan holds; Bench/Verify clear it
      // per query
      .persist()
    // stage 1: URL gate (q143's planted messy URL + broadcast
    // blocklist) and the thin gate (extraction yielded nothing)
    val url = concat(
      when(id % 2 === 0, lit("HTTPS")).otherwise(lit("Http")),
      lit("://WwW.sItE"), s(id % 7), lit(".ExAmPle"),
      when(id % 3 === 0,
        when(id % 2 === 0, lit(":443")).otherwise(lit(":80")))
        .when(id % 3 === 1, lit(":8080")).otherwise(lit("")),
      lit("/P/"), s(id),
      when(id % 5 === 0, concat(lit("#Frag"), s(id))).otherwise(lit("")))
    val host = lower(regexp_extract(regexp_replace(url, "#.*$", ""),
      "^[A-Za-z]+://([^/:?#]+)", 1))
    val domain = regexp_extract(host, "([a-z0-9-]+\\.[a-z]+)$", 1)
    val blocklist = Seq("site2.example", "site5.example")
      .toDF("blocked_domain")
    val gated = ext.select(id, col("text"), domain.as("domain"))
      .join(broadcast(blocklist),
        col("domain") === col("blocked_domain"), "left")
      .withColumn("blocked", col("blocked_domain").isNotNull)
      .drop("blocked_domain")
      .withColumn("thin", length(col("text")) === 0)
    val live = gated.filter(!col("blocked") && !col("thin"))
      .select(col("doc_id"), col("text"))
    // stage 2: corpus-wide line dedup over the live set
    val lineStats = TextOps.lineDedup(withBoilerLines(live))
      .select(col("doc_id"), col("n_lines"), col("n_kept"))
    // stage 3: near-dup clusters over the live set
    val clusters = TextOps.dedupClusters(TextOps.jaccardPairs(live, 0.5))
    // stage 4: language/quality signals over the live set.
    // (inlining these on the assembly scan measured q157 1.32 s ->
    // 2.30 s and q158 a wash, while both still ended in a range-
    // partitioned sort that ran inlined expressions twice; the
    // broadcast-built branch here evaluates once.)
    val signals = TextOps.withLanguageId(live, col("text"), "lang_pred")
      .withColumn("quality_e4", qualityE4Col)
      .select(col("doc_id"), col("lang_pred"), col("quality_e4"))
    // stage 5: assemble the verdict; split on the KEEPER hash
    val bucket = call_function("md5_long60",
      concat(lit("split:"), col("keeper").cast("string"))) % 100
    gated
      .join(lineStats, Seq("doc_id"), "left")
      .join(clusters, col("doc_id") === col("id"), "left").drop("id")
      .withColumn("keeper", coalesce(col("label"), col("doc_id")))
      .drop("label")
      .join(signals, Seq("doc_id"), "left")
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "valid")
          .otherwise("test"))
      .withColumn("reason",
        when(col("blocked"), "blocked")
          .when(col("thin"), "thin")
          .when(col("doc_id") =!= col("keeper"), "neardup")
          .when(col("n_kept") * 2 < col("n_lines"), "linedup")
          .when(col("lang_pred") === "und", "lang")
          .when(col("quality_e4") < 5000, "quality"))
      .select(col("doc_id"), col("domain"), col("blocked"), col("thin"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("keeper"), col("bucket"), col("split"),
        coalesce(col("lang_pred"), lit("und")).as("lang_pred"),
        coalesce(col("quality_e4"), lit(0L)).as("quality_e4"),
        col("reason"), col("reason").isNull.as("keep"))
  }

  val q158Sql: String = {
    val kb = s"${md5IntSql("'split:' || CAST(keeper AS VARCHAR)")} % 100"
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, array_to_string(toks[1:len(toks)-3], ' ')
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM documents)
       |  WHERE doc_id % 7 = 0 AND len(toks) > 10
       |  UNION ALL
       |  SELECT doc_id + 3000000, 'tiny page ' || CAST(doc_id % 9 AS VARCHAR)
       |  FROM documents WHERE doc_id % 97 = 0
       |), ext AS (
       |  SELECT doc_id, CASE WHEN length(v) >= 25 THEN v ELSE '' END AS text
       |  FROM (SELECT doc_id,
       |          trim(regexp_replace(regexp_replace(regexp_replace(
       |            coalesce(text, ''), '[^ -~]', ' ', 'g'),
       |            '[<>&]', ' ', 'g'), ' +', ' ', 'g')) AS v
       |        FROM corpus)
       |), u AS (
       |  SELECT doc_id, text,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'Http' END) ||
       |    '://WwW.sItE' || CAST(doc_id % 7 AS VARCHAR) || '.ExAmPle' ||
       |    (CASE WHEN doc_id % 3 = 0 THEN
       |            CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
       |          WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
       |    '/P/' || CAST(doc_id AS VARCHAR) ||
       |    (CASE WHEN doc_id % 5 = 0 THEN '#Frag' || CAST(doc_id AS VARCHAR)
       |          ELSE '' END) AS url
       |  FROM ext
       |), b AS (
       |  SELECT doc_id, text, domain,
       |    domain IN ('site2.example', 'site5.example') AS blocked,
       |    length(text) = 0 AS thin
       |  FROM (SELECT doc_id, text,
       |          regexp_extract(
       |            lower(regexp_extract(regexp_replace(url, '#.*$$', ''),
       |              '^[A-Za-z]+://([^/:?#]+)', 1)),
       |            '([a-z0-9-]+\\.[a-z]+)$$', 1) AS domain
       |        FROM u)
       |), live AS (
       |  SELECT doc_id, text FROM b WHERE NOT blocked AND NOT thin
       |), relined AS (
       |  SELECT doc_id,
       |    'all rights reserved contact us today' || chr(10) ||
       |    array_to_string(list_transform(
       |      range(0, (len(toks) - 1) // 7 + 1),
       |      k -> array_to_string(toks[k * 7 + 1 : k * 7 + 7], ' ')),
       |      chr(10)) ||
       |    chr(10) || 'subscribe to the newsletter now' AS text
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM live)
       |), l AS (
       |  SELECT doc_id, u.i - 1 AS pos, ls[u.i] AS line, len(ls) AS n_lines
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM relined),
       |    unnest(range(1, len(ls) + 1)) AS u(i)
       |), hh AS (
       |  SELECT doc_id, pos, md5(line) AS lh,
       |    doc_id * 1000000 + pos AS rank_key
       |  FROM l
       |), kk AS (
       |  SELECT lh, min(rank_key) AS keep_key FROM hh GROUP BY lh
       |), kept AS (
       |  SELECT a.doc_id FROM hh a JOIN kk ON a.lh = kk.lh
       |  WHERE a.rank_key = kk.keep_key
       |), st AS (
       |  SELECT nl.doc_id,
       |    CAST(nl.n_lines AS BIGINT) AS n_lines,
       |    CAST(coalesce(ag.n_kept, 0) AS BIGINT) AS n_kept
       |  FROM (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines
       |        FROM relined) nl
       |  LEFT JOIN (SELECT doc_id, count(*) AS n_kept FROM kept
       |             GROUP BY doc_id) ag ON ag.doc_id = nl.doc_id
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 5 THEN []::BIGINT[]
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 3),
       |                i -> ${md5IntSql("array_to_string(toks[i:i+4], ' ')")} % ${TextOps.MinHashP}))
       |         END AS sh
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM live)
       |), inv AS (
       |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na,
       |    b.n_sh AS nb, count(*) AS common
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4
       |), good AS (
       |  SELECT id_a, id_b FROM pairs
       |  WHERE 1.0 * common / (na + nb - common) >= 0.5
       |), nodes AS (
       |  SELECT DISTINCT id
       |  FROM (SELECT id_a AS id FROM good UNION ALL SELECT id_b FROM good)
       |), edges AS (
       |  SELECT id_a AS a, id_b AS b FROM good
       |  UNION ALL
       |  SELECT id_b, id_a FROM good
       |), reach(n, m) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
       |), cl AS (
       |  SELECT n AS id, min(m) AS label FROM reach GROUP BY n
       |), t AS (
       |  SELECT doc_id,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM live
       |), p AS (
       |  SELECT doc_id, lang_pred, quality_e4 FROM (
       |    SELECT doc_id,
       |      $langPredCaseSql AS lang_pred,
       |      $qualityE4Sql AS quality_e4
       |    FROM (SELECT doc_id,
       |            $langHitsSql,
       |            CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
       |              AS sum_len,
       |            len(toks) AS n_tokens,
       |            len(list_filter(toks,
       |              t -> t IN ('the','a','of','and','is','to','in')))
       |              AS stop_hits
       |          FROM t))
       |), j AS (
       |  SELECT b.doc_id, b.domain, b.blocked, b.thin,
       |    st.n_lines, st.n_kept,
       |    coalesce(cl.label, b.doc_id) AS keeper,
       |    p.lang_pred, p.quality_e4,
       |    CASE WHEN b.blocked THEN 'blocked'
       |         WHEN b.thin THEN 'thin'
       |         WHEN b.doc_id != coalesce(cl.label, b.doc_id) THEN 'neardup'
       |         WHEN st.n_kept * 2 < st.n_lines THEN 'linedup'
       |         WHEN p.lang_pred = 'und' THEN 'lang'
       |         WHEN p.quality_e4 < 5000 THEN 'quality' END AS reason
       |  FROM b
       |  LEFT JOIN st USING (doc_id)
       |  LEFT JOIN cl ON cl.id = b.doc_id
       |  LEFT JOIN p USING (doc_id)
       |)
       |SELECT doc_id, domain, blocked, thin,
       |  coalesce(n_lines, 0) AS n_lines,
       |  coalesce(n_kept, 0) AS n_kept,
       |  CAST(keeper AS BIGINT) AS keeper,
       |  CAST($kb AS BIGINT) AS bucket,
       |  CASE WHEN $kb < 80 THEN 'train'
       |       WHEN $kb < 90 THEN 'valid'
       |       ELSE 'test' END AS split,
       |  coalesce(lang_pred, 'und') AS lang_pred,
       |  coalesce(quality_e4, 0) AS quality_e4,
       |  reason, reason IS NULL AS keep
       |FROM j ORDER BY doc_id""".stripMargin
  }

  // ---- q160: curation over the REAL container front ----
  // Closes the last composition gap: q157/q158
  // curate from the documents parquet, but a real crawl run starts at
  // the CONTAINER boundary — shards of pages that must be walked on
  // the executors before any curation stage sees text. Here every doc
  // becomes a hardened crawl page (q158's wrap), eight consecutive
  // pages pack into one REAL ZIP shard (actual DEFLATE/STORED bytes
  // via the JDK codec — encodeZip alternates methods by member
  // index), the shard payloads are walked back with the strict
  // bodies-carrying walk (Archives.zipMembersFull — ShardIngest's
  // quarantine-whole posture), and the decoded members run the
  // curation chain: HTML extract -> thin gate -> HARDENED host gate
  // (graft.text.Urls: userinfo-safe capture + host-suffix blocklist —
  // every 11th planted URL carries `user:pass@`, the exact bypass the
  // hardened rule blocks, and the oracle mirrors that rule) ->
  // corpus line dedup -> lang/quality -> salted per-doc split.
  // Scope note: the cluster-aware split stays q158's stage (near-dup
  // CC is proven there); q160's new ground is the container boundary
  // feeding the same chain, with the walk itself observable in the
  // output (m_idx = position in the WALK, method read back from the
  // entry header, n_entries = walked member count — the oracle
  // recomputes all three closed-form, so a mis-ordered or mis-counted
  // walk hash-fails, and the text round-trips through real
  // compression so any byte corruption surfaces in every downstream
  // signal).
  //
  // 100 TB posture: the walk is map-only over each shard's bytes and
  // members never re-shuffle as pages (q136/q153's rule); downstream
  // is exactly q157's priced machinery (line dedup digests, scan
  // projections, one extracted-frame persist for the sibling
  // consumers). The shard CONSTRUCTION here (groupByKey over 8-doc
  // groups) is fixture generation — a real pipeline READS shards
  // (ShardIngest) rather than building them; the cost is labeled, not
  // hidden.
  def q160(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.{Html, Urls}
    import graft.multimodal.Archives
    val id = col("doc_id")
    val base = tbl(spark, dir, "documents")
    val shards = base
      .select(expr("doc_id DIV 8").as("shard_id"), id,
        crawlPage(id).as("page"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (sid, it) =>
        val members = it.toSeq.sortBy(_._2)
          .map { case (_, d, p) => (s"d$d.html", p.getBytes("UTF-8")) }
        (sid, Archives.encodeZip(members))
      }
    // the ingest boundary: strict executor-side walk, bodies carried
    val members = shards.flatMap { case (sid, payload) =>
      Archives.zipMembersFull(payload) match {
        case None => Iterator.empty // quarantine-whole in the service
        case Some(ms) =>
          val n = ms.size.toLong
          ms.iterator.zipWithIndex.map {
            case ((name, method, body), i) =>
              (sid, i.toLong, n,
                name.drop(1).takeWhile(_ != '.').toLong, method,
                new String(body, "UTF-8"))
          }
      }
    }.toDF("shard_id", "m_idx", "n_entries", "doc_id", "method", "html")
    val host = Urls.hostOf(crawlUrl(id))
    val gated = members.select(col("shard_id"), col("m_idx"),
        col("n_entries"), col("method"), col("doc_id"),
        Urls.displayDomain(host).as("domain"),
        Urls.blockedByHostSuffix(host,
          Seq("site0.example", "site3.example")).as("blocked"),
        Html.extractMain(col("html")).getField("content").as("text"))
      .withColumn("thin", length(col("text")) === 0)
    containerCurationTail(spark, gated,
      Seq("shard_id", "m_idx", "method", "n_entries"))
  }

  /** The hardened crawl page for `doc_id` — q158's garnish wrap over
    * the sanitized doc text; every 97th doc is a planted THIN page
    * (extraction under the 25-char gate) so the thin branch provably
    * fires. Shared by the container fronts (q160/q161), which pack
    * these pages into REAL archive bytes.
    */
  private def crawlPage(id: Column): Column = {
    val s = (c: Column) => c.cast("string")
    val t = regexp_replace(
      regexp_replace(coalesce(col("text"), lit("")), "[^ -~]", " "),
      "[<>&]", " ")
    val content = when(id % 97 === 0,
      concat(lit("tiny page "), s(id % 9))).otherwise(t)
    concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), s(id),
      lit("</title></head><body>"),
      lit("<!-- <p>tracking markup that must never leak "), s(id),
      lit("</p> -->"),
      lit("<nav><a href=\"/h\">Home</a> <a href=\"/a\">About</a></nav>"),
      lit("<DIV CLASS=\"menu > compact\">&amp; menu "), s(id % 7),
      lit("</DIV>"),
      lit("<p>"), content, lit("</p>"),
      lit("<footer><a href=\"/c\">Contact</a> (c) "), s(id % 100),
      lit("</footer></body></html>"))
  }

  /** The planted crawl URL for `doc_id` — q157's messy-URL cycle plus
    * a `user:pass@` userinfo segment every 11th doc (the
    * blocklist bypass the hardened gate must still block). Shared by
    * q160 (recomputed from doc_id) and q161 (carried as a REAL json
    * member through the tar round trip).
    */
  private def crawlUrl(id: Column): Column = {
    val s = (c: Column) => c.cast("string")
    concat(
      when(id % 2 === 0, lit("HTTPS")).otherwise(lit("Http")), lit("://"),
      when(id % 11 === 0, lit("user:pass@")).otherwise(lit("")),
      lit("WwW.sItE"), s(id % 7), lit(".ExAmPle"),
      when(id % 3 === 0,
        when(id % 2 === 0, lit(":443")).otherwise(lit(":80")))
        .when(id % 3 === 1, lit(":8080")).otherwise(lit("")),
      lit("/P/"), s(id),
      when(id % 5 === 0, concat(lit("#Frag"), s(id))).otherwise(lit("")))
  }

  /** Shared back half of the container-front curations (q160 ZIP /
    * q161 WebDataset-tar / q163 WARC-gzip / q162 cluster-aware ZIP):
    * gates -> live set -> corpus line dedup + lang/quality signals ->
    * verdict assembly with the q157 reason chain extended by `thin`.
    * `gated` carries (doc_id, domain, blocked, thin, text) plus each
    * front's own walk-observability columns (`frontCols`), which pass
    * through into the output. The gated frame is PERSISTED here:
    * the sibling consumers (line stats, signals, clusters when
    * cluster-aware, final assembly) read it with different column
    * sets — q158's measured ReuseExchange argument. (Inlining
    * the per-row signals on the assembly scan measured +0.2 s on
    * q160/q161 and +1.0 s on the unpersisted q157 while the queries
    * still ended in a range-partitioned sort, which ran inlined
    * expressions twice; this broadcast-built branch evaluates once.)
    *
    * `clusterAware = true` (q162) composes q158's near-dup stage onto
    * the container lineage: jaccardPairs + CC keeper over the live
    * set, the SPLIT bucketed on the KEEPER hash (q124's no-straddle
    * guarantee — a near-dup group never crosses train/valid/test),
    * and `neardup` in the reason chain; the output gains
    * keeper/bucket columns. `false` keeps the per-doc salted split
    * (the q160/q161/q163 scope).
    */
  private def containerCurationTail(spark: SparkSession,
      gated0: DataFrame, frontCols: Seq[String],
      clusterAware: Boolean = false): DataFrame = {
    val gated = gated0.persist()
    val live = gated.filter(!col("blocked") && !col("thin"))
      .select(col("doc_id"), col("text"))
    val lineStats = TextOps.lineDedup(withBoilerLines(live))
      .select(col("doc_id"), col("n_lines"), col("n_kept"))
    val signals = TextOps.withLanguageId(live, col("text"), "lang_pred")
      .withColumn("quality_e4", qualityE4Col)
      .select(col("doc_id"), col("lang_pred"), col("quality_e4"))
    if (!clusterAware) {
      gated
        .join(lineStats, Seq("doc_id"), "left")
        .join(signals, Seq("doc_id"), "left")
        .withColumn("split", splitLabel(spark))
        .withColumn("reason",
          when(col("blocked"), "blocked")
            .when(col("thin"), "thin")
            .when(col("n_kept") * 2 < col("n_lines"), "linedup")
            .when(col("lang_pred") === "und", "lang")
            .when(col("quality_e4") < 5000, "quality"))
        .select(Seq(col("doc_id")) ++ frontCols.map(col) ++ Seq(
          col("domain"), col("blocked"), col("thin"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("lang_pred"), lit("und")).as("lang_pred"),
          coalesce(col("quality_e4"), lit(0L)).as("quality_e4"),
          col("split"), col("reason"),
          col("reason").isNull.as("keep")): _*)
    } else {
      val clusters = TextOps.dedupClusters(TextOps.jaccardPairs(live, 0.5))
      val bucket = call_function("md5_long60",
        concat(lit("split:"), col("keeper").cast("string"))) % 100
      gated
        .join(lineStats, Seq("doc_id"), "left")
        .join(clusters, col("doc_id") === col("id"), "left").drop("id")
        .withColumn("keeper", coalesce(col("label"), col("doc_id")))
        .drop("label")
        .join(signals, Seq("doc_id"), "left")
        .withColumn("bucket", bucket)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "valid").otherwise("test"))
        .withColumn("reason",
          when(col("blocked"), "blocked")
            .when(col("thin"), "thin")
            .when(col("doc_id") =!= col("keeper"), "neardup")
            .when(col("n_kept") * 2 < col("n_lines"), "linedup")
            .when(col("lang_pred") === "und", "lang")
            .when(col("quality_e4") < 5000, "quality"))
        .select(Seq(col("doc_id")) ++ frontCols.map(col) ++ Seq(
          col("domain"), col("blocked"), col("thin"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          col("keeper"), col("bucket"), col("split"),
          coalesce(col("lang_pred"), lit("und")).as("lang_pred"),
          coalesce(col("quality_e4"), lit(0L)).as("quality_e4"),
          col("reason"), col("reason").isNull.as("keep")): _*)
    }
  }

  /** The closed-form page-extraction CTE fragment shared by the
    * container fronts: `v` = trim(collapse(sanitize(content))) with
    * the thin plant, gated at 25 chars — q158's proven independent
    * derivation of extractMain over the garnish wrap.
    */
  private val extractVSql: String =
    """trim(regexp_replace(regexp_replace(regexp_replace(
      |            CASE WHEN doc_id % 97 = 0
      |                 THEN 'tiny page ' || CAST(doc_id % 9 AS VARCHAR)
      |                 ELSE coalesce(text, '') END,
      |            '[^ -~]', ' ', 'g'), '[<>&]', ' ', 'g'),
      |            ' +', ' ', 'g'))""".stripMargin

  /** Shared oracle tail for the container-front curations —
    * [[containerCurationTail]]'s DuckDB twin. `frontCtes` must define
    * an `ext` relation carrying (doc_id, <frontCols>, text = the
    * extracted content); the tail replays the planted URL, the
    * hardened host gate (userinfo strip + suffix match), and the
    * q157-family line-dedup/signal/split stages. `clusterAware`
    * splices in q158's recursive-CTE connected-components stage and
    * switches the split to the keeper hash (the Spark twin's flag).
    * Emitted as WITH RECURSIVE unconditionally — legal for the
    * non-recursive fronts, required for `reach` and the q162 corpus.
    */
  private def containerCurationSql(frontCtes: String,
      frontCols: Seq[String], clusterAware: Boolean = false): String = {
    val fb = frontCols.map("b." + _).mkString(", ")
    val fo = frontCols.mkString(", ")
    val ccCtes = if (!clusterAware) "" else
      s""", sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 5 THEN []::BIGINT[]
         |         ELSE list_distinct(list_transform(range(1, len(toks) - 3),
         |                i -> ${md5IntSql("array_to_string(toks[i:i+4], ' ')")} % ${TextOps.MinHashP}))
         |         END AS sh
         |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         |        FROM live)
         |), inv AS (
         |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na,
         |    b.n_sh AS nb, count(*) AS common
         |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |), good AS (
         |  SELECT id_a, id_b FROM pairs
         |  WHERE 1.0 * common / (na + nb - common) >= 0.5
         |), nodes AS (
         |  SELECT DISTINCT id
         |  FROM (SELECT id_a AS id FROM good UNION ALL SELECT id_b FROM good)
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM good
         |  UNION ALL
         |  SELECT id_b, id_a FROM good
         |), reach(n, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
         |), cl AS (
         |  SELECT n AS id, min(m) AS label FROM reach GROUP BY n
         |)""".stripMargin
    val kb = s"${md5IntSql("'split:' || CAST(keeper AS VARCHAR)")} % 100"
    val jSelect =
      if (!clusterAware)
        s"""  SELECT b.doc_id, $fb,
           |    b.domain, b.blocked, b.thin,
           |    st.n_lines, st.n_kept, p.lang_pred, p.quality_e4,
           |    $splitCaseSql AS split,
           |    CASE WHEN b.blocked THEN 'blocked'
           |         WHEN b.thin THEN 'thin'
           |         WHEN st.n_kept * 2 < st.n_lines THEN 'linedup'
           |         WHEN p.lang_pred = 'und' THEN 'lang'
           |         WHEN p.quality_e4 < 5000 THEN 'quality' END AS reason
           |  FROM b
           |  LEFT JOIN st USING (doc_id)
           |  LEFT JOIN p USING (doc_id)""".stripMargin
      else
        s"""  SELECT b.doc_id, $fb,
           |    b.domain, b.blocked, b.thin,
           |    st.n_lines, st.n_kept,
           |    coalesce(cl.label, b.doc_id) AS keeper,
           |    p.lang_pred, p.quality_e4,
           |    CASE WHEN b.blocked THEN 'blocked'
           |         WHEN b.thin THEN 'thin'
           |         WHEN b.doc_id != coalesce(cl.label, b.doc_id) THEN 'neardup'
           |         WHEN st.n_kept * 2 < st.n_lines THEN 'linedup'
           |         WHEN p.lang_pred = 'und' THEN 'lang'
           |         WHEN p.quality_e4 < 5000 THEN 'quality' END AS reason
           |  FROM b
           |  LEFT JOIN st USING (doc_id)
           |  LEFT JOIN cl ON cl.id = b.doc_id
           |  LEFT JOIN p USING (doc_id)""".stripMargin
    val finalCols =
      if (!clusterAware) "split,"
      else
        s"""CAST(keeper AS BIGINT) AS keeper,
           |  CAST($kb AS BIGINT) AS bucket,
           |  CASE WHEN $kb < 80 THEN 'train'
           |       WHEN $kb < 90 THEN 'valid'
           |       ELSE 'test' END AS split,""".stripMargin
    s"""WITH RECURSIVE $frontCtes, u AS (
       |  SELECT *,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'Http' END) ||
       |    '://' ||
       |    (CASE WHEN doc_id % 11 = 0 THEN 'user:pass@' ELSE '' END) ||
       |    'WwW.sItE' || CAST(doc_id % 7 AS VARCHAR) || '.ExAmPle' ||
       |    (CASE WHEN doc_id % 3 = 0 THEN
       |            CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
       |          WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
       |    '/P/' || CAST(doc_id AS VARCHAR) ||
       |    (CASE WHEN doc_id % 5 = 0 THEN '#Frag' || CAST(doc_id AS VARCHAR)
       |          ELSE '' END) AS url
       |  FROM ext
       |), b AS (
       |  SELECT doc_id, $fo, text,
       |    regexp_extract(host, '([a-z0-9-]+\\.[a-z]+)$$', 1) AS domain,
       |    (host = 'site0.example' OR ends_with(host, '.site0.example')
       |     OR host = 'site3.example' OR ends_with(host, '.site3.example'))
       |      AS blocked,
       |    length(text) = 0 AS thin
       |  FROM (SELECT *,
       |          regexp_replace(
       |            lower(regexp_extract(regexp_replace(
       |              regexp_extract(regexp_replace(url, '#.*$$', ''),
       |                '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
       |              '^.*@', ''), '^([^:]+)', 1)),
       |            '\\.$$', '') AS host
       |        FROM u)
       |), live AS (
       |  SELECT doc_id, text FROM b WHERE NOT blocked AND NOT thin
       |), relined AS (
       |  SELECT doc_id,
       |    'all rights reserved contact us today' || chr(10) ||
       |    array_to_string(list_transform(
       |      range(0, (len(toks) - 1) // 7 + 1),
       |      k -> array_to_string(toks[k * 7 + 1 : k * 7 + 7], ' ')),
       |      chr(10)) ||
       |    chr(10) || 'subscribe to the newsletter now' AS text
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM live)
       |), l AS (
       |  SELECT doc_id, u.i - 1 AS pos, ls[u.i] AS line, len(ls) AS n_lines
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM relined),
       |    unnest(range(1, len(ls) + 1)) AS u(i)
       |), hh AS (
       |  SELECT doc_id, pos, md5(line) AS lh,
       |    doc_id * 1000000 + pos AS rank_key
       |  FROM l
       |), kk AS (
       |  SELECT lh, min(rank_key) AS keep_key FROM hh GROUP BY lh
       |), kept AS (
       |  SELECT a.doc_id FROM hh a JOIN kk ON a.lh = kk.lh
       |  WHERE a.rank_key = kk.keep_key
       |), st AS (
       |  SELECT nl.doc_id,
       |    CAST(nl.n_lines AS BIGINT) AS n_lines,
       |    CAST(coalesce(ag.n_kept, 0) AS BIGINT) AS n_kept
       |  FROM (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines
       |        FROM relined) nl
       |  LEFT JOIN (SELECT doc_id, count(*) AS n_kept FROM kept
       |             GROUP BY doc_id) ag ON ag.doc_id = nl.doc_id
       |)$ccCtes, t AS (
       |  SELECT doc_id,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM live
       |), p AS (
       |  SELECT doc_id, lang_pred, quality_e4 FROM (
       |    SELECT doc_id,
       |      $langPredCaseSql AS lang_pred,
       |      $qualityE4Sql AS quality_e4
       |    FROM (SELECT doc_id,
       |            $langHitsSql,
       |            CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
       |              AS sum_len,
       |            len(toks) AS n_tokens,
       |            len(list_filter(toks,
       |              t -> t IN ('the','a','of','and','is','to','in')))
       |              AS stop_hits
       |          FROM t))
       |), j AS (
       |$jSelect
       |)
       |SELECT doc_id, $fo, domain,
       |  blocked, thin,
       |  coalesce(n_lines, 0) AS n_lines,
       |  coalesce(n_kept, 0) AS n_kept,
       |  $finalCols
       |  coalesce(lang_pred, 'und') AS lang_pred,
       |  coalesce(quality_e4, 0) AS quality_e4,
       |  reason, reason IS NULL AS keep
       |FROM j ORDER BY doc_id""".stripMargin
  }

  val q160Sql: String = containerCurationSql(
    s"""m AS (
       |  SELECT doc_id, text, doc_id // 8 AS shard_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id // 8
       |      ORDER BY doc_id) - 1 AS BIGINT) AS m_idx,
       |    CAST(count(*) OVER (PARTITION BY doc_id // 8)
       |      AS BIGINT) AS n_entries
       |  FROM documents
       |), ext AS (
       |  SELECT doc_id, shard_id, m_idx, n_entries,
       |    CASE WHEN m_idx % 2 = 0 THEN 'deflated' ELSE 'stored' END
       |      AS method,
       |    CASE WHEN length(v) >= 25 THEN v ELSE '' END AS text
       |  FROM (SELECT doc_id, shard_id, m_idx, n_entries,
       |          $extractVSql AS v
       |        FROM m)
       |)""".stripMargin,
    Seq("shard_id", "m_idx", "method", "n_entries"))

  // ---- q161: curation over the WebDataset-tar front ----
  // q160's sibling for the OTHER dominant training-shard container:
  // each doc becomes one WebDataset SAMPLE — stem d<id> with a
  // d<id>.html page member, a d<id>.json metadata member carrying the
  // crawl URL (so the URL the gate reads rides REAL tar bytes instead
  // of being recomputed — a corrupted metadata member flips blocked
  // verdicts and hash-fails), and a d<id>.cls label member every 3rd
  // doc (so per-sample member counts vary 2/3 closed-form); four
  // samples per REAL checksummed ustar shard (encodeTar: octal
  // checksum, 512-block padding). The shard walks back with
  // Archives.decodeTar (tarMembers' verify-everything posture),
  // members group by stem IN WALK ORDER, and the same curation tail
  // runs. Observability: s_idx = the sample's position in the walk,
  // n_in_sample = walked member count, has_cls = the label member's
  // presence — all recomputed closed-form by the oracle.
  //
  // 100 TB posture: identical to q160 — map-only walk, the shard
  // CONSTRUCTION (groupByKey of 4 docs) is labeled fixture
  // generation; a real pipeline reads shards via ShardIngest.
  def q161(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.{Html, Urls}
    import graft.multimodal.Archives
    val id = col("doc_id")
    val base = tbl(spark, dir, "documents")
    val shards = base.select(expr("doc_id DIV 4").as("shard_id"), id,
        crawlPage(id).as("page"), crawlUrl(id).as("url"))
      .as[(Long, Long, String, String)]
      .groupByKey(_._1)
      .mapGroups { (sid, it) =>
        val members = it.toSeq.sortBy(_._2).flatMap { case (_, d, p, u) =>
          val core = Seq(
            (s"d$d.html", p.getBytes("UTF-8")),
            (s"d$d.json", s"""{"url":"$u"}""".getBytes("UTF-8")))
          if (d % 3 == 0)
            core :+ ((s"d$d.cls", s"${d % 10}".getBytes("UTF-8")))
          else core
        }
        (sid, Archives.encodeTar(members))
      }
    val samples = shards.flatMap { case (sid, payload) =>
      Archives.decodeTar(payload) match {
        case None => Iterator.empty // quarantine-whole in the service
        case Some(ms) =>
          // group walk-order-contiguous members by stem — the
          // WebDataset sample rule (ShardIngest's tar walk computes
          // the same counts shard-side)
          val byStem = scala.collection.mutable.LinkedHashMap
            .empty[String, Vector[(String, Array[Byte])]]
          ms.foreach { case (name, body) =>
            val stem = name.takeWhile(_ != '.')
            byStem.update(stem,
              byStem.getOrElse(stem, Vector.empty) :+ ((name, body)))
          }
          byStem.iterator.zipWithIndex.map { case ((stem, mem), sIdx) =>
            def text(suffix: String) = mem.find(_._1.endsWith(suffix))
              .map(m => new String(m._2, "UTF-8")).getOrElse("")
            (sid, sIdx.toLong, mem.size.toLong, stem.drop(1).toLong,
              mem.exists(_._1.endsWith(".cls")),
              text(".json"), text(".html"))
          }
      }
    }.toDF("shard_id", "s_idx", "n_in_sample", "doc_id", "has_cls",
      "meta", "html")
    // the URL the gate reads comes from the DECODED json member
    val url = regexp_extract(col("meta"), "\"url\":\"([^\"]+)\"", 1)
    val host = Urls.hostOf(url)
    val gated = samples.select(col("shard_id"), col("s_idx"),
        col("n_in_sample"), col("has_cls"), col("doc_id"),
        Urls.displayDomain(host).as("domain"),
        Urls.blockedByHostSuffix(host,
          Seq("site0.example", "site3.example")).as("blocked"),
        Html.extractMain(col("html")).getField("content").as("text"))
      .withColumn("thin", length(col("text")) === 0)
    containerCurationTail(spark, gated,
      Seq("shard_id", "s_idx", "n_in_sample", "has_cls"))
  }

  val q161Sql: String = containerCurationSql(
    s"""m AS (
       |  SELECT doc_id, text, doc_id // 4 AS shard_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id // 4
       |      ORDER BY doc_id) - 1 AS BIGINT) AS s_idx,
       |    CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END
       |      AS BIGINT) AS n_in_sample,
       |    doc_id % 3 = 0 AS has_cls
       |  FROM documents
       |), ext AS (
       |  SELECT doc_id, shard_id, s_idx, n_in_sample, has_cls,
       |    CASE WHEN length(v) >= 25 THEN v ELSE '' END AS text
       |  FROM (SELECT doc_id, shard_id, s_idx, n_in_sample, has_cls,
       |          $extractVSql AS v
       |        FROM m)
       |)""".stripMargin,
    Seq("shard_id", "s_idx", "n_in_sample", "has_cls"))

  // ---- q162: cluster-aware split at the container front ----
  // Closes the scope note q160 shipped with: the container fronts
  // used the PER-DOC salted split, but q158 proved (measured, on the
  // composed output) that a near-dup group must not straddle a
  // train/valid/test boundary — so the shards -> release lineage
  // needs q124's keeper split composed onto the container tail.
  // Same REAL ZIP front as q160 (strict bodies-carrying walk,
  // observable m_idx/method/n_entries), but the corpus carries
  // PLANTED NEAR-COPIES (withNearCopies — every 7th doc re-appears
  // at +1000000 with its last 3 tokens dropped, landing in a
  // DIFFERENT shard, so clusters provably cross shard boundaries and
  // the split has to be corpus-global), and the tail runs
  // clusterAware: jaccardPairs + CC keeper over the live set, split
  // bucketed on the KEEPER hash, `neardup` in the reason chain.
  // Oracle: the same recursive-CTE connected components q158 proved,
  // spliced into the shared container oracle.
  //
  // 100 TB posture: the front is q160's (map-only walk, labeled
  // fixture-generation shuffle); the cluster stage is q33/q47's
  // priced machinery (capped inverted-index pairs + pointer-doubled
  // CC — never corpus^2); the tail persists the gated frame for its
  // now-FOUR different-column sibling consumers (q158's measured
  // ReuseExchange lesson).
  def q162(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.{Html, Urls}
    import graft.multimodal.Archives
    val id = col("doc_id")
    val corpus = withNearCopies(tbl(spark, dir, "documents"))
    val shards = corpus
      .select(expr("doc_id DIV 8").as("shard_id"), id,
        crawlPage(id).as("page"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (sid, it) =>
        val members = it.toSeq.sortBy(_._2)
          .map { case (_, d, p) => (s"d$d.html", p.getBytes("UTF-8")) }
        (sid, Archives.encodeZip(members))
      }
    val members = shards.flatMap { case (sid, payload) =>
      Archives.zipMembersFull(payload) match {
        case None => Iterator.empty // quarantine-whole in the service
        case Some(ms) =>
          val n = ms.size.toLong
          ms.iterator.zipWithIndex.map {
            case ((name, method, body), i) =>
              (sid, i.toLong, n,
                name.drop(1).takeWhile(_ != '.').toLong, method,
                new String(body, "UTF-8"))
          }
      }
    }.toDF("shard_id", "m_idx", "n_entries", "doc_id", "method", "html")
    val host = Urls.hostOf(crawlUrl(id))
    val gated = members.select(col("shard_id"), col("m_idx"),
        col("n_entries"), col("method"), col("doc_id"),
        Urls.displayDomain(host).as("domain"),
        Urls.blockedByHostSuffix(host,
          Seq("site0.example", "site3.example")).as("blocked"),
        Html.extractMain(col("html")).getField("content").as("text"))
      .withColumn("thin", length(col("text")) === 0)
    containerCurationTail(spark, gated,
      Seq("shard_id", "m_idx", "method", "n_entries"),
      clusterAware = true)
  }

  val q162Sql: String = containerCurationSql(
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, array_to_string(toks[1:len(toks)-3], ' ')
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |        FROM documents)
       |  WHERE doc_id % 7 = 0 AND len(toks) > 10
       |), m AS (
       |  SELECT doc_id, text, doc_id // 8 AS shard_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id // 8
       |      ORDER BY doc_id) - 1 AS BIGINT) AS m_idx,
       |    CAST(count(*) OVER (PARTITION BY doc_id // 8)
       |      AS BIGINT) AS n_entries
       |  FROM corpus
       |), ext AS (
       |  SELECT doc_id, shard_id, m_idx, n_entries,
       |    CASE WHEN m_idx % 2 = 0 THEN 'deflated' ELSE 'stored' END
       |      AS method,
       |    CASE WHEN length(v) >= 25 THEN v ELSE '' END AS text
       |  FROM (SELECT doc_id, shard_id, m_idx, n_entries,
       |          $extractVSql AS v
       |        FROM m)
       |)""".stripMargin,
    Seq("shard_id", "m_idx", "method", "n_entries"),
    clusterAware = true)

  // ---- q163: curation over the WARC-gzip front ----
  // Third instantiation of the container-curation template (ZIP q160,
  // WebDataset-tar q161), completing the container matrix over the
  // THIRD dominant crawl-shard format: WARC-style CONCATENATED gzip
  // members (one record per member — Common Crawl's layout), walked
  // back with q153's proven member walk now carrying bodies
  // (GzipMembers.membersFull — header bits, CRC32 + ISIZE trailer,
  // bomb bound, quarantine-whole). Each doc becomes one WARC-ish
  // record: a header block carrying the record id AND the crawl URL
  // (so both ride REAL gzip bytes — a corrupted member flips doc
  // attribution or a blocked verdict and hash-fails), a blank line,
  // then the hardened crawl page; six records per shard; alternating
  // members carry the FNAME header (q153's pattern), so both header
  // paths are exercised and the read-back bit is itself observable.
  // Observability: m_idx = the member's position in the WALK,
  // n_members = walked member count, named = the FNAME bit read back
  // — all recomputed closed-form by the oracle; doc_id and url come
  // ONLY from decoded record bytes.
  //
  // 100 TB posture: identical to q160/q161 — the walk is map-only
  // over each shard's bytes, members never re-shuffle as pages, the
  // curation tail is q157's priced machinery. Shard CONSTRUCTION
  // (groupByKey of 6 docs) is labeled fixture generation; a real
  // pipeline reads shards via ShardIngest's gzip table.
  def q163(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.{Html, Urls}
    import graft.multimodal.GzipMembers
    val id = col("doc_id")
    val base = tbl(spark, dir, "documents")
    val shards = base.select(expr("doc_id DIV 6").as("shard_id"), id,
        crawlPage(id).as("page"), crawlUrl(id).as("url"))
      .as[(Long, Long, String, String)]
      .groupByKey(_._1)
      .mapGroups { (sid, it) =>
        val members = it.toSeq.sortBy(_._2).zipWithIndex.map {
          case ((_, d, p, u), j) =>
            // FNAME on even members only — both header paths walked
            val name = if (j % 2 == 0) s"d$d.warc" else null
            (name, graft.multimodal.Warc.encode(d, u, p))
        }
        (sid, GzipMembers.encodeMembers(members))
      }
    val records = shards.flatMap { case (sid, payload) =>
      GzipMembers.membersFull(payload) match {
        case None => Iterator.empty // quarantine-whole in the service
        case Some(ms) =>
          val n = ms.size.toLong
          ms.iterator.zipWithIndex.map { case ((name, body), i) =>
            // the shared record codec (Warc) — the service's parse,
            // so query and service cannot drift; the fixture never
            // produces an unparsable record, and if one appeared the
            // (-1, "", "") row would hash-fail the oracle loudly
            val (docId, url, html) = graft.multimodal.Warc.parse(body)
              .getOrElse((-1L, "", ""))
            (sid, i.toLong, n, name.nonEmpty, docId, url, html)
          }
      }
    }.toDF("shard_id", "m_idx", "n_members", "named", "doc_id", "url",
      "html")
    val host = Urls.hostOf(col("url"))
    val gated = records.select(col("shard_id"), col("m_idx"),
        col("n_members"), col("named"), col("doc_id"),
        Urls.displayDomain(host).as("domain"),
        Urls.blockedByHostSuffix(host,
          Seq("site0.example", "site3.example")).as("blocked"),
        Html.extractMain(col("html")).getField("content").as("text"))
      .withColumn("thin", length(col("text")) === 0)
    containerCurationTail(spark, gated,
      Seq("shard_id", "m_idx", "n_members", "named"))
  }

  val q163Sql: String = containerCurationSql(
    s"""m AS (
       |  SELECT doc_id, text, doc_id // 6 AS shard_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id // 6
       |      ORDER BY doc_id) - 1 AS BIGINT) AS m_idx,
       |    CAST(count(*) OVER (PARTITION BY doc_id // 6)
       |      AS BIGINT) AS n_members
       |  FROM documents
       |), ext AS (
       |  SELECT doc_id, shard_id, m_idx, n_members,
       |    m_idx % 2 = 0 AS named,
       |    CASE WHEN length(v) >= 25 THEN v ELSE '' END AS text
       |  FROM (SELECT doc_id, shard_id, m_idx, n_members,
       |          $extractVSql AS v
       |        FROM m)
       |)""".stripMargin,
    Seq("shard_id", "m_idx", "n_members", "named"))

  // ---- q164: table-backed blocklist gate (PSL shape) ----
  // The residual Urls.scala documents: the
  // literal-array gate (blockedByHostSuffix) is right for a service's
  // parameter-passed list, but "block every site under a freehoster"
  // needs a public-suffix-scale TABLE — and a table must not ride the
  // plan as a literal. This is the named design made real
  // (Urls.blockedKeysByTable): the host's label-boundary suffix
  // chain explodes on a NARROW (doc_id, host) projection, the
  // blocklist joins BROADCAST as a left-semi on the exploded suffix,
  // and only the matched keys shuffle (distinct) before rejoining the
  // frame. Fixtures are the multi-label family the last-two-label
  // heuristic gets wrong: entries `freehost.example` and
  // `example.co.uk` must block deep subdomains
  // (`a.b.freehost.example`, `shop.example.co.uk`) while respecting
  // label boundaries (`notfreehost.example` passes) and NOT blocking
  // the bare public suffix (`other.co.uk` passes); entries normalize
  // through lower+trim and empty entries drop (oracle mirrors all
  // of it). n_suffixes pins the chain length (= label count).
  //
  // 100 TB posture: explode multiplies only (doc_id, host) by the
  // label count (<10); the table is broadcast; the matched-key
  // distinct and the hit-set rejoin are the only shuffles — the wide
  // document columns never move (AQE broadcasts the hit set when it
  // is small, which is the production case).
  def q164(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.Urls
    val id = col("doc_id")
    val host = when(id % 6 === 0, lit("www.freehost.example"))
      .when(id % 6 === 1, lit("a.b.freehost.example"))
      .when(id % 6 === 2, lit("notfreehost.example"))
      .when(id % 6 === 3, lit("shop.example.co.uk"))
      .when(id % 6 === 4, lit("other.co.uk"))
      .otherwise(concat(lit("site"), (id % 7).cast("string"),
        lit(".example")))
    val docs = tbl(spark, dir, "documents").select(id, host.as("host"))
    // the table fixture: mixed case + padding (normalization must
    // fire) and an empty entry (must drop, not match everything)
    val bl = Seq(" FreeHost.Example ", "example.co.uk", "")
      .toDF("entry")
    val hits = Urls.blockedKeysByTable(docs, "doc_id", "host", bl,
      "entry")
    docs
      .join(hits.withColumn("__hit", lit(true)), Seq("doc_id"), "left")
      .select(id, col("host"),
        coalesce(col("__hit"), lit(false)).as("blocked"),
        size(Urls.hostSuffixChain(col("host"))).cast("long")
          .as("n_suffixes"))
  }

  val q164Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE doc_id % 6
      |      WHEN 0 THEN 'www.freehost.example'
      |      WHEN 1 THEN 'a.b.freehost.example'
      |      WHEN 2 THEN 'notfreehost.example'
      |      WHEN 3 THEN 'shop.example.co.uk'
      |      WHEN 4 THEN 'other.co.uk'
      |      ELSE 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example'
      |    END AS host
      |  FROM documents
      |), bl AS (
      |  SELECT lower(trim(entry)) AS e
      |  FROM (VALUES (' FreeHost.Example '), ('example.co.uk'), (''))
      |    AS t(entry)
      |  WHERE lower(trim(entry)) != ''
      |)
      |SELECT doc_id, host,
      |  EXISTS (SELECT 1 FROM bl
      |          WHERE host = e OR ends_with(host, '.' || e)) AS blocked,
      |  CAST(len(string_split(host, '.')) AS BIGINT) AS n_suffixes
      |FROM d ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q164_blocklist_table" -> (q164 _),
    "q163_warc_curation" -> (q163 _),
    "q162_cluster_split_front" -> (q162 _),
    "q161_webdataset_curation" -> (q161 _),
    "q160_container_curation" -> (q160 _),
    "q159_line_admit" -> (q159 _),
    "q158_curation_v3" -> (q158 _),
    "q157_curation_v2" -> (q157 _),
    "q150_line_dedup" -> (q150 _),
    "q145_prefix_join" -> (q145 _),
    "q143_url_canonicalize" -> (q143 _),
    "q142_html_extract" -> (q142 _),
    "q132_compression_signal" -> (q132 _),
    "q38_tfidf" -> (q38 _),
    "q46_split" -> (q46 _),
    "q47_dedup_clusters" -> (q47 _),
    "q124_cluster_split" -> (q124 _),
    "q125_packing_stats" -> (q125 _),
    "q127_minhash_calibration" -> (q127 _),
    "q30_exact_dedup" -> (q30 _),
    "q31_minhash_lsh" -> (q31 _),
    "q32_simhash" -> (q32 _),
    "q33_jaccard_pairs" -> (q33 _),
    "q49_simhash64" -> (q49 _),
    "q34_langid" -> (q34 _),
    "q35_quality" -> (q35 _),
    "q36_tokens" -> (q36 _),
    "q37_fingerprint" -> (q37 _),
    "q56_vocab" -> (q56 _),
    "q57_mix_sample" -> (q57 _),
    "q58_seq_pack" -> (q58 _),
    "q61_curation" -> (q61 _),
    "q63_contamination" -> (q63 _),
    "q64_repetition" -> (q64 _),
    "q65_mixture_weights" -> (q65 _),
    "q66_token_ids" -> (q66 _),
    "q68_stratified_topk" -> (q68 _),
    "q72_training_order" -> (q72 _),
    "q73_jsonl_roundtrip" -> (q73 _),
    "q75_chunk_dedup" -> (q75 _),
    "q76_overlap_chunks" -> (q76 _),
    "q78_pii_scrub" -> (q78 _),
    "q80_delta_dedup" -> (q80 _),
    "q81_bpe_merges" -> (q81 _),
    "q82_bpe_subwords" -> (q82 _),
    "q83_cms_heavy" -> (q83 _),
    "q85_span_dedup" -> (q85 _),
    "q86_span_cut" -> (q86 _),
    "q88_domain_stats" -> (q88 _),
    "q90_unigram_logprob" -> (q90 _),
    "q91_pmi_bigrams" -> (q91 _),
    "q92_orc_roundtrip" -> (q92 _),
    "q93_weighted_sample" -> (q93 _),
    "q95_normalized_dedup" -> (q95 _),
    "q103_edit_verify" -> (q103 _),
    "q107_delta_neardup" -> (q107 _),
    "q108_quality_classifier" -> (q108 _),
    "q109_length_histogram" -> (q109 _),
    "q110_importance_resample" -> (q110 _),
    "q111_drift_stats" -> (q111 _),
    "q112_containment" -> (q112 _),
    "q116_canonical_keeper" -> (q116 _),
    "q117_graph_rank" -> (q117 _),
    "q121_bm25" -> (q121 _)
  )

  val oracles: Map[String, String] = Map(
    "q164_blocklist_table" -> q164Sql,
    "q163_warc_curation" -> q163Sql,
    "q162_cluster_split_front" -> q162Sql,
    "q161_webdataset_curation" -> q161Sql,
    "q160_container_curation" -> q160Sql,
    "q159_line_admit" -> q159Sql,
    "q158_curation_v3" -> q158Sql,
    "q157_curation_v2" -> q157Sql,
    "q150_line_dedup" -> q150Sql,
    "q145_prefix_join" -> q145Sql,
    "q143_url_canonicalize" -> q143Sql,
    "q142_html_extract" -> q142Sql,
    "q132_compression_signal" -> q132Sql,
    "q38_tfidf" -> q38Sql,
    "q46_split" -> q46Sql,
    "q47_dedup_clusters" -> q47Sql,
    "q124_cluster_split" -> q124Sql,
    "q125_packing_stats" -> q125Sql,
    "q127_minhash_calibration" -> q127Sql,
    "q30_exact_dedup" -> q30Sql,
    "q31_minhash_lsh" -> q31Sql,
    "q32_simhash" -> q32Sql,
    "q33_jaccard_pairs" -> q33Sql,
    "q49_simhash64" -> q49Sql,
    "q34_langid" -> q34Sql,
    "q35_quality" -> q35Sql,
    "q36_tokens" -> q36Sql,
    "q37_fingerprint" -> q37Sql,
    "q56_vocab" -> q56Sql,
    "q57_mix_sample" -> q57Sql,
    "q58_seq_pack" -> q58Sql,
    "q61_curation" -> q61Sql,
    "q63_contamination" -> q63Sql,
    "q64_repetition" -> q64Sql,
    "q65_mixture_weights" -> q65Sql,
    "q66_token_ids" -> q66Sql,
    "q68_stratified_topk" -> q68Sql,
    "q72_training_order" -> q72Sql,
    "q73_jsonl_roundtrip" -> q73Sql,
    "q75_chunk_dedup" -> q75Sql,
    "q76_overlap_chunks" -> q76Sql,
    "q78_pii_scrub" -> q78Sql,
    "q80_delta_dedup" -> q80Sql,
    "q81_bpe_merges" -> q81Sql,
    "q82_bpe_subwords" -> q82Sql,
    "q83_cms_heavy" -> q83Sql,
    "q85_span_dedup" -> q85Sql,
    "q86_span_cut" -> q86Sql,
    "q88_domain_stats" -> q88Sql,
    "q90_unigram_logprob" -> q90Sql,
    "q91_pmi_bigrams" -> q91Sql,
    "q92_orc_roundtrip" -> q92Sql,
    "q93_weighted_sample" -> q93Sql,
    "q95_normalized_dedup" -> q95Sql,
    "q103_edit_verify" -> q103Sql,
    "q107_delta_neardup" -> q107Sql,
    "q108_quality_classifier" -> q108Sql,
    "q109_length_histogram" -> q109Sql,
    "q110_importance_resample" -> q110Sql,
    "q111_drift_stats" -> q111Sql,
    "q112_containment" -> q112Sql,
    "q116_canonical_keeper" -> q116Sql,
    "q117_graph_rank" -> q117Sql,
    "q121_bm25" -> q121Sql
  )
}
