package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-pipeline operator library for large-scale training-data
  * curation over a `documents(doc_id, text, ...)` table: exact and
  * near deduplication (MinHash + LSH, SimHash, n-gram Jaccard),
  * language identification, quality scoring, token counting, and
  * document fingerprinting.
  *
  * Design rules (100 TB posture):
  *   - everything is pure `Column` arithmetic over built-ins (md5,
  *     split, transform, aggregate) — whole-stage codegen'd, no UDFs;
  *   - near-dup candidate generation is *bucketed* (LSH band keys or
  *     an inverted shingle index) — never an all-pairs cross join;
  *   - shuffle keys are fixed-width digests (md5 hex), not raw text;
  *   - md5 is the cross-engine hash: DuckDB computes bit-identical
  *     signatures, so every operator here is oracle-checkable.
  */
object TextOps {

  /** Whitespace tokens of `text` (lowercased). */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** q132's repetition flag — THE one definition, shared by the
    * batch signal and its streaming twin (`QualityStream`) so the
    * two can never disagree on what "repetitive" means: UTF-8 BYTE
    * length at least 3x the DEFLATE length. Bytes, not characters —
    * a compression ratio compares byte counts, and a char-based
    * numerator would silently deflate the ratio 3x on CJK-heavy
    * documents. Resolves `deflate_len` by name: the session must carry
    * graft's functions (every [[graft.GraftSession]] session does).
    */
  def repetitiveFlag(text: Column): Column =
    octet_length(text) >= call_function("deflate_len", text) * 3L

  /** Distinct word `n`-gram shingles from a token array. */
  def wordShingles(toks: Column, n: Int = 3): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))

  /** Word `n`-gram shingles WITHOUT the string-level distinct. For
    * hashed pipelines (minhash/Jaccard) dedup happens after hashing
    * (`array_distinct` over the longs) — deduping the ~250-element
    * string array first is an O(len^2) string-compare pass per doc
    * that buys nothing, since the hash is deterministic and the
    * post-hash distinct produces the identical set.
    */
  def wordShinglesRaw(toks: Column, n: Int = 3): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Largest prime below 2^30 — the MinHash permutation modulus. */
  /** lineDedup packs keep-first order as doc_id·bound + pos; see the
    * rank_key guard in [[lineDedup]] for why the bound fails loud.
    */
  val LineKeyPosBound = 1000000L

  val MinHashP = 1073741789L

  /** Affine multipliers/offsets of the MinHash permutation family
    * (any a != 0 makes h -> (a*h + b) mod P a bijection; uniformity
    * comes from the md5 base hash). a*h stays < 2^35: no overflow in
    * either engine's BIGINT.
    */
  val MinHashA: Seq[Long] = Seq(3, 5, 7, 11, 13, 17, 19, 23)
  val MinHashB: Seq[Long] = Seq(1, 2, 4, 8, 16, 32, 64, 128)

  /** One strong base hash per shingle: the first 15 md5 hex digits as
    * a BIGINT, reduced mod [[MinHashP]]. Hash each shingle ONCE; the k
    * signature rows are cheap affine transforms of this array — 8x
    * less hashing than k independent digests, the standard single-hash
    * MinHash construction.
    *
    * Uses the native [[graft.functions.Md5Long60]] expression (same
    * value as `conv(substring(md5(s),1,15),16,10)`, computed from the
    * digest bytes without the 32-char hex round-trip — this is the
    * hottest scalar of the dedup pipelines). The session must carry
    * graft's functions: [[graft.GraftSession]] installs them at
    * construction, and [[graft.functions.GraftFunctions.register]]
    * adds them to a session built elsewhere.
    */
  def hashShingles(shingles: Column): Column =
    transform(shingles,
      s => call_function("md5_long60", s) % MinHashP)

  /** Distinct hashed n-gram shingles straight from the token array —
    * the fused form of `array_distinct(hashShingles(wordShinglesRaw))`
    * built on the native `shingle_hash60` expression: the digest
    * streams over token bytes, no intermediate shingle strings are
    * materialized (the measured hot spot of the digest stage). Values
    * identical to the composed form.
    */
  def hashedShingles(toks: Column, n: Int): Column =
    array_distinct(transform(
      call_function("shingle_hash60", toks, lit(n)),
      h => h % MinHashP))

  /** MinHash signature over a pre-hashed shingle array: row i is
    * min((a_i * h + b_i) mod P) — engine-portable integer arithmetic.
    */
  def minHash(hs: Column, k: Int): Seq[Column] = {
    require(k <= MinHashA.length, s"at most ${MinHashA.length} rows")
    (0 until k).map { i =>
      array_min(transform(hs,
        h => (h * MinHashA(i) + MinHashB(i)) % MinHashP)).as(s"mh$i")
    }
  }

  /** LSH band keys over a precomputed signature: `bands` bands of
    * `rows` minhashes, each keyed by the md5 of its slice. Explode
    * these and bucket-join to generate candidate pairs —
    * O(collisions), never O(n^2).
    */
  def lshBandKeys(sig: Seq[Column], bands: Int, rows: Int): Column = {
    require(sig.length == bands * rows, "signature length != bands*rows")
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", sig.slice(b * rows, (b + 1) * rows): _*)).as("key"))
    }: _*)
  }

  /** Candidate near-duplicate id pairs from an exploded band-key table
    * `banded(doc_id, bk)` via a bucketed self-join, guarded by a
    * hot-bucket cap: band buckets holding more than `maxBucket`
    * signatures are dropped before pairing — the LSH analogue of
    * [[jaccardPairs]]'s `maxDf` stop-shingle cap. Without it, an
    * adversarial corpus (boilerplate near-identical docs collapsing
    * into one bucket) makes a single bucket O(n^2); with it, pair
    * count is bounded by buckets * maxBucket^2. Recall-lossy,
    * precision-safe: dropped buckets lose candidates, the exact
    * Jaccard confirm stage downstream is unaffected. The cap costs
    * one extra aggregate + semi join on the 16-byte band keys.
    */
  def lshCandidatePairs(banded: DataFrame,
      maxBucket: Long = 100000L): DataFrame =
    graft.operators.Buckets
      .cappedSelfJoinPairs(banded, "doc_id", "bk", maxBucket)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

  /** q127-calibrated LSH candidate pairs: the banded self-join with
    * an m8 >= `m8Floor` pre-confirm floor FUSED into it. `banded`
    * must carry the k=8 signature columns (mh0..mh7) alongside
    * (doc_id, bk) — the signatures ride the band explode, so the
    * floor costs zero extra joins (an earlier join-the-signatures-
    * back shape recomputed the whole minhash pipeline per side and
    * benched 1.7x q31's baseline; this one is plan-identical to the
    * uncalibrated join plus a filter).
    *
    * The floor comes from the calibration audit, not a guess:
    * E[m8/8] = J, so the J >= 0.5 confirm bar implies E[m8] >= 4,
    * and q127's measured table shows every J >= 0.5 pair at m8 >= 4
    * across all gate SFs while the junk tail (organic band
    * collisions, J ~ 0.01) sits at m8 <= 3. Shape at 100 TB: the
    * banded shuffle widens by 8 ints per row; the ~250-element
    * shingle sets are fetched only for floor survivors, so the heavy
    * confirm payload never moves for junk the calibration already
    * prices out.
    */
  def calibratedLshCandidatePairs(banded: DataFrame, m8Floor: Int,
      maxBucket: Long = 100000L): DataFrame = {
    // <=> (null-safe), NOT === : with null-intolerant equality the
    // optimizer infers isnotnull(mh_i) on all 16 signature refs and
    // pushes each below the band explode to the SCAN, where alias
    // substitution re-expands every one into its full
    // shingle+minhash pipeline — measured 1.7x on q31 (the
    // signatures are never null anyway; sig drops empty shingle
    // sets, so the two forms agree)
    val m8 = (0 until 8)
      .map(i => (col(s"a.mh$i") <=> col(s"b.mh$i")).cast("int"))
      .reduce(_ + _)
    graft.operators.Buckets
      .cappedSelfJoinPairs(banded, "doc_id", "bk", maxBucket)
      .filter(m8 >= m8Floor)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** 16-bit token hash array: first 4 hex chars of each token's md5.
    * Stage this as a NAMED column before [[simHash16FromHashes]] — the
    * 16 bit-vote aggregates each reference it, and an inline
    * expression would recompute the md5 pass 16x per row.
    */
  def tokenHashes16(toks: Column): Column =
    transform(toks,
      t => shiftright(call_function("md5_long60", t), 44).cast("int"))

  /** 16-bit SimHash from a pre-staged token-hash array: each bit votes
    * +1/-1 per token; signature bit = 1 iff the vote sum is positive.
    * Width is a parameter of the scheme (64-bit in production); 16
    * keeps the cross-engine oracle SQL tractable. The 16 vote passes
    * scan a small int array — the one md5 pass happens in
    * [[tokenHashes16]].
    */
  def simHash16FromHashes(tvs: Column): Column =
    (0 until 16).map { j =>
      val vote = aggregate(tvs, lit(0),
        (acc, tv) => acc + when(tv.bitwiseAND(1 << j) =!= 0, 1).otherwise(-1))
      when(vote > 0, 1 << j).otherwise(0)
    }.reduce(_ + _)

  /** Scalar convenience form of SimHash (md5 pass re-evaluated per
    * bit — use the staged pair above in per-row hot paths).
    */
  def simHash16(toks: Column): Column =
    simHash16FromHashes(tokenHashes16(toks))

  /** 16-bit token hashes for limb `limb` of the 64-bit SimHash: an
    * independent hash family per limb via a salt prefix on the md5
    * input (top 16 of the 60 digest bits, as [[tokenHashes16]]).
    */
  def tokenHashes16Limb(toks: Column, limb: Int): Column =
    transform(toks,
      t => shiftright(call_function("md5_long60",
        concat(lit(s"sh$limb:"), t)), 44).cast("int"))

  /** Production-width 64-bit SimHash, as a 16-hex-char string: four
    * independent 16-bit limbs (salted hash families, limb 3 high),
    * each the bit-vote signature of [[simHash16FromHashes]]. Staged
    * like [[withLanguageId]]: one named token-hash column per limb,
    * so each limb's md5 pass runs exactly once per row. Emitted as
    * hex, not BIGINT — composing limb3 << 48 overflows checked
    * signed-64 arithmetic (DuckDB errors), and the hex form is
    * portable across engines bit-for-bit. `df` must contain
    * `textCol`; the session must carry graft's functions (see
    * [[hashShingles]]).
    */
  def withSimHash64(df: DataFrame, textCol: Column, out: String): DataFrame =
    // native one-pass expression: a staged composed form pays
    // 64 interpreted `aggregate` HOF passes per row over four
    // materialized hash arrays (the q64 CodegenFallback disease) —
    // measured 3.4 s -> sub-second at sf0.1. Value parity with the
    // composed limbs is property-tested (SimHash64Spec).
    df.withColumn(out, call_function("simhash64", tokens(textCol)))

  /** Exact Jaccard similarity of two distinct-shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val common = size(array_intersect(a, b)).cast("double")
    common / (size(a) + size(b) - common)
  }

  /** Candidate near-duplicate pairs via an inverted shingle index:
    * explode shingles, equi-join on the shingle digest, count common
    * shingles per pair, filter on exact Jaccard. Bucketed by shingle —
    * no cross join; `maxDf` drops hot shingles (document-frequency
    * cap, the standard stop-shingle guard against quadratic buckets).
    *
    * maxDf bias: pruning removes hot shingles from the `common` count
    * but NOT from the `na`/`nb` denominators, so once the cap binds,
    * Jaccard is a systematic UNDER-estimate and pairs sharing only
    * hot shingles are missed entirely — recall-lossy, precision-safe
    * (no false pairs are introduced). Tune maxDf knowing confirmed
    * scores skew low; the default never binds on organic corpora.
    */
  def jaccardPairs(docs: DataFrame, minJaccard: Double,
      shingleN: Int = 5, maxDf: Long = 1000000L): DataFrame =
    shinglePairCounts(docs, shingleN, maxDf)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      // multiply-before-divide, matching the oracle's
      // `10000.0 * common / d` fold exactly (one FP rounding, not
      // two) — the divide-then-scale form agreed on every fixture to
      // date but is 1-ulp-divergent in principle near x.5 boundaries;
      // containmentPairs already emits the mirrored sequence
      .select(col("id_a"), col("id_b"), col("common"),
        round(col("common").cast("double") * 10000 /
          (col("na") + col("nb") - col("common")))
          .cast("long").as("jaccard_e4"))

  /** Candidate pairs with CONTAINMENT confirm: `common / min(na, nb)`
    * — the asymmetric near-dup metric. A short excerpt embedded in a
    * long parent shares nearly ALL of its own shingles with the parent
    * while Jaccard (common over the UNION) stays near the length
    * ratio, so a Jaccard threshold that catches same-length near-dups
    * structurally misses quotes, excerpts, and boilerplate wrappers —
    * the standard reason dedup pipelines run a containment pass beside
    * the Jaccard one (this is Broder's containment coefficient).
    * Same inverted-index core as [[jaccardPairs]] (one digest pass,
    * capped buckets); only the confirm arithmetic differs, so both
    * metrics are emitted for the pair and the 100 TB posture is
    * identical. Ties to the min side: containment 1.0 means the
    * smaller shingle set is a subset of the larger.
    */
  def containmentPairs(docs: DataFrame, minContainment: Double,
      shingleN: Int = 5, maxDf: Long = 1000000L): DataFrame =
    // multiply-before-divide: the cross-engine oracle folds
    // `10000.0 * common / d` — same sequence here so the rounded
    // e4 values are bit-equal (counts are exact ints; the one
    // division is the only inexact step in both engines)
    shinglePairCounts(docs, shingleN, maxDf)
      .withColumn("containment",
        col("common").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("common"),
        round(col("common").cast("double") * 10000 /
          least(col("na"), col("nb")))
          .cast("long").as("containment_e4"),
        round(col("common").cast("double") * 10000 /
          (col("na") + col("nb") - col("common")))
          .cast("long").as("jaccard_e4"))

  /** The shared inverted-shingle-index pair-count core of
    * [[jaccardPairs]] / [[containmentPairs]]: per candidate pair, the
    * distinct-shingle counts of both sides and the exact common count.
    * Returns (id_a < id_b, na, nb, common).
    */
  def shinglePairCounts(docs: DataFrame,
      shingleN: Int = 5, maxDf: Long = 1000000L): DataFrame = {
    // one aggregate instead of a self-join (guide §2.4 "remove
    // shuffles outright"): an inverted-index SELF-JOIN would
    // repartition the (doc_id, 250-hash array) table as a
    // sibling-branch barrier, then run a df aggregate for the
    // stop-shingle cap, a join to apply the cap, and pruned ⋈ pruned
    // on the shingle — 4 exchanges, with the
    // heavy shingle arrays riding the barrier exchange. But everything
    // downstream of the explode is PER-SHINGLE work, so one grouped
    // aggregate does it all: group the exploded index by shingle,
    // collect the (doc_id, n_sh) members (sorted — collect_list order
    // is nondeterministic), apply the df cap to the member-list size
    // (same global df — shingles are per-doc distinct), and emit each
    // group's C(k,2) ordered pairs directly. 2 exchanges total — the
    // (s, doc_id, n_sh) index by shingle and the pair-count aggregate
    // — the digest pass runs exactly once by construction (single
    // consumer, so no barrier is needed), and no join remains.
    // Measured at sf0.1 (best-of-passes): q162 8.64 s -> 4.93 s,
    // q117 3.69 -> 1.99, q47 3.73 -> 2.39, q124 3.57 -> 2.31,
    // q112 1.76 -> 1.16, q158 6.85 -> 5.18, q103 5.12 -> 4.03 —
    // the same core serves q33/q116 and the curation tails too.
    // Pair multiset, counts, and arithmetic are unchanged: the
    // brute-force DuckDB oracles replay every consumer bit-exact.
    //
    // memory hardening (guide §5): the df cap must bound MEMORY, not
    // just output.
    //   1. member collection is collect_members_capped — a capped
    //      TypedImperativeAggregate that stops accumulating (and drops
    //      its buffer) the moment a group exceeds maxDf, so a
    //      stop-shingle with df ~10^9 at 100 TB costs one flag byte
    //      per task instead of an unbounded reduce-side list; the
    //      `ms IS NOT NULL` filter is the same `size(ms) <= maxDf` set
    //      (null == overflowed == dropped), now applied inside the
    //      aggregate where it bounds the buffer.
    //   2. pair emission streams through TWO nested Generates
    //      (posexplode + explode-of-slice) instead of materializing
    //      the full C(k,2) struct array per group in one
    //      explode(flatten(transform(...))) row — peak per-row memory
    //      is one ≤df slice, not df² structs.
    // Same 2-exchange no-join plan; same pair multiset (i < j over
    // the doc_id-sorted members), so every consumer stays bit-exact.
    val inv = docs
      .select(col("doc_id"),
        hashedShingles(tokens(col("text")), shingleN).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("s"))
    val members = inv.groupBy(col("s"))
      .agg(call_function("collect_members_capped",
        col("doc_id"), col("n_sh"), lit(maxDf)).as("ms"))
      .filter(col("ms").isNotNull)
    // per shingle: all (i < j) member pairs — doc_ids are distinct
    // within a group (hashedShingles is per-doc distinct), so the
    // sorted order makes id_a < id_b by construction
    val pairRows = members
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "x")))
      .select(col("x"), explode(slice(col("ms"), col("i") + lit(2),
        size(col("ms")) - col("i") - lit(1))).as("y"))
    pairRows
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.n_sh").as("na"), col("y.n_sh").as("nb"))
      .agg(count(lit(1)).as("common"))
  }

  /** EXACT set-similarity self-join with PREFIX FILTERING — the
    * lossless scale path for all-pairs Jaccard (Bayardo et al.,
    * "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et al.
    * PPJoin, ICDE'08). [[shinglePairCounts]]'s inverted index pairs
    * every two docs sharing ANY shingle — near-quadratic on an
    * overlapping corpus. Here each doc indexes only its PREFIX: with
    * shingles globally ordered rarest-first (df asc, hash asc), a doc
    * of n shingles indexes its first `n - ⌈τ·n⌉ + 1`. Any pair with
    * Jaccard ≥ τ shares ≥ ⌈τ·max(na,nb)⌉ shingles, so skipping either
    * doc's prefix leaves at most ⌈τ·n⌉ − 1 shared — the candidate set
    * provably contains every qualifying pair, and because prefixes
    * hold the RAREST shingles, candidate volume collapses toward the
    * true pair count instead of the co-occurrence count.
    *
    * τ is the rational `tauNum/tauDen`, and every gate is INTEGER
    * arithmetic: prefix length `n − ⌈τn⌉ + 1` via the exact integer
    * ceil `(tauNum·n + tauDen − 1) div tauDen` (no FP, so never lossy
    * to rounding), length filter `tauDen·min ≥ tauNum·max`, confirm
    * `tauDen·common ≥ tauNum·(na+nb−common)`. The only FP step is the
    * reported `jaccard_e4` (multiply-before-divide, the oracle's
    * exact fold). Output equals brute force at the same τ — the
    * DuckDB oracle IS brute force, so the gate proves losslessness.
    *
    * 100 TB posture: one digest pass (shuffle-barriered like
    * [[shinglePairCounts]]), one df aggregate, prefix-only index
    * self-join, then verification joins keyed on doc_id against the
    * compact hashed-set table — no all-pairs stage anywhere, and the
    * candidate join carries 8-byte keys, never text.
    */
  /** (doc_id, n_sh, s) inverted rows of each doc's distinct hashed
    * shingle set — the shared first stage of the prefix-join family.
    */
  private[graft] def shingleInv(docs: DataFrame, shingleN: Int)
      : DataFrame = {
    docs
      .select(col("doc_id"),
        hashedShingles(tokens(col("text")), shingleN).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") >= 1)
      .select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s"))
  }

  /** Each doc's shingle set as ONE array sorted by the global
    * (df asc, hash asc) order `dfTbl` defines — the prefix source AND
    * the verification set (`array_intersect` input), built by a
    * single groupBy. Shingles absent from `dfTbl` order as df 0
    * (rarest): the batch-vs-base admission case, where the order is
    * a release-time artifact and new shingles are genuinely rare.
    */
  private[graft] def orderedSets(inv: DataFrame, dfTbl: DataFrame)
      : DataFrame =
    inv.join(dfTbl, Seq("s"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy(col("doc_id"), col("n_sh"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("os"))
      .select(col("doc_id"), col("n_sh"),
        transform(col("os"), e => e("s")).as("toks"))

  /** (doc_id, n_sh, s) prefix rows: the first n − ⌈τn⌉ + 1 (rarest)
    * shingles of each ordered set — exact integer ceil
    * ⌈a/b⌉ = (a+b−1) div b (floor of the double ratio is exact here:
    * operands ≪ 2^53 and a non-integral k/tauDen sits ≥ 1/tauDen
    * from any integer).
    */
  private[text] def prefixRows(ordered: DataFrame, tauNum: Int,
      tauDen: Int): DataFrame = {
    val prefixLen =
      (col("n_sh") - floor((col("n_sh") * tauNum + tauDen - 1)
        .cast("double") / tauDen).cast("long") + 1).cast("int")
    ordered.select(col("doc_id"), col("n_sh"),
      posexplode(slice(col("toks"), lit(1), prefixLen))
        .as(Seq("pos0", "s")))
      .select(col("doc_id"), col("n_sh"),
        (col("pos0") + 1).cast("int").as("pos"), col("s"))
  }

  /** Distinct candidate pairs from two prefix-row tables under the
    * τ-length filter (`tauDen·min ≥ tauNum·max`) and — when
    * `positional` — PPJoin's position bound (Xiao et al. ICDE'08):
    * a shared prefix token at (1-based) positions (i, j) can witness
    * an overlap of at most 1 + min(|x|−i, |y|−j), so it only mints a
    * candidate when that bound reaches the τ-required overlap
    * α = ⌈τ(|x|+|y|)/(1+τ)⌉. LOSSLESS under the distinct: both sides
    * sort by ONE total order (df asc, hash asc), so a qualifying
    * pair's FIRST shared token has every other shared token after it
    * on both sides and satisfies the bound (the ceil is the
    * prefixLen double-floor argument: operands ≪ 2^53). `strictLess`
    * makes it a self-join (id_a < id_b) instead of a bipartite probe.
    */
  private def prefixCands(a: DataFrame, b: DataFrame, tauNum: Int,
      tauDen: Int, strictLess: Boolean,
      positional: Boolean = true): DataFrame = {
    val alpha = floor(((col("a.n_sh") + col("b.n_sh")) * tauNum +
      tauNum + tauDen - 1).cast("double") / (tauNum + tauDen))
      .cast("long")
    a.as("a").join(b.as("b"),
      col("a.s") === col("b.s") &&
        (if (strictLess) col("a.doc_id") < col("b.doc_id") else lit(true)) &&
        col("a.n_sh") * tauDen >= col("b.n_sh") * tauNum &&
        col("b.n_sh") * tauDen >= col("a.n_sh") * tauNum &&
        (if (positional)
          lit(1) + least(col("a.n_sh") - col("a.pos"),
            col("b.n_sh") - col("b.pos")) >= alpha
        else lit(true)))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  def prefixJaccardPairs(docs: DataFrame, tauNum: Int, tauDen: Int,
      shingleN: Int = 3): DataFrame = {
    val inv = shingleInv(docs, shingleN)
    val dfTbl = shingleDf(inv)
    val ordered = orderedSets(inv, dfTbl)
    val prefixes = prefixRows(ordered, tauNum, tauDen)
    val cand = prefixCands(prefixes, prefixes, tauNum, tauDen,
      strictLess = true)
    val sets = ordered.select(col("doc_id"), col("n_sh"), col("toks"))
    cand
      .join(sets.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa.toks"), col("sb.toks")))
          .cast("long").as("common"),
        col("sa.n_sh").cast("long").as("na"),
        col("sb.n_sh").cast("long").as("nb"))
      .filter(col("common") * tauDen >=
        (col("na") + col("nb") - col("common")) * tauNum)
      .select(col("id_a"), col("id_b"), col("common"),
        round(col("common").cast("double") * 10000 /
          (col("na") + col("nb") - col("common")))
          .cast("long").as("jaccard_e4"))
  }

  /** Candidate pairs of [[prefixJaccardPairs]] BEFORE verification —
    * dev/spec window for measuring the prefix filter's candidate
    * reduction against the full inverted index.
    */
  def prefixCandidateCount(docs: DataFrame, tauNum: Int, tauDen: Int,
      shingleN: Int = 3, positional: Boolean = true): Long = {
    val inv = shingleInv(docs, shingleN)
    val prefixes = prefixRows(orderedSets(inv, shingleDf(inv)), tauNum,
      tauDen)
    prefixCands(prefixes, prefixes, tauNum, tauDen, strictLess = true,
      positional = positional).count()
  }

  /** The release-time prefix-dedup index of a base corpus: the
    * ordered-sets table (persist as parquet) and the shingle-order
    * relation (s, df) batches order THEIR shingles by. Both are what
    * [[prefixAdmitVerdicts]] consumes — the EXACT-admission twin of
    * the MinHash signature index.
    */
  def buildPrefixIndex(docs: DataFrame, shingleN: Int = 3)
      : (DataFrame, DataFrame) = {
    val inv = shingleInv(docs, shingleN)
    val dfTbl = shingleDf(inv)
    (orderedSets(inv, dfTbl), dfTbl)
  }

  /** The (s, df) shingle-order relation of [[shingleInv]] rows. */
  private[graft] def shingleDf(inv: DataFrame): DataFrame =
    inv.groupBy("s").agg(count(lit(1)).as("df"))

  /** EXACT near-dup admission of a (small) batch against a base
    * corpus's prefix index — the lossless twin of the MinHash-LSH
    * admission (q107 / NearDupStream): a batch doc is REJECTED iff
    * some base doc's Jaccard ≥ τ, with no probabilistic recall
    * caveat, because the prefix lemma guarantees every qualifying
    * (batch, base) pair shares a prefix shingle under the base's
    * release-time (df asc, hash asc) order (any fixed total order is
    * lossless; base-df order is the pruning heuristic, and batch
    * shingles unknown to the base order as df 0 — genuinely rare).
    * Output mirrors q107's verdicts: (doc_id, best_base, jaccard_e4,
    * admit), best = max Jaccard, ties to the lowest base id.
    *
    * 100 TB posture: the index is touched by two passes per batch —
    * the prefix probe (base prefix rows ⋈ BROADCAST batch prefixes)
    * and the verification fetch (base sets ⋈ broadcast candidates) —
    * and never enters an exchange; all shuffles are batch-sized.
    */
  def prefixAdmitVerdicts(batch: DataFrame, baseOrdered: DataFrame,
      baseDf: DataFrame, tauNum: Int, tauDen: Int,
      shingleN: Int = 3): DataFrame = {
    val batchOrdered =
      orderedSets(shingleInv(batch, shingleN), baseDf)
    val basePrefix = prefixRows(baseOrdered, tauNum, tauDen)
    val batchPrefix = prefixRows(batchOrdered, tauNum, tauDen)
    val cands = prefixCands(basePrefix, broadcast(batchPrefix), tauNum,
      tauDen, strictLess = false)
      .select(col("id_a").as("id_b_base"), col("id_b").as("id_d"))
    val scored = baseOrdered
      .select(col("doc_id").as("id_b_base"),
        col("n_sh").cast("long").as("nb"), col("toks").as("tb"))
      .join(broadcast(cands), Seq("id_b_base"))
      .join(broadcast(batchOrdered.select(col("doc_id").as("id_d"),
        col("n_sh").cast("long").as("nd"), col("toks").as("td"))),
        Seq("id_d"))
      .withColumn("common",
        size(array_intersect(col("tb"), col("td"))).cast("long"))
      .filter(col("common") * tauDen >=
        (col("nb") + col("nd") - col("common")) * tauNum)
      .withColumn("jaccard_e4",
        round(col("common").cast("double") * 10000 /
          (col("nb") + col("nd") - col("common"))).cast("long"))
    // best base match per batch doc: max e4 score, ties to the lowest
    // base id (negated inside the struct-max) — q107's rule
    val best = scored.groupBy(col("id_d"))
      .agg(max(struct(col("jaccard_e4").as("j"),
        (-col("id_b_base")).as("nid"))).as("m"))
      .select(col("id_d"), (-col("m.nid")).as("best_base"),
        col("m.j").as("jaccard_e4"))
    batch.select(col("doc_id"))
      .join(broadcast(best), col("doc_id") === col("id_d"), "left")
      .select(col("doc_id"), col("best_base"), col("jaccard_e4"),
        col("best_base").isNull.as("admit"))
  }

  /** Corpus-wide LINE-level deduplication — the C4 preprocessing rule
    * (Raffel et al., "Exploring the Limits of Transfer Learning",
    * §2.2: any line occurring more than once in the corpus is kept
    * only once): boilerplate lines (cookie banners, nav, footers)
    * repeat across millions of pages and survive document-level
    * near-dup, so training pipelines dedup at line granularity too.
    * Keep-FIRST semantics: the occurrence with the smallest
    * (doc_id, position) — encoded as the single integer key
    * `doc_id·1e6 + pos`, exact in both engines — survives; every
    * other occurrence (cross-doc AND within-doc repeats) is dropped.
    * Returns one row per input doc: line count, kept count, and
    * `kept_sig` = md5 over the kept lines' DIGESTS joined in position
    * order (docs whose every line was seen earlier keep md5('')).
    *
    * 100 TB posture: the line TEXT never leaves its scan — it is
    * digested in place and every downstream stage (keeper aggregate,
    * survival join, per-doc signature) moves 32-byte digests and
    * integer keys only (the q30 rule, held through the WHOLE plan:
    * an earlier draft reconstructed kept text and shuffled document
    * bytes twice for it; the signature carries the same
    * content+order evidence for free). The keeper is a map-side-
    * combined min aggregate + equi join — never a window over the
    * corpus's line table. A caller needing the deduped text back
    * joins the (doc_id, pos) survivors against its own line relation
    * co-partitioned by doc_id.
    */
  /** (doc_id, pos, lh, rank_key) lines of `docs`, digested in the
    * scan — the shared first stage of [[lineDedup]] (whole-corpus)
    * and [[lineAdmitStats]] (delta-vs-base).
    */
  private def rankedLines(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n"))
        .as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), md5(col("line")).as("lh"))
      // rank_key packs (doc_id, pos) into one Long, exact in both
      // engines — valid ONLY while pos < 1e6 and doc_id stays below
      // Long.Max/1e6 (~9.2e12). Past either bound the packed keys
      // would collide/overflow ACROSS documents and silently violate
      // the smallest-(doc_id, pos) keeper rule with both engines
      // agreeing (the oracle can't catch it), so the bound fails LOUD
      // row-side, the Fixtures.plantedId pattern.
      .withColumn("rank_key",
        when(assert_true(
            col("pos") < LineKeyPosBound && col("doc_id") >= 0L &&
              col("doc_id") < Long.MaxValue / LineKeyPosBound,
            concat(lit("lineDedup rank_key out of packing range " +
              s"(pos bound $LineKeyPosBound): doc_id="),
              col("doc_id").cast("string"), lit(" pos="),
              col("pos").cast("string"),
              lit("; widen the key to a (doc_id, pos) struct min"))
          ).isNull,
          col("doc_id") * LineKeyPosBound + col("pos")))

  def lineDedup(docs: DataFrame): DataFrame = {
    // one exchange (guide §2.4): a keeper as a min aggregate
    // JOINED back against a second scan of the line table — two
    // shuffles of the exploded lines plus the join (and the narrow
    // line pipeline re-runs once per sibling branch). min_by carries
    // the keeper's own (doc_id, pos) through the SAME map-side-
    // combined aggregate, so one exchange replaces both and the join
    // disappears. rank_key is unique per line occurrence (packed
    // (doc_id, pos)), so min_by is deterministic and the kept set is
    // bit-identical. Measured at sf0.1: q150 3.29 s -> 2.36 s.
    val kept = rankedLines(docs).groupBy(col("lh"))
      .agg(min_by(struct(col("doc_id"), col("pos")), col("rank_key"))
        .as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.pos").as("pos"),
        col("lh"))
    lineStatsFrom(kept, docs)
  }

  /** The release-time LINE-digest index of a base corpus — what
    * [[lineAdmitStats]] admits against (persist as parquet per
    * corpus release; one 32-char column, distinct).
    */
  def buildLineIndex(docs: DataFrame): DataFrame =
    docs.select(posexplode(split(col("text"), "\n"))
        .as(Seq("pos", "line")))
      .select(md5(col("line")).as("lh"))
      .distinct()

  /** Incremental (delta-vs-base) C4 line dedup — q150's keep-first
    * rule against a release-time base index, the q80/q107 admission
    * shape applied at LINE granularity: a crawl batch's line survives
    * iff it is (a) the batch's own keep-first occurrence (smallest
    * (doc_id, pos), the q150 rule within the batch) AND (b) unseen in
    * the base index. Returns q150's row shape per batch doc
    * (n_lines, n_kept, kept_sig over the surviving lines' digests in
    * position order), so a batch doc reduced to boilerplate by the
    * base reads exactly like q150 flags it.
    *
    * 100 TB posture: the BASE NEVER SHUFFLES — its one 32-char
    * column is probed by [[matchedBaseDigests]] (broadcast of the
    * batch's distinct digests under the shared cap, guarded
    * sort-merge fallback past it), and the hits — bounded by the
    * batch's distinct lines, never base-sized — anti-join back under
    * the same transport guard. All other work is batch-sized digest
    * machinery (the q150 plan).
    */
  def lineAdmitStats(batch: DataFrame, baseLineIndex: DataFrame)
      : DataFrame =
    lineStatsFrom(lineAdmitKept(batch, baseLineIndex), batch)

  /** The SURVIVING (doc_id, pos, lh) lines of [[lineAdmitStats]] —
    * exposed for the streaming twin, whose admit-and-grow mode
    * appends these digests to the index for later batches. The hits
    * anti-join's transport is guarded by the same estimate
    * matchedBaseDigests uses: [[approxDistinct]] of the batch's line
    * digests (a DataSketches HLL sketch, about 0.8% relative standard
    * error) against 95% of the shared cap, a margin of more than 6
    * standard errors. Hits are bounded by the batch's distinct lines,
    * never base-sized.
    */
  private[graft] def lineAdmitKept(batch: DataFrame,
      baseLineIndex: DataFrame): DataFrame = {
    // min_by keeper — same one-exchange shape as [[lineDedup]];
    // kept set identical to the min+join-back form
    val ranked = rankedLines(batch)
    val kept0 = ranked.groupBy(col("lh"))
      .agg(min_by(struct(col("doc_id"), col("pos")), col("rank_key"))
        .as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.pos").as("pos"),
        col("lh"))
    // ONE estimator job, shared with matchedBaseDigests' transport
    // decision via knownDeltaCount (its internal estimator would
    // recompute kept0's digest+keeper lineage for the same number).
    // The estimate runs over the RANKED lines, not kept0: kept0 has
    // exactly one row per distinct lh of `ranked`, so both hold the
    // same distinct set, and the estimator job skips the keeper
    // exchange (map-side sketch partials, one tiny final merge).
    // kept0 itself is deliberately NOT persisted: the stream caller
    // already persists the batch (so recompute re-runs batch-sized
    // digest work over cached rows), and a catalog cache here would
    // leak across LineDedupStream's batches — its per-batch
    // unpersist covers `kept`, not this internal frame.
    val approxN = approxDistinct(ranked, "lh")
    val hits = matchedBaseDigests(
      baseLineIndex.select(col("lh")), kept0.select(col("lh")), "lh",
      knownDeltaCount = approxN)
    val transport =
      if (approxN <= MaxBroadcastDigests - MaxBroadcastDigests / 20)
        broadcast(hits)
      else hits.hint("merge")
    kept0.join(transport, Seq("lh"), "left_anti")
      .select(col("doc_id"), col("pos"), col("lh"))
  }

  /** q150's per-doc readout (n_lines, n_kept, position-ordered
    * kept_sig) over a surviving-lines table — shared by whole-corpus
    * [[lineDedup]] and delta [[lineAdmitStats]].
    */
  private[graft] def lineStatsFrom(kept: DataFrame, docs: DataFrame)
      : DataFrame = {
    val agg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        md5(concat_ws("\n",
          transform(sort_array(collect_list(struct(col("pos"), col("lh")))),
            e => e("lh")))).as("kept_sig"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_sig"), md5(lit(""))).as("kept_sig"))
  }

  /** Benchmark-contamination probe — the decontamination step of a
    * training-data pipeline: flag every training document sharing at
    * least `minOverlap` distinct word n-gram shingles with any
    * document of the benchmark (eval) set, so leaked test items can
    * be dropped before training. This is the standard n-gram overlap
    * check; unlike near-dup Jaccard it is ASYMMETRIC (a 100-word
    * benchmark item buried in a 10k-word page must still flag) so it
    * thresholds the absolute shared-shingle count, not a ratio.
    *
    * 100 TB posture: the corpus side streams through its scan exploded
    * to (doc_id, 8-byte digest); the benchmark index is exploded and
    * BROADCAST — an eval suite is small by definition (and fixed), so
    * the join is map-side and the corpus never shuffles; the only
    * exchange is the per-(doc, bench) count aggregate with map-side
    * partials. `docs` must carry doc_id/text; `isBench` marks the
    * benchmark rows.
    */
  def contaminationPairs(docs: DataFrame, isBench: Column,
      shingleN: Int = 5, minOverlap: Long = 5L): DataFrame = {
    val sh = docs.select(col("doc_id"),
      hashedShingles(tokens(col("text")), shingleN).as("sh"),
      isBench.as("is_bench"))
    val inv = sh.select(col("doc_id"), col("is_bench"),
      explode(col("sh")).as("s"))
    val bench = inv.filter(col("is_bench"))
      .select(col("doc_id").as("bench_id"), col("s"))
    val corpus = inv.filter(!col("is_bench"))
      .select(col("doc_id"), col("s"))
    // shingles are distinct per doc (hashedShingles), so the join hits
    // each shared shingle exactly once and count(1) IS the overlap
    corpus.join(broadcast(bench), "s")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Longest cross-doc shared span per document (Lee et al.-style
    * substring-dedup measurement, chunk-chain form): the length in
    * tokens of each doc's longest token run that also appears
    * verbatim in ANOTHER doc. Stride-1 `shingleN`-gram shingles make
    * detection ALIGNMENT-FREE and token-exact for spans >= shingleN
    * tokens (a shared L-token span yields L-shingleN+1 consecutive
    * shingle matches on one (docA, docB, posA-posB) diagonal, wherever
    * it sits in either doc — the thing fixed-boundary chunk digests
    * (q75) cannot see); span = longest diagonal run + shingleN - 1.
    *
    * Scale shape: NO self-join — shingles group once by digest and
    * anchor pairs explode from per-digest position lists capped at
    * `maxOcc` (<= maxOcc^2 pairs per digest, the q33 cap pattern), so
    * the tokenize->shingle->md5 pipeline runs exactly once and the
    * only exchanges are the digest group, the diagonal window (whose
    * (ad,bd,diag) partitioning the island count reuses), and the
    * per-doc max. Shingles hotter than `maxOcc` (boilerplate 8-grams)
    * are dropped BEFORE pair generation — the quadratic guard; a true
    * span crossing a dropped shingle splits into two shorter runs, so
    * reported spans are a deterministic lower bound in both engines
    * (identically in the DuckDB twin). Raw text never shuffles: the
    * exchanges carry (digest, doc, pos) and counts only.
    */
  def maxSharedSpans(docs: DataFrame, shingleN: Int = 8,
      maxOcc: Int = 8): DataFrame = {
    val spans = sharedSpanRuns(docs, shingleN, maxOcc)
      .groupBy(col("ad").as("doc_id"))
      .agg((max(col("run")) + (shingleN - 1)).as("span"))
    docs.select(col("doc_id"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("span"), lit(0L)).cast("long").as("max_span_toks"))
  }

  /** The shared machinery of [[maxSharedSpans]]/[[cutSharedSpans]]:
    * every maximal cross-doc diagonal run of matching stride-1
    * shingles, one row per (ad, bd, diag) island — `start` is the run's
    * first shingle position in doc `ad`, `run` its shingle count (=
    * run + shingleN - 1 covered tokens).
    */
  private[text] def sharedSpanRuns(docs: DataFrame, shingleN: Int,
      maxOcc: Int): DataFrame = {
    val t = tokens(col("text"))
    // native shingle_hash60 (one streamed digest per window, 8-byte
    // keys): the composed per-window md5(concat_ws(slice)) HOF form
    // re-materialized every shingle string and shuffled 32-char hex —
    // measured 3.8 s -> ~1 s at sf0.1 for q85, and the digest
    // exchange shrinks 4x. Same house convention q31 runs on; the
    // oracle replays it via md5IntSql over the joined window.
    val sh = docs
      .filter(size(t) >= shingleN)
      .select(col("doc_id"),
        posexplode(call_function("shingle_hash60", t, lit(shingleN)))
          .as(Seq("pos", "h")))
    // occ collection is the capped aggregate (guide §5 + §2.4;
    // collect_members_capped, as in the pair core) so a boilerplate 8-gram with 10^8 occurrences at 100 TB costs one
    // flag byte per task, not an unbounded reduce-side list before
    // the between(2, maxOcc) filter — null == over-cap == dropped,
    // the same group set. Field names rename via a no-op struct cast.
    val pairs = sh
      .groupBy(col("h"))
      .agg(call_function("collect_members_capped",
        col("doc_id"), col("pos"), lit(maxOcc.toLong)).as("ms"))
      .filter(col("ms").isNotNull && size(col("ms")) >= 2)
      .select(col("ms").cast("array<struct<doc_id:bigint,pos:int>>")
        .as("occs"))
      .select(explode(col("occs")).as("a"), col("occs"))
      .select(col("a"), explode(col("occs")).as("b"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("ad"), col("a.pos").as("ap"),
        (col("a.pos") - col("b.pos")).as("diag"), col("b.doc_id").as("bd"))
    // islands come from ONE (guide §2.4) grouped aggregate over (ad, bd, diag) — sort_array of the
    // group's (distinct — one digest per (doc, pos)) positions, then
    // per-group array math finds the consecutive runs — replacing the
    // whole-partition Sort + Window(row_number) + second aggregate.
    // Same exchange key, one operator chain fewer; run/start values
    // identical to the (ap - row_number) island fold by construction
    // (both enumerate maximal consecutive-position segments).
    // `get()` (0-based, null past the end — ANSI-safe) reads the
    // next-start fence; the last run's fence is the group size.
    val starts = filter(
      sequence(lit(0), size(col("aps")) - 1),
      i => (i === 0) ||
        (get(col("aps"), i) =!= get(col("aps"), i - 1) + 1))
    pairs
      .groupBy(col("ad"), col("bd"), col("diag"))
      .agg(sort_array(collect_list(col("ap"))).as("aps"))
      .withColumn("si", starts)
      .select(col("ad"), col("bd"), col("diag"), col("aps"), col("si"),
        posexplode(col("si")).as(Seq("j", "s")))
      .select(col("ad"), col("bd"), col("diag"),
        (coalesce(get(col("si"), col("j") + 1), size(col("aps")))
          - col("s")).cast("long").as("run"),
        get(col("aps"), col("s")).as("start"))
  }

  /** The CUT half of substring dedup (Lee et al.'s action, where
    * [[maxSharedSpans]] is the measurement): remove from each doc
    * every token covered by a shared span whose partner doc has the
    * SMALLER doc_id — a total, deterministic keeper order, so exactly
    * one copy of every shared span survives corpus-wide (the lowest
    * id's) with no coordination. Emits per doc the original token
    * count, tokens cut, and the md5 of the kept tokens re-joined —
    * the digest keeps the oracle exact without hauling text through
    * the comparison; a fully-duplicated doc keeps the empty string.
    *
    * Same scale shape as the measurement (one extra bounded coverage
    * explode + one (doc, pos) join): exchanges carry digests,
    * positions, and single tokens; never whole texts.
    */
  def cutSharedSpans(docs: DataFrame, shingleN: Int = 8,
      maxOcc: Int = 8): DataFrame = {
    val covered = sharedSpanRuns(docs, shingleN, maxOcc)
      .filter(col("bd") < col("ad")) // the smaller id keeps its copy
      .select(col("ad").as("doc_id"),
        explode(sequence(col("start").cast("long"),
          col("start").cast("long") + col("run") + (shingleN - 2))).as("pos"))
      .distinct()
      .withColumn("cut", lit(true))
    docs
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "tok")))
      .join(covered, Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("cut").isNotNull.cast("long")).as("n_cut"),
        // kept tokens, original order: nulls (cut rows) vanish from
        // collect_list; struct sort orders by pos
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("cut").isNull, struct(col("pos"), col("tok"))))),
            s => s.getField("tok")))).as("kept_md5"))
      .select(col("doc_id"), col("n_toks"), col("n_cut"), col("kept_md5"))
  }

  /** Matched-digest probe for delta-vs-base incremental dedup (q80,
    * the streaming ingest): which of `deltaDigests` already occur in
    * `base`'s `key` column? Returns the distinct matched digest set
    * (≤ |delta| rows, never base-sized).
    *
    * Transport is chosen by an EXPLICIT size check on the delta —
    * `broadcast()` is a hint Spark obeys unconditionally, so an
    * unguarded probe with an oversized delta would OOM the driver
    * building the hash relation rather than flip to a safer plan:
    * - delta ≤ `maxBroadcastRows`: broadcast semi-join — the 100 TB
    *   base stays MAP-ONLY (zero shuffles, one scan). The default cap
    *   (2^22 digests ≈ a few hundred MB of hash relation) keeps the
    *   broadcast comfortably inside a normal executor/driver budget;
    *   a real micro-batch delta is orders of magnitude below it.
    * - larger deltas: documented fallback to a shuffled sort-merge
    *   semi-join (`hint("merge")` — deterministic, not left to stats
    *   that a computed delta doesn't have). The base pays its one
    *   digest shuffle; that is the honest cost of probing a delta too
    *   big to ship to every task, and still exchanges 16-byte-digest
    *   rows, never text.
    * The check itself runs one delta-sized job at construction (the
    * delta is the SMALL side by definition): [[approxDistinct]], a
    * DataSketches HLL sketch at lgConfigK 14 (about 0.8% relative
    * standard error, map-side partial sketches and no distinct
    * shuffle), so the exact `distinct()` executes exactly once,
    * inside the join. An OOM guard must not lose to its own
    * estimator's tail: the estimate is compared against 95% of the
    * cap, more than 6 standard errors below it, so a just-over-cap
    * delta cannot slip through on a low estimate — at worst a
    * just-UNDER-cap delta takes the (always-correct) sort-merge path.
    * Null digests count as nothing. Same documented not-purely-lazy
    * precedent as the q43/q77/q83 sketch builds.
    */
  def matchedBaseDigests(base: DataFrame, deltaDigests: DataFrame,
      key: String,
      maxBroadcastRows: Long = MaxBroadcastDigests,
      knownDeltaCount: Long = -1L): DataFrame = {
    val probe = deltaDigests.select(col(key)).distinct()
    // a caller that already ran the estimator for its own transport
    // decision passes the number in (lineAdmitKept) — re-running it
    // here would recompute the delta's whole lineage for a value we
    // have
    val approxN =
      if (knownDeltaCount >= 0) knownDeltaCount
      else approxDistinct(deltaDigests, key)
    val hits =
      if (approxN <= maxBroadcastRows - maxBroadcastRows / 20)
        base.select(col(key)).join(broadcast(probe), Seq(key), "left_semi")
      else
        base.select(col(key)).join(probe.hint("merge"), Seq(key), "left_semi")
    hits.distinct()
  }

  /** Estimated distinct non-null values of `df`'s `key` column, for
    * the digest-set transport guards ([[matchedBaseDigests]],
    * [[lineAdmitKept]]): Spark's built-in DataSketches HLL sketch at
    * lgConfigK 14, 2^14 one-byte registers and a relative standard
    * error of about 1.04 / 2^7, 0.8%; each task's partial sketch is
    * one binary buffer. HyperLogLog++ (`approx_count_distinct` at
    * 1% rsd, whose aggregation buffer is 1,639 long fields) took
    * 0.8–1.1 s warm over 150 md5 digests, this sketch 0.08–0.10 s
    * (local[4], 4-core VM). An empty or all-null input estimates 0.
    */
  private[graft] def approxDistinct(df: DataFrame, key: String): Long =
    df.agg(hll_sketch_estimate(hll_sketch_agg(col(key), DistinctSketchLgK)))
      .head().getLong(0)

  /** lgConfigK of [[approxDistinct]]'s sketch. */
  private val DistinctSketchLgK = 14

  /** Shared broadcast-capacity cap for digest-set transports (the
    * [[matchedBaseDigests]] probe and the ingest's hits anti-join):
    * 2^22 digests ≈ a few hundred MB of hash relation, comfortably
    * inside a normal executor/driver budget. One constant so the two
    * guarded regimes can never drift apart.
    */
  val MaxBroadcastDigests: Long = 1L << 22

  /** Connected components over a near-duplicate pair graph — the step
    * that turns candidate pairs (q31/q33 output) into an actionable
    * dedup decision: every doc gets the minimum doc_id of its
    * component as `label`; keep label == id, drop the rest.
    *
    * Spark-native min-label propagation WITH POINTER DOUBLING: each
    * iteration (1) joins labels across the bidirectional edge list and
    * takes the per-node min — one graph hop — then (2) follows the
    * freshly-computed label one more step (`label(label(id))`), the
    * path-shortcutting half of hash-to-min CC. The hop alone needs
    * O(component diameter) rounds; the shortcut roughly doubles how
    * far the minimum has travelled each round, so even an
    * adversarially-CHAINED near-dup graph converges in O(log n) rounds
    * (spec: a 1000-node path in well under 25) while organic shallow
    * dup clusters still finish in 2-3. The driver-side loop holds only
    * the iteration count and a label-sum; labels/edges stay
    * distributed. Input must have id_a < id_b columns; output is
    * (id, label) for every node of the graph. The returned DataFrame
    * is persisted (the loop's last round) — the caller owns the
    * unpersist once consumed (the query harness clears the cache
    * between queries).
    */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // dev-only stage timing (GRAFT_CC_DEBUG=1): per-round cost is the
    // tuning signal — driver-loop overhead vs data volume
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    def timed[T](name: String)(f: => T): T =
      if (!debug) f else {
        val t0 = System.nanoTime(); val r = f
        println(f"[cc] $name%-16s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
        r
      }
    // `edges` stays LAZY: the five references below (two bidir
    // branches, two nodes branches, the self-loops) all share the
    // pairs subplan's top aggregate exchange, so ReuseExchange
    // computes the expensive explode/join shuffle once and only the
    // cheap post-exchange agg+filter replays per reference — no
    // persist barrier, no extra job (measured equal-or-faster
    // than the persisted form and one action shorter). This is safe
    // ONLY because the pairs pipeline ends in an aggregate; a
    // narrow-plan input would race its siblings and recompute (the
    // `sh` table inside jaccardPairs is exactly that case and keeps
    // its barrier).
    val edges = pairs.select(col("id_a"), col("id_b"))
    // Bidirectional edges PLUS one self-loop per node, co-partitioned
    // on the join key ONCE and persisted. Two effects per round:
    //   1. the join reuses bidir's id_a partitioning and labels'
    //      groupBy(id) partitioning — no exchange on either join side,
    //      so each round shuffles only the narrow (id, label) message
    //      table for its min-aggregate, never the edge list again;
    //   2. the self-loop delivers each node's OWN label through the
    //      same join, replacing the labels-∪-messages union — which
    //      both destroyed the partitioning info and referenced the
    //      labels plan twice per round, doubling the logical plan
    //      every iteration (exponential analyze/optimize cost, the
    //      dominant cost of a per-round join form at shallow
    //      graphs). With one reference per round the plan grows linearly; deployments
    //      on deep graphs should additionally checkpoint labels every
    //      ~10 rounds to re-truncate lineage.
    val nodes = edges.select(col("id_a").as("id"))
      .union(edges.select(col("id_b").as("id"))).distinct()
    // localCheckpoint, not persist: persist caches the DATA but
    // every round's hop/doubling plan still carries bidir's FULL
    // logical lineage (the whole pairs pipeline), and re-analyzing +
    // re-planning that tree per round cost ~2 s/round at sf0.1 — 10x
    // the rounds' actual job time. The eager local checkpoint runs
    // the pairs pipeline exactly once (same single-computation
    // property the exchange-reuse note above argues) and hands back a
    // LogicalRDD that PRESERVES the repartition's id_a hash
    // partitioning (unlike a raw .rdd re-wrap), so each round still
    // plans an exchange-free join — over a one-node logical tree.
    val bidir = edges
      .union(edges.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .union(nodes.select(col("id").as("id_a"), col("id").as("id_b")))
      .repartition(col("id_a"))
      .localCheckpoint()
    // Degree-aware seed: label = min over
    // self ∪ neighbors, computed directly on bidir with ONE aggregate
    // that reuses bidir's id_a partitioning — no join, no exchange.
    // This is exactly what round 1's hop over identity labels would
    // compute, so a graph whose min-neighbor labeling is already the
    // fixpoint (organic shallow dup clusters) converges one full
    // round (hop join + doubling join + action) earlier; deeper
    // graphs get a free first hop before the doubling compounds.
    // Rooted at bidir (checkpointed), not `edges` — a labels plan
    // rooted at edges would recompute the entire upstream pairs
    // pipeline when first materialized. The aggregate output is
    // hash-partitioned on id_a and project aliasing preserves that,
    // so each round's join stays exchange-free on both sides.
    var labels = bidir.groupBy(col("id_a"))
      .agg(min(col("id_b")).as("label"))
      .select(col("id_a").as("id"), col("label")).persist()
    // Convergence via the label SUM: per-node labels are non-increasing
    // (min over self ∪ neighbors), so the sum strictly decreases until
    // the fixpoint — one aggregate action per round (which also
    // materializes the persist), no separate changed-row join.
    // decimal(38,0) so the sum is exact at any id domain / node count.
    // The seed's own sum is the round-0 baseline (one cheap action on
    // the narrow labels, which also fills the seed's cache) — the old
    // form compared round 0 against sum(id), which cost every graph a
    // confirming round even when the seed was already the fixpoint.
    var prevSum: java.math.BigDecimal = labels.agg(
      coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).collect().head.getDecimal(0)
    var iters = 0
    var converged = false
    val spark = pairs.sparkSession
    // each round's labels live on an OWNED persisted RDD wrapped in a
    // LogicalRDD DataFrame: the doubling join below references the
    // round's plan twice, so a plan-based loop would double its
    // logical plan EVERY round (exponential analyze/AQE-explain cost
    // by round ~10 — exactly the blow-up the self-loop trick removed
    // from the per-round join form); the RDD wrap truncates lineage to O(1) plan
    // nodes per round at the cost of one narrow (id, label) exchange
    // re-keying the labels side of the hop join
    var labelsRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    while (!converged && iters < maxIters) timed(s"fullround $iters") {
      // hop: per-node min label over self ∪ neighbors — shuffles only
      // the narrow (id, label) message table, never the edge list
      val hop = bidir.join(labels, bidir("id_a") === labels("id"))
        .select(col("id_b").as("id"), col("label"))
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      // shortcut (pointer doubling): follow this round's label one
      // more step — label(id) is always a node id of the same
      // component (mins of existing ids), so the lookup join always
      // matches and y.label ≤ x.label keeps labels non-increasing.
      // `hop` ends in an aggregate, so ReuseExchange computes its
      // shuffle once for both join sides. The hop alone converges in
      // O(component diameter) rounds; the shortcut roughly doubles
      // the minimum's reach per round — O(log n) even on chains.
      val next0 = hop.as("x")
        .join(hop.as("y"), col("x.label") === col("y.id"), "left")
        .select(col("x.id").as("id"),
          least(col("x.label"), coalesce(col("y.label"), col("x.label")))
            .as("label"))
      val nextRdd = next0.rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val next = spark.createDataFrame(nextRdd, next0.schema)
      val sums = timed(s"round $iters")(
        next.agg(
          coalesce(sum(col("label").cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO))).collect().head)
      val nextSum = sums.getDecimal(0)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels.unpersist() // releases the seed's DF cache; no-op after
      if (labelsRdd != null) labelsRdd.unpersist(blocking = false)
      labels = next
      labelsRdd = nextRdd
      iters += 1
    }
    // Dataset.unpersist would be a silent NO-OP here: it only drops
    // CacheManager entries, and localCheckpoint's blocks are a raw
    // RDD persist the CacheManager never sees — release the
    // checkpointed RDD itself (the function's largest intermediate;
    // leaking it would also survive the harness's clearCache)
    bidir.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
    // no silent caps: partially-propagated labels are WRONG component
    // ids — fail loudly rather than hand back a truncated fixpoint
    // (maxIters bounds log2 of component DIAMETER up to the doubling;
    // hitting it means the input is nothing like a near-dup graph)
    if (!converged) {
      if (labelsRdd != null) labelsRdd.unpersist(blocking = false)
      throw new IllegalStateException(
        s"dedupClusters did not converge within $maxIters rounds — " +
          "raise maxIters")
    }
    // hand back a CATALOG-managed cache (the harness clears those
    // between queries; a raw RDD persist would outlive clearCache) and
    // release the loop's RDD once the copy is filled
    val out = labels.persist()
    timed("outfill")(out.count())
    if (labelsRdd != null) labelsRdd.unpersist(blocking = false)
    out
  }

  /** Per-language stopword profiles for the language-ID heuristic. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "y", "es", "no", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "ne", "un"),
    "zh" -> Seq("的", "是", "在", "了", "不")
  )

  /** Stopword-hit count for one language profile. */
  def langHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Predicted language: argmax of profile hits, ties to the
    * lexicographically first language; 'und' (undetermined) when no
    * profile scores a hit.
    *
    * Scalar convenience form. Flat shape (greatest + chained when over
    * the hit counts — the earlier struct-reduce version duplicated the
    * token scan exponentially via getField-over-CaseWhen, the same
    * blow-up documented at Relational.q25). Still re-evaluates the
    * hit counts a handful of times inside one expression; for per-row
    * hot paths prefer [[withLanguageId]], which stages the counts as
    * named columns so each is computed exactly once.
    */
  def languageId(toks: Column): Column = {
    val hits = langProfiles.map { case (_, ws) => langHits(toks, ws) }
    val m = greatest(hits: _*)
    val pick = langProfiles.zip(hits).tail.foldLeft(
      when(hits.head === m, langProfiles.head._1)) {
      case (acc, ((lang, _), h)) => acc.when(h === m, lang)
    }
    when(m === 0, lit("und")).otherwise(pick)
  }

  /** Staged language-ID over a DataFrame: one flat hit-count column
    * per profile (each token scan evaluated ONCE per row), then an
    * argmax of named attribute references. Identical semantics to
    * [[languageId]]; this is the form to use in pipelines — per-row
    * CPU is k membership scans instead of the scalar form's
    * re-evaluated expression tree. `df` must contain `textCol`.
    */
  def withLanguageId(df: DataFrame, textCol: Column, out: String): DataFrame = {
    val tk = tokens(textCol)
    val hitNames = langProfiles.map { case (lang, _) => s"__hits_$lang" }
    val staged = df.select(
      col("*") +: langProfiles.map { case (lang, ws) =>
        langHits(tk, ws).as(s"__hits_$lang")
      }: _*)
      .withColumn("__hits_max",
        greatest(hitNames.map(col): _*))
    val pick = langProfiles.tail.foldLeft(
      when(col(hitNames.head) === col("__hits_max"), langProfiles.head._1)) {
      case (acc, (lang, _)) => acc.when(col(s"__hits_$lang") === col("__hits_max"), lang)
    }
    staged
      .withColumn(out, when(col("__hits_max") === 0, lit("und")).otherwise(pick))
      .drop("__hits_max" +: hitNames: _*)
  }
}
