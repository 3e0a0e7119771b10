package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[TextOps.prefixJaccardPairs]] (q145) — EXACT all-pairs Jaccard
  * with prefix filtering. The two load-bearing claims:
  *
  *  1. LOSSLESS — output equals the brute-force inverted index
  *     ([[TextOps.jaccardPairs]]) at the same τ and shingle width on
  *     every fixture, including sizes where τ·n is an integer (the
  *     ⌈τn⌉-boundary case a floor-based prefix length gets wrong).
  *  2. PRUNING — the prefix index generates strictly fewer candidate
  *     pairs than the share-ANY-shingle index on an overlapping
  *     corpus (the reason the operator exists at 100 TB).
  */
class PrefixJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def df(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  private def brutePairs(docs: Seq[(Long, String)], tau: Double,
      n: Int): Set[(Long, Long, Long, Long)] =
    TextOps.jaccardPairs(df(docs), tau, shingleN = n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def prefixPairs(docs: Seq[(Long, String)], num: Int, den: Int,
      n: Int): Set[(Long, Long, Long, Long)] =
    TextOps.prefixJaccardPairs(df(docs), num, den, n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  // overlapping corpus: shared boilerplate head + doc-specific tails
  // of varying length, plus two planted near-dup groups
  private val corpus: Seq[(Long, String)] = {
    val boiler = (0 until 6).map(i => s"b$i").mkString(" ")
    val organic = (0L until 20L).map { id =>
      val tail = (0 until (4 + (id % 7)).toInt).map(j => s"t${id}_$j")
      id -> (boiler + " " + tail.mkString(" "))
    }
    val twins = Seq(
      100L -> "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9",
      101L -> "u0 u1 u2 u3 u4 u5 u6 u7 u8 zz", // high-Jaccard twin
      200L -> "v0 v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11",
      201L -> "v0 v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11") // exact dup
    organic ++ twins
  }

  test("lossless: prefix-filtered output equals brute force at tau=7/10") {
    assert(prefixPairs(corpus, 7, 10, 3) === brutePairs(corpus, 0.7, 3))
  }

  test("lossless at tau=1/2 (integer tau*n boundary sizes included)") {
    // docs engineered so n_sh hits exact multiples of 2: with
    // shingleN=3, k tokens -> k-2 distinct shingles; 6- and 8-token
    // docs give n_sh = 4, 6 where tau*n is integral
    val boundary = Seq(
      1L -> "a0 a1 a2 a3 a4 a5",           // n_sh 4
      2L -> "a2 a3 a4 a5 a6 a7",           // overlaps 1
      3L -> "c0 c1 c2 c3 c4 c5 c6 c7",     // n_sh 6
      4L -> "c0 c1 c2 c3 c4 c5 c6 d0",     // near twin of 3
      5L -> "e0 e1 e2 e3 e4 e5 e6 e7")
    assert(prefixPairs(boundary, 1, 2, 3) === brutePairs(boundary, 0.5, 3))
  }

  test("pruning: prefix candidates < share-any-shingle candidates") {
    val full = TextOps.shinglePairCounts(df(corpus), shingleN = 3).count()
    val pref = TextOps.prefixCandidateCount(df(corpus), 7, 10, 3)
    // the boilerplate head makes every organic pair share a shingle,
    // so the full index pairs ~all 20 docs; prefixes (rarest-first)
    // skip the common boilerplate shingles
    assert(pref < full,
      s"prefix filter must prune candidates: prefix=$pref full=$full")
    // and the survivors still contain every qualifying pair (covered
    // bit-exactly by the lossless tests above)
  }

  test("positional filter: measured reduction, lossless where it prunes") {
    // PPJoin's position bound, adopted AFTER measurement (the
    // audit-before-trust rule; the measurements are in SCALE.md):
    // at the gate's tau=7/10 the df-ordered prefixes already collapse
    // candidates (28 -> 28 at sf0.001), but at tau=1/2 — where
    // shorter prefixes flood on boilerplate-heavy corpora — the bound
    // cut sf0.001 organic candidates 863 -> 33 and a 2000-doc shared-
    // boilerplate skew fixture 23,653 -> 1,485 (93.7%). This test
    // pins the law on a spec-sized replica of that skew fixture.
    val boiler = (0 until 8).map(i => s"b$i").mkString(" ")
    val skew = (0L until 300L).map { id =>
      val tail = (0 until (3 + (id % 37)).toInt).map(j => s"t${id}_$j")
      id -> (boiler + " " + tail.mkString(" "))
    }
    val noPos =
      TextOps.prefixCandidateCount(df(skew), 1, 2, 3, positional = false)
    val withPos =
      TextOps.prefixCandidateCount(df(skew), 1, 2, 3, positional = true)
    assert(withPos * 5 < noPos,
      s"position bound stopped pruning: $withPos vs $noPos")
    // and the pruned candidate set still verifies to brute force
    assert(prefixPairs(skew, 1, 2, 3) === brutePairs(skew, 0.5, 3))
  }

  test("exact duplicate and disjoint docs behave at the extremes") {
    val got = prefixPairs(corpus, 7, 10, 3)
    assert(got.exists { case (a, b, _, j) => a == 200L && b == 201L && j == 10000L },
      "exact dup must surface with jaccard_e4 = 10000")
    assert(got.forall { case (a, b, _, _) => a < b })
  }
}
