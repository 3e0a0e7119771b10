package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Pins q81's merge semantics on a hand-computed corpus — in
  * particular the overlapping-run case the encoding exists for:
  * greedy left-to-right BPE merges 'aaaa' into [aa, aa], and a naive
  * single-space symbol encoding gets [aa, a, a] instead (consecutive
  * replace matches share the middle delimiter), which would surface
  * here as a wrong round-2 pair and count.
  */
class BpeSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  test("q81 merges follow the greedy fold, including overlapping runs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bpe").toString
    // words: aaaa x3, bc x2, de x1 —
    //   round 1: (a,a) appears 3x per 'aaaa' -> 9
    //   round 2: 'aaaa' is now [aa, aa] -> (aa,aa) count 3; the
    //            single-space bug would yield [aa, a, a] and a tied
    //            (aa,a)/(a,a) pick here instead
    //   round 3: (b,c) -> 2;  round 4: (d,e) -> 1
    Seq((1L, "aaaa aaaa aaaa bc bc de"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextQueries.q81(spark, dir).orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (1, "a", "a", 9L),
      (2, "aa", "aa", 3L),
      (3, "b", "c", 2L),
      (4, "d", "e", 1L)), s"merge sequence diverged: $got")

    // q82 applies the same merges in rank order: every word collapses
    // to a single learned subword, weighted by corpus occurrences
    val sub = TextQueries.q82(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sub == Seq(("aaaa", 3L), ("bc", 2L), ("de", 1L)),
      s"subword table diverged: $sub")
  }

  test("a corpus that runs dry before round k stops early in BOTH engines") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bpedry").toString
    // merges: (a,b) x2, then (c,d) x1, then NO pairs remain — q81
    // must return 2 rows (the oracle's empty best3/best4 truncate the
    // same way) and q82 must segment with the 2 learned merges, not
    // throw or return empty
    Seq((1L, "ab ab cd")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val merges = TextQueries.q81(spark, dir).orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(merges == Seq((1, "a", "b", 2L), (2, "c", "d", 1L)),
      s"dry-corpus merges diverged: $merges")
    val sub = TextQueries.q82(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sub == Seq(("ab", 2L), ("cd", 1L)),
      s"dry-corpus subwords diverged: $sub")
  }
}
