package graft.queries

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.HashUtil

/** q93's Efraimidis–Spirakis weighted sampling: full-pipeline parity
  * against a driver-side reference (hash -> u -> ln(u)/w key -> per-
  * stratum cut), the weighting property (heavier docs overrepresented
  * vs the uniform q68 cut), and the bounded-shuffle plan shape.
  */
class WeightedSampleSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  private def refKey(docId: Long, nChars: Long): Long = {
    val h = HashUtil.md5Long60(UTF8String.fromString(s"wsamp:$docId"))
    val u = (h + 1).toDouble / 1152921504606846976.0
    math.round(math.log(u) / math.max(nChars, 1L).toDouble * 1e9)
  }

  test("q93 matches a driver-side A-ES reference, row for row") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("lang", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = docs
      .map { case (lang, id, w) => (lang, id, refKey(id, w)) }
      .groupBy(_._1).toSeq
      .flatMap { case (lang, rows) =>
        rows.sortBy { case (_, id, k) => (-k, id) }.take(10).zipWithIndex
          .map { case ((_, id, k), i) => (lang, i + 1, id, k) }
      }
      .sortBy { case (lang, rank, _, _) => (lang, rank) }
    val got = TextQueries.q93(spark, dir).orderBy("lang", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
  }

  test("weighting works: sampled docs are longer than the stratum average") {
    // A-ES with w = n_chars samples long docs preferentially; with
    // ~600 docs and k=10 per stratum the sampled mean length should
    // clearly exceed the population mean in every language
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("lang", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val meanByLang = docs.groupBy(_._1).map { case (l, rs) =>
      l -> rs.map(_._3).sum.toDouble / rs.size
    }
    val nChars = docs.map(d => d._2 -> d._3).toMap
    val sampled = TextQueries.q93(spark, dir).collect()
      .map(r => r.getString(0) -> nChars(r.getLong(2)))
      .groupBy(_._1).map { case (l, rs) =>
        l -> rs.map(_._2).sum.toDouble / rs.size
      }
    for ((lang, sMean) <- sampled)
      assert(sMean > meanByLang(lang),
        f"$lang: sampled mean $sMean%.0f <= population mean " +
          f"${meanByLang(lang)}%.0f — weighting is not biasing the cut")
  }

  test("q93 cut is a bounded partial top-k, not a per-stratum sort window") {
    val p = TextQueries.q93(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("topk_by_score"), s"q93 lost the bounded agg:\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("row_number"),
      s"q93 ranks via a window — every scored row would shuffle:\n$p")
  }
}
