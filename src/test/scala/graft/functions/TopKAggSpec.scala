package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** topk_by_score must reproduce the row_number window it replaced on
  * every group shape — including score ties (id ASC breaks them),
  * groups smaller than k, and multi-partition inputs that exercise
  * the partial-buffer merge and serde paths.
  */
class TopKAggSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def topk(rows: Seq[(Long, Long, Long)], k: Int,
      parts: Int): Map[Long, Seq[(Long, Long)]] = {
    import spark.implicits._
    spark.createDataset(rows).toDF("g", "score", "id")
      .repartition(parts)
      .groupBy(col("g"))
      .agg(call_function("topk_by_score", col("score"), col("id"), lit(k))
        .as("top"))
      .collect()
      .map { r =>
        r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(t =>
            (t.getLong(0), t.getLong(1)))
      }.toMap
  }

  private def oracle(rows: Seq[(Long, Long, Long)], k: Int) =
    rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map { case (_, s, i) => (i, s) }
        .sortBy { case (i, s) => (-s, i) }.take(k)
    }

  test("matches a driver-side sort top-k on random groups (ties included)") {
    val rnd = new scala.util.Random(17)
    // scores drawn from a small domain so ties are common
    val rows = Seq.fill(5000)(
      (rnd.nextInt(40).toLong, rnd.nextInt(25).toLong, rnd.nextInt(10000).toLong))
    for (k <- Seq(1, 3, 7); parts <- Seq(1, 13)) {
      val got = topk(rows, k, parts)
      val want = oracle(rows, k)
      assert(got.keySet == want.keySet)
      got.foreach { case (g, top) =>
        assert(top == want(g), s"group $g diverged at k=$k parts=$parts")
      }
    }
  }

  test("groups smaller than k return all their rows, sorted") {
    val rows = Seq((1L, 5L, 100L), (1L, 9L, 200L), (2L, 1L, 300L))
    val got = topk(rows, 10, 4)
    assert(got(1L) == Seq((200L, 9L), (100L, 5L)))
    assert(got(2L) == Seq((300L, 1L)))
  }

  test("buffer serde round-trips and merge keeps global order") {
    val agg = TopKByScore(null, null, 3)
    val a = new TopKLongBuffer(3)
    Seq((10L, 5L), (10L, 2L), (7L, 1L)).foreach { case (s, i) => a.insert(s, i) }
    val b = agg.deserialize(agg.serialize(a))
    assert(b.n == 3 && b.scores.toSeq == Seq(10L, 10L, 7L) &&
      b.ids.toSeq == Seq(2L, 5L, 1L))
    val c = new TopKLongBuffer(3)
    Seq((12L, 9L), (10L, 1L)).foreach { case (s, i) => c.insert(s, i) }
    val merged = agg.merge(c, b)
    assert(merged.scores.take(merged.n).toSeq == Seq(12L, 10L, 10L) &&
      merged.ids.take(merged.n).toSeq == Seq(9L, 1L, 2L))
  }
}
