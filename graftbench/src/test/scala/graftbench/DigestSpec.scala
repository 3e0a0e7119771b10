package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private val names = Seq("k", "v", "tags")
  private val rows = Seq(
    Seq[Any](1L, 0.1 + 0.2, Seq("a", "b")),
    Seq[Any](2L, null, Seq.empty[String]),
    Seq[Any](3L, -0.0, Seq("c")),
    Seq[Any](2L, null, Seq.empty[String]))

  private def digest(rs: Seq[Seq[Any]], ns: Seq[String] = names) =
    Digest.ofRows(ns, rs.iterator)

  test("row order does not change the digest") {
    val d = digest(rows)
    assert(d._1 == 4)
    rows.permutations.foreach(p => assert(digest(p) == d))
  }

  test("duplicates count: dropping one copy changes the digest") {
    assert(digest(rows.distinct) != digest(rows))
  }

  test("column order does not change the digest") {
    val swapped = rows.map(r => Seq(r(2), r(0), r(1)))
    assert(digest(swapped, Seq("tags", "k", "v")) == digest(rows))
  }

  test("a changed value changes the digest") {
    val edited = rows.updated(0, Seq[Any](1L, 0.4, Seq("a", "b")))
    assert(digest(edited) != digest(rows))
  }

  test("summation-order noise below 10 significant digits is ignored") {
    assert(Digest.canon(0.1 + 0.2) == Digest.canon(0.3))
    assert(Digest.canon(-0.0) == Digest.canon(0.0))
    assert(Digest.canon(1.0f + 1e-7f) == Digest.canon(1.0f))
    assert(Digest.canon(0.3) != Digest.canon(0.3000001))
  }

  test("a DataFrame's digest ignores its partitioning and row order") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val df = Seq((1L, "x", 0.5), (2L, "y", 1.5), (3L, null, 2.5), (2L, "y", 1.5))
        .toDF("id", "s", "d")
      val d = Digest.of(df)
      assert(d._1 == 4)
      assert(Digest.of(df.orderBy($"id".desc)) == d)
      assert(Digest.of(df.repartition(3)) == d)
      assert(Digest.of(df.select("d", "s", "id")) == d)
      assert(Digest.ofRows(df.columns.toSeq,
        df.collect().iterator.map(_.toSeq)) == d)
    } finally spark.stop()
  }
}
