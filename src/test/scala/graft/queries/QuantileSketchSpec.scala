package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** q89's HDR-histogram quantile sketch: bucket arithmetic invariants,
  * partitioning-invariant merge, and the accuracy bound the bucket
  * geometry promises (64 sub-buckets per octave, midpoint estimate ->
  * relative error <= 1/128 against the exact witness).
  */
class QuantileSketchSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  /** The SHARED bucket pipeline (operators/QuantileSketch — the very
    * code q89 and SketchStream run) plus the lo/hi bounds
    * under test.
    */
  private def bucketed(values: org.apache.spark.sql.DataFrame) =
    graft.operators.QuantileSketch.withBuckets(values, col("n"))
      .withColumn("lo", call_function("shiftleft", col("m"), col("s")))
      .withColumn("hi",
        call_function("shiftleft", col("m") + 1, col("s")) - 1)

  test("bucket geometry: containment, 7-bit mantissa, 1/64 width bound") {
    import spark.implicits._
    // cover both exact-singleton territory (n < 64), the first
    // bucketed octave, and power-of-two boundaries far up the range
    val probe = spark.range(1, 5000).toDF("n")
      .union(Seq(63L, 64L, 65L, 127L, 128L, 129L, (1L << 40) - 1, 1L << 40,
        (1L << 40) + 1, Long.MaxValue / 2).toDF("n"))
    val bad = bucketed(probe)
      .filter(!(col("lo") <= col("n") && col("n") <= col("hi")) ||
        col("m") >= 128 ||
        !(col("hi") - col("lo") === 0 ||
          (col("hi") - col("lo") + 1) * 64 <= col("lo")))
      .count()
    assert(bad == 0)
  }

  test("sketch merge is partitioning-invariant (bucket counts add)") {
    import spark.implicits._
    val vals = (1 to 4000).map(i => (i * 37L) % 100000 + 1).toDF("n")
    def counts(parts: Int) =
      bucketed(vals.repartition(parts)).groupBy("s", "m").count()
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    assert(counts(1) == counts(13))
  }

  test("q89 estimates meet the midpoint error bound against the exact witness") {
    val rows = Relational.q89(spark, dir).collect()
    assert(rows.length == 9) // 3 flags x 3 percentiles
    for (r <- rows) {
      val err = r.getAs[Long]("err_e4")
      // half a 1/64-relative bucket = 1/128 ~ 78e-4; slack for the
      // integer midpoint truncation
      assert(err <= 90,
        s"flag=${r.get(0)} p=${r.get(1)} err_e4=$err exceeds the bound")
    }
  }

  test("q89 state is bounded: far fewer buckets than rows") {
    val base = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(round(col("l_extendedprice") * 100).cast("long").as("n"))
    val nBuckets = bucketed(base).select("s", "m").distinct().count()
    val nRows = base.count()
    // 64 sub-buckets per octave over the ~2-decade price range
    assert(nBuckets < 600, s"bucket table unexpectedly large: $nBuckets")
    assert(nBuckets < nRows / 10)
  }
}
