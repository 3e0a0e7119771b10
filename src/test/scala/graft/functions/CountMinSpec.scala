package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The Count-Min pair's contract: NEVER an underestimate (every
  * occurrence incremented all d counters — what makes the estimate a
  * sound frequency upper bound), distribution-invariant build
  * (partial add-merge must equal a single-node build byte-for-byte),
  * and exactness when the grid is wide enough that nothing collides.
  */
class CountMinSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def buildBytes(keys: Seq[Long], parts: Int, w: Int,
      d: Int): Array[Byte] = {
    import spark.implicits._
    keys.toDF("k").repartition(parts)
      .agg(call_function("cms_build", col("k"), lit(w), lit(d)))
      .head().getAs[Array[Byte]](0)
  }

  test("no underestimates; add-merge = single-build; skew estimates tight") {
    // zipf-ish: key i appears ~2000/i times — the heavy-hitter shape
    val keys = (1L to 50L).flatMap(i => Seq.fill((2000 / i).toInt)(i * 131 + 7))
    val exact = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val b1 = buildBytes(keys, parts = 1, w = 1 << 10, d = 4)
    val b8 = buildBytes(keys, parts = 8, w = 1 << 10, d = 4)
    assert(java.util.Arrays.equals(b1, b8),
      "cms build depends on partitioning — merge is not elementwise add")
    val (counts, w, d) = CmsUtil.fromBytes(b1)
    exact.foreach { case (k, n) =>
      val est = CmsUtil.estimate(counts, w, d, k)
      assert(est >= n,
        s"UNDERESTIMATE for key $k: cms $est < exact $n — the estimate " +
          "is no longer a sound upper bound")
    }
    // total mass conservation per row: each of the d rows sums to |keys|
    (0 until d).foreach { j =>
      val rowSum = (0 until w).map(i => counts(j * w + i)).sum
      assert(rowSum == keys.size.toLong,
        s"row $j holds $rowSum of ${keys.size} increments")
    }
  }

  test("wide grid, few keys: estimates are exact (no collisions to inflate)") {
    val keys = (1L to 40L).flatMap(i => Seq.fill(i.toInt)(i))
    val bytes = buildBytes(keys, parts = 4, w = 1 << 16, d = 4)
    val (counts, w, d) = CmsUtil.fromBytes(bytes)
    // 40 keys in 65536 slots x 4 independent rows: the chance ANY key
    // collides in ALL 4 rows is ~(40/65536)^4 per key — effectively
    // zero, so min over rows recovers the exact count
    (1L to 40L).foreach { k =>
      assert(CmsUtil.estimate(counts, w, d, k) == k,
        s"key $k estimate ${CmsUtil.estimate(counts, w, d, k)} != $k")
    }
  }
}
