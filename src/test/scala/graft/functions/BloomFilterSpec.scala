package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The Bloom pair's contract: NO false negatives ever (what makes
  * pre-join pruning sound), bounded false positives (what makes it
  * useful), distribution-invariant build (partial OR-merge must equal
  * a single-node build bit-for-bit), and measured pruning on the q77
  * shape.
  */
class BloomFilterSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def buildBytes(keys: Seq[Long], parts: Int): Array[Byte] = {
    import spark.implicits._
    keys.toDF("k").repartition(parts)
      .agg(call_function("bloom_build", col("k"), lit(1 << 14), lit(4)))
      .head().getAs[Array[Byte]](0)
  }

  test("no false negatives; FP rate bounded; OR-merge = single-build") {
    val members = (0L until 2000L).map(_ * 7 + 3)
    val b1 = buildBytes(members, parts = 1)
    val b8 = buildBytes(members, parts = 8)
    // the filter is a deterministic VALUE: partial buffers OR-merged
    // across 8 partitions must equal the sequential build exactly
    assert(java.util.Arrays.equals(b1, b8),
      "bloom build depends on partitioning — merge is not a pure OR")
    val (words, m, k) = BloomUtil.fromBytes(b1)
    members.foreach { key =>
      assert(BloomUtil.mightContain(words, m, key, k),
        s"FALSE NEGATIVE for member $key — pruning with this filter drops real rows")
    }
    // 2000 keys in 2^14 bits, k=4: theoretical FP ~ (1-e^(-kn/m))^4 ~ 2.4%
    val nonMembers = (0L until 20000L).map(_ * 7 + 4)
    val fp = nonMembers.count(key => BloomUtil.mightContain(words, m, key, k))
    assert(fp.toDouble / nonMembers.size < 0.05,
      s"FP rate ${fp.toDouble / nonMembers.size} — sizing or hashing is off")
  }

  test("property sweep: no false negatives for any (m, k, keyset); bytes round-trip") {
    // the soundness invariant pre-join pruning rests on, swept across
    // geometries and key distributions (negative keys included —
    // floorMod, not %, drives the bit positions)
    val rnd = new scala.util.Random(123)
    for (_ <- 1 to 20) {
      val mBits = 64 << rnd.nextInt(8)
      val k = 1 + rnd.nextInt(8)
      val n = 1 + rnd.nextInt(500)
      val keys = Seq.fill(n)(rnd.nextLong())
      val words = new Array[Long]((mBits + 63) >>> 6)
      keys.foreach(BloomUtil.set(words, mBits, _, k))
      val (w2, m2, k2) = BloomUtil.fromBytes(BloomUtil.toBytes(words, mBits, k))
      assert(m2 == mBits && k2 == k && java.util.Arrays.equals(w2, words),
        s"serialization round-trip broke at m=$mBits k=$k")
      keys.foreach { key =>
        assert(BloomUtil.mightContain(words, mBits, key, k),
          s"FALSE NEGATIVE at m=$mBits k=$k key=$key")
      }
    }
  }

  test("q77 shape: the probe prunes most fact rows before the join") {
    import graft.queries.Relational
    val dir = "/root/testdata/sf0.001"
    val dim = Relational.tbl(spark, dir, "part")
      .filter(col("p_brand") === "Brand#13").select(col("p_partkey"))
    val bytes = dim.agg(call_function("bloom_build",
      col("p_partkey"), lit(1 << 16), lit(4))).head().getAs[Array[Byte]](0)
    val bc = spark.sparkContext.broadcast(bytes)
    val fact = Relational.tbl(spark, dir, "lineitem")
    val total = fact.count()
    val surviving = fact
      .filter(BloomProbe.bloomProbe(col("l_partkey"), bc)).count()
    val trueMatches = fact.join(dim,
      col("l_partkey") === col("p_partkey"), "left_semi").count()
    // soundness: every truly-joining row survives the probe
    assert(surviving >= trueMatches)
    // usefulness: the probe must kill the vast majority of the fact
    // (one brand of 25 → ~4% join selectivity; FP adds ~2%)
    assert(surviving < total / 5,
      s"probe kept $surviving of $total rows — not pruning")
  }
}
