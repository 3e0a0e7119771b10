package graft.vector

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.vector.VectorOps._

class VectorOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  test("dot and cosine against hand-computed values") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, -5.0, 6.0))).toDF("a", "b")
    val d = df.select(dot(col("a"), col("b"))).collect().head.getDouble(0)
    assert(d == 1.0 * 4 - 2 * 5 + 3 * 6)
    val c = df.select(cosine(col("a"), col("a"))).collect().head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    val orth = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0))).toDF("a", "b")
    assert(orth.select(cosine(col("a"), col("b"))).collect().head.getDouble(0) == 0.0)
  }

  test("srpSigns: deterministic, correct shape, roughly balanced") {
    val s1 = srpSigns(8, 64)
    val s2 = srpSigns(8, 64)
    assert(s1 == s2)
    assert(s1.length == 8 && s1.forall(_.length == 64))
    assert(s1.flatten.forall(v => v == 1.0 || v == -1.0))
    val pos = s1.flatten.count(_ > 0)
    assert(pos > 150 && pos < 360) // md5 parity should be near-uniform
  }

  test("srpSignsSalted: independent tables per salt, salt '' is srpSigns") {
    assert(srpSignsSalted("", 8, 64) == srpSigns(8, 64))
    val t1 = srpSignsSalted("t1:", 8, 64)
    val t2 = srpSignsSalted("t2:", 8, 64)
    assert(t1 != srpSigns(8, 64) && t2 != t1)
    assert(Seq(t1, t2).forall(t =>
      t.length == 8 && t.flatten.forall(v => v == 1.0 || v == -1.0)))
  }

  test("multi-table banding recovers planted pairs a single table misses") {
    import graft.queries.VectorQueries
    val base = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.15).otherwise(x))
          .as("v"))
    val all = base.union(planted)
    def plantedHits(tables: Seq[Seq[Seq[Double]]]): Set[Long] =
      VectorQueries
        .annNearDupPairsBanded(all, tables, minCosE6 = 985000L)
        .filter(col("id_b") === col("id_a") + 1000000)
        .collect().map(_.getLong(0)).toSet
    val nPlanted = planted.count()
    val single = plantedHits(VectorQueries.bandTables.take(1))
    val banded = plantedHits(VectorQueries.bandTables)
    spark.catalog.clearCache()
    // the perturbation is tuned so one table misses a chunk of the
    // planted twins; the 3-table OR must recover every one of them
    assert(single.size < nPlanted,
      s"expected table 0 to miss some twins, caught ${single.size}/$nPlanted")
    assert(single.subsetOf(banded), "banding must only ADD candidates")
    assert(banded.size == nPlanted,
      s"banding caught ${banded.size}/$nPlanted planted twins")
  }

  test("srpBucket: in range, sign-flip of a vector flips every plane") {
    import spark.implicits._
    val signs = srpSigns(8, 4)
    val df = Seq(Seq(0.3, -1.2, 0.7, 2.0), Seq(-0.3, 1.2, -0.7, -2.0))
      .toDF("v")
    val bs = df.select(srpBucket(col("v"), signs)).collect().map(_.getInt(0))
    assert(bs.forall(b => b >= 0 && b < 256))
    // negation flips every projection's sign -> bitwise complement
    assert((bs(0) ^ bs(1)) == 255)
  }

  test("alignSideCardinalities matches the real alignSides counts") {
    // the cached cardinality aggregate (r12, sizes q122's SRP plane
    // count) re-states the side definitions independently of
    // alignSides; if either side's filter drifts, the plane count
    // silently desyncs from the data this pin makes that loud
    val dir = "/root/testdata/sf0.001"
    val (a, b) = graft.queries.VectorQueries.alignSides(spark, dir)
    val (na, nb) =
      graft.queries.VectorQueries.alignSideCardinalities(spark, dir)
    assert(na == a.count(),
      s"cached side-a cardinality $na != alignSides a ${a.count()}")
    assert(nb == b.count(),
      s"cached side-b cardinality $nb != alignSides b ${b.count()}")
  }
}
