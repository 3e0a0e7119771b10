package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.IvfCodebook.{ivfBestCid, ivfProbe2}
import graft.queries.VectorQueries
import graft.vector.VectorOps

/** The broadcast-codebook expressions must be drop-in replacements
  * for the `typedLit` fold columns they retired: bit-identical cid
  * choices (same rounding, same first-max tie order) — and, the point
  * of the change, O(1) plan cost at production nlist.
  */
class IvfCodebookSpec extends AnyFunSuite {

  import IvfCodebookSpec._

  private lazy val spark = SparkSpec.spark

  private def embeddings = {
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  /** `all`'s `v` with the native cid and probe columns over `cb`. */
  private def withNative(all: DataFrame, cb: Broadcast[IvfCodebook]): DataFrame =
    all.select(col("v"), ivfBestCid(col("v"), cb).as("native_cid"),
      ivfProbe2(col("v"), cb).as("native_probe"))

  /** Asserts that `native`'s cid and probe columns (see [[withNative]])
    * equal the fold twins over `centLit`, row by row.
    */
  private def assertMatchesFold(native: DataFrame, centLit: Column): Unit = {
    val rows = native.select(
      foldBestCid(centLit, col("v")), col("native_cid"),
      foldProbeCids(centLit, col("v")), col("native_probe"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1),
        s"argmax cid diverged: fold=${r.getLong(0)} native=${r.getLong(1)}")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3),
        s"probe cids diverged: fold=${r.getSeq[Long](2)} native=${r.getSeq[Long](3)}")
    }
  }

  test("ivf_best_cid / ivf_probe2 match the typedLit fold twins bit-for-bit") {
    val all = embeddings
    assertMatchesFold(withNative(all, VectorQueries.codebookBc(all)),
      codebookLit(all))
  }

  test("a Column built on codebook A still reads A after a frame on B") {
    val all = embeddings
    // A = every 31st vector, B = every 17th: different centroid ids,
    // so a Column that read the other codebook would not match its fold
    val bcA = VectorQueries.codebookBc(all)
    val cidA = ivfBestCid(col("v"), bcA)
    val probeA = ivfProbe2(col("v"), bcA)
    val onB = withNative(all, VectorQueries.codebookBc(all, every = 17))
    val onA = all.select(col("v"), cidA.as("native_cid"),
      probeA.as("native_probe"))
    assertMatchesFold(onB, codebookLit(all, every = 17))
    assertMatchesFold(onA, codebookLit(all))
  }

  test("round-to-long twin matches Spark round().cast('long') incl. negatives") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // halves exercise HALF_UP both sides of zero (Spark rounds away
    // from zero; math.round would round toward +inf on negatives)
    val xs = Seq(-2.5, -1.5, -0.5, 0.5, 1.5, 2.5) ++
      Seq.fill(500)((rnd.nextDouble() * 2 - 1) * 1e6)
    val sparkRounded = xs.toDF("x")
      .select(round(col("x")).cast("long")).collect().map(_.getLong(0))
    xs.zip(sparkRounded).foreach { case (x, expect) =>
      assert(IvfUtil.roundToLong(x) == expect, s"roundToLong($x)")
    }
  }

  test("plan builds in < 1 s at nlist 4096 (codebook invisible to the plan)") {
    val all = embeddings
    // warm the analysis path with the small data-derived codebook so
    // the timed run measures plan construction, not rule JIT
    all.select(ivfBestCid(col("v"), VectorQueries.codebookBc(all)))
      .queryExecution.executedPlan
    val rnd = new scala.util.Random(43)
    val vecs = Array.fill(4096)(Array.fill(64)(rnd.nextDouble() * 2 - 1))
    val big = IvfCodebook(
      Array.tabulate(4096)(_.toLong),
      vecs,
      vecs.map(cv => math.sqrt(VectorOps.seqDot(cv, cv))))
    val bigBc = spark.sparkContext.broadcast(big)
    val t0 = System.nanoTime()
    val df = all.select(col("vec_id"),
      ivfBestCid(col("v"), bigBc).as("cid"),
      ivfProbe2(col("v"), bigBc).as("probes"))
    val plan = df.queryExecution.executedPlan
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 1.0, f"plan build took $secs%.2f s at nlist 4096")
    // the codebook must ride the broadcast, not the expression tree
    assert(plan.toString.length < 100000,
      "plan text embeds the codebook — the literal transport is back")
    // and the plan must actually run
    val got = df.limit(5).collect()
    assert(got.length == 5 && got.forall(r => r.getLong(1) >= 0))
  }
}

/** The retired `typedLit` plan-literal codebook and its fold-form
  * argmax/probe columns — the bit-equality oracle for the native
  * broadcast-codebook expressions. Test-only on purpose: this IS the
  * literal-transport anti-pattern the broadcast replaced, kept solely
  * so the replacement stays provably bit-identical.
  */
object IvfCodebookSpec {

  import org.apache.spark.sql.{Column, DataFrame}
  import graft.vector.VectorOps.{dot, seqDot}

  def codebookLit(all: DataFrame, every: Int = 31): Column =
    typedLit(
      all.filter(col("vec_id") % every === 0)
        .select(col("vec_id"), col("v")).orderBy(col("vec_id"))
        .collect().toSeq
        .map { r =>
          val cv = r.getSeq[Double](1)
          (r.getLong(0), cv, math.sqrt(seqDot(cv, cv)))
        })

  /** Rounded-e6 cosine of the row vector v against codebook entry c,
    * |v| staged once per row in the fold's zero as acc.nv.
    */
  private def ccosE6(v: Column, acc: Column, c: Column): Column =
    round((dot(v, c.getField("_2"))
      / (acc.getField("nv") * c.getField("_3"))) * 1e6).cast("long")

  /** Fold-form argmax centroid id over the LITERAL codebook. */
  def foldBestCid(centLit: Column, v: Column): Column =
    aggregate(
      centLit,
      struct(lit(Long.MinValue).as("ccos"), lit(-1L).as("cid"),
        sqrt(dot(v, v)).as("nv")),
      (acc, c) => {
        val ccos = ccosE6(v, acc, c)
        when(ccos > acc.getField("ccos"),
          struct(ccos.as("ccos"), c.getField("_1").as("cid"),
            acc.getField("nv").as("nv")))
          .otherwise(acc)
      },
      acc => acc.getField("cid"))

  /** Fold-form top-2 centroid ids over the LITERAL codebook. */
  def foldProbeCids(centLit: Column, v: Column): Column =
    aggregate(
      centLit,
      struct(lit(Long.MinValue).as("c1cos"), lit(-1L).as("c1cid"),
        lit(Long.MinValue).as("c2cos"), lit(-2L).as("c2cid"),
        sqrt(dot(v, v)).as("nv")),
      (acc, c) => {
        val ccos = ccosE6(v, acc, c)
        val nv = acc.getField("nv")
        when(ccos > acc.getField("c1cos"),
          struct(ccos.as("c1cos"), c.getField("_1").as("c1cid"),
            acc.getField("c1cos").as("c2cos"),
            acc.getField("c1cid").as("c2cid"), nv.as("nv")))
          .when(ccos > acc.getField("c2cos"),
            struct(acc.getField("c1cos").as("c1cos"),
              acc.getField("c1cid").as("c1cid"),
              ccos.as("c2cos"), c.getField("_1").as("c2cid"), nv.as("nv")))
          .otherwise(acc)
      },
      acc => array(acc.getField("c1cid"), acc.getField("c2cid")))
}
