package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** q158 — the composed curation v3 chain: HTML extraction front,
  * URL gate, corpus line dedup, near-dup CC keeper, lang/quality,
  * and the CLUSTER-AWARE leakage-safe split as the tail (q124's
  * property, proven here ON THE COMPOSED OUTPUT, not just on q124 in
  * isolation — the r14 verdict's "done" bar for curation v3).
  */
class CurationV3Spec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val out = {
    val df = TextQueries.q158(spark, dir).persist()
    df.count()
    df
  }

  test("a near-dup group never straddles a split boundary") {
    // every keeper group carries exactly one split label
    val straddle = out.groupBy(col("keeper"))
      .agg(countDistinct(col("split")).as("n_splits"),
        count(lit(1)).as("n"))
      .filter(col("n_splits") > 1)
    assert(straddle.isEmpty,
      s"${straddle.count()} clusters straddle a split boundary")
    // and the property is non-vacuous: multi-member groups exist
    val multi = out.groupBy(col("keeper")).count().filter(col("count") > 1)
    assert(multi.count() > 10, "fixture grew no multi-member clusters")
  }

  test("the per-doc split WOULD leak on this corpus (the premise)") {
    def docSplit(id: org.apache.spark.sql.Column) = {
      val b = call_function("md5_long60",
        concat(lit("split:"), id.cast("string"))) % 100
      when(b < 80, "train").when(b < 90, "valid").otherwise("test")
    }
    // members of multi-doc clusters, re-split the q46 per-doc way:
    // at least one group must scatter — else the tail stage is
    // indistinguishable from q46 on this fixture and the spec proves
    // nothing
    val leaky = out.filter(col("doc_id") =!= col("keeper"))
      .filter(docSplit(col("doc_id")) =!= docSplit(col("keeper")))
    assert(leaky.count() > 0,
      "no cluster member would have left its keeper's per-doc split")
  }

  test("every verdict branch fires on the gate corpus") {
    val reasons = out.groupBy(col("reason")).count().collect()
      .map(r => Option(r.getString(0)).getOrElse("keep") -> r.getLong(1))
      .toMap
    for (r <- Seq("keep", "blocked", "thin", "neardup", "lang", "quality"))
      assert(reasons.getOrElse(r, 0L) > 0, s"branch '$r' never fired")
    // linedup is structurally rare under dup-first priority (a doc
    // must lose half its lines WITHOUT being a cluster non-keeper);
    // it fires at least once here — keep it pinned so a priority
    // reshuffle that kills the branch entirely turns red
    assert(reasons.getOrElse("linedup", 0L) >= 1)
  }

  // ---- q162: the same no-straddle bar ON THE CONTAINER LINEAGE ----
  // (the r16 verdict's "done" test: q160 shipped with a per-doc-split
  // scope note; q162 composes the keeper split onto the walked-shard
  // front, and the guarantee must hold on THAT composed output)

  private lazy val out162 = {
    val df = TextQueries.q162(spark, dir).persist()
    df.count()
    df
  }

  test("q162: a near-dup group never straddles a split on the " +
      "container-front output") {
    val straddle = out162.groupBy(col("keeper"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(straddle.isEmpty,
      s"${straddle.count()} clusters straddle a split boundary")
    val multi = out162.groupBy(col("keeper")).count()
      .filter(col("count") > 1)
    assert(multi.count() > 10, "fixture grew no multi-member clusters")
  }

  test("q162: clusters cross SHARD boundaries (the property that " +
      "forces the split to be corpus-global, not shard-local)") {
    // the planted near-copies live at +1000000, so an original and
    // its copy never pack into the same 8-doc shard; at least one
    // multi-member cluster must span two shard_ids
    val spans = out162.groupBy(col("keeper"))
      .agg(countDistinct(col("shard_id")).as("n_shards"))
      .filter(col("n_shards") > 1)
    assert(spans.count() > 10,
      "no cluster crossed a shard — the fixture lost its point")
  }

  test("q162: the walk observability survives the cluster tail") {
    // every shard's members carry 0..n-1 walk positions and the
    // alternating method pattern — the cluster stage must not have
    // re-derived or reordered the front columns
    val bad = out162.filter(
      (col("m_idx") % 2 === 0 && col("method") =!= "deflated") ||
        (col("m_idx") % 2 === 1 && col("method") =!= "stored") ||
        col("m_idx") >= col("n_entries"))
    assert(bad.isEmpty)
  }

  test("blocked and thin docs are excluded from cluster/line scope") {
    // excluded docs are always their own keeper and carry the
    // coalesced zero line stats
    val bad = out.filter(col("blocked") || col("thin"))
      .filter(col("keeper") =!= col("doc_id") ||
        col("n_lines") =!= 0L || col("n_kept") =!= 0L)
    assert(bad.isEmpty)
    // thin = the planted tiny pages (plus nothing organic at this SF)
    val thin = out.filter(col("thin") && !col("blocked"))
    assert(thin.count() > 0)
    assert(thin.filter(col("doc_id") < 3000000L).isEmpty,
      "only the planted tiny pages may be thin at this SF")
  }
}
