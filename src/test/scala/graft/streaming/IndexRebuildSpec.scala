package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.text.TextOps

/** Release-time index rebuild: compacting base ∪ growth shards into
  * one artifact must change NOTHING an admission decides — the next
  * batch's verdicts against the rebuilt artifact equal its verdicts
  * against base + shards, for both the line index and the MinHash
  * signature index.
  */
class IndexRebuildSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  test("rebuilt line index is admission-equivalent to base + shards") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val base = Seq((1L, "a\nb"), (2L, "c")).toDF("doc_id", "text")
    val index = LineDedupStream.buildIndex(base).persist()
    index.count()
    val out = Files.createTempDirectory("ir_out").toString
    val grow = Files.createTempDirectory("ir_idx").toString
    val in = MemoryStream[LDoc]
    val q = LineDedupStream.admissionStream(spark, in.toDS().toDF(),
      index, out, Files.createTempDirectory("ir_ckpt").toString, grow)
    try {
      in.addData(LDoc(10, "x\ny"))
      q.processAllAvailable()
      in.addData(LDoc(20, "z\nx"))
      q.processAllAvailable()
    } finally q.stop()

    val rebuiltPath = Files.createTempDirectory("ir_rebuilt").toString
    IndexRebuild.compactLineIndex(spark, index, grow, rebuiltPath)
    val rebuilt = spark.read.parquet(rebuiltPath)
    // exactly base ∪ grown digests, deduplicated
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val got = rebuilt.collect().map(_.getString(0)).toSeq
    assert(got.size == got.distinct.size, "rebuild left duplicates")
    assert(got.toSet ==
      Set("a", "b", "c", "x", "y", "z").map(md5hex))
    // the NEXT batch decides identically against the compacted
    // artifact and against base ∪ live shards
    val next = Seq((30L, "x\nq"), (31L, "z\nb\nw")).toDF("doc_id", "text")
    val viaShards = TextOps.lineAdmitStats(next,
      index.unionByName(spark.read.parquet(grow).select("lh"))).collect().toSet
    val viaRebuilt = TextOps.lineAdmitStats(next, rebuilt).collect().toSet
    assert(viaRebuilt == viaShards)
    index.unpersist()
  }

  test("rebuilt signature index is admission-equivalent (near-dup)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val index = NearDupStream.buildBaseIndex(docs).persist()
    index.count()
    val f = NDoc(8000001L,
      "granite obelisks lined the silent causeway under violet skies")
    val g = NDoc(8000002L, f.text) // exact copy, arrives after rebuild
    val out = Files.createTempDirectory("irs_out").toString
    val grow = Files.createTempDirectory("irs_idx").toString
    val in = MemoryStream[NDoc]
    val q = NearDupStream.admissionStream(spark, in.toDS().toDF(),
      index, out, Files.createTempDirectory("irs_ckpt").toString, grow)
    try {
      in.addData(f)
      q.processAllAvailable()
    } finally q.stop()

    val rebuiltPath = Files.createTempDirectory("irs_rebuilt").toString
    IndexRebuild.compactSignatureIndex(spark, index, grow, rebuiltPath)
    val rebuilt = spark.read.parquet(rebuiltPath)
    assert(rebuilt.count() == index.count() + 1,
      "rebuild must add exactly the one admitted doc's signature row")
    // g (a copy of the GROWN doc f) must reject against the rebuilt
    // artifact exactly as it would against base + live shards
    val verdict = NearDupStream.admitBatch(
        Seq(g).toDF("doc_id", "text"), rebuilt)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(3))).toSeq
    assert(verdict == Seq((g.doc_id, f.doc_id, false)),
      s"copy of a grown doc must reject with best_base=f: $verdict")
    index.unpersist()
  }

  test("rebuilt prefix index re-derives the (s, df) order over the " +
      "compacted corpus and sees admitted docs") {
    import spark.implicits._
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val base = Seq(
      (1L, words("ash", 12)),
      (2L, words("elm", 12)),
      (3L, words("oak", 12))).toDF("doc_id", "text")
    val (ord0, df0) = PrefixDedupStream.buildBaseIndex(base)
    // batch 1: a fresh doc admits; the caller's growth policy appends
    // it to the corpus
    val fresh = (10L, words("fir", 12))
    val v1 = PrefixDedupStream.admitBatch(
        Seq(fresh).toDF("doc_id", "text"), ord0, df0)
      .select("doc_id", "admit").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(v1 == Seq((10L, true)))
    val grown = base.unionByName(Seq(fresh).toDF("doc_id", "text"))
    // release build: re-derive, write, read back
    val ordPath = Files.createTempDirectory("irp_ord").toString
    val dfPath = Files.createTempDirectory("irp_df").toString
    IndexRebuild.compactPrefixIndex(grown, ordPath, dfPath)
    val ord1 = spark.read.parquet(ordPath)
    val df1 = spark.read.parquet(dfPath)
    // batch 2: a near-copy of the batch-1 ADMITTED doc must reject
    // against the rebuilt artifact; a fresh doc still admits
    val batch2 = Seq(
      (20L, words("fir", 12).replace("fir12", "pine1")),
      (21L, words("yew", 12))).toDF("doc_id", "text")
    val got = PrefixDedupStream.admitBatch(batch2, ord1, df1)
      .select("doc_id", "best_base", "admit").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(got == Set((20L, 10L, false), (21L, -1L, true)),
      s"rebuilt prefix index verdicts wrong: $got")
    // parquet round trip is semantics-free: verdicts equal the
    // in-memory re-derivation's
    val (ordM, dfM) = IndexRebuild.rebuiltPrefixIndex(grown)
    val viaMem = PrefixDedupStream.admitBatch(batch2, ordM, dfM)
      .collect().map(_.toSeq).toSet
    val viaDisk = PrefixDedupStream.admitBatch(batch2, ord1, df1)
      .collect().map(_.toSeq).toSet
    assert(viaMem == viaDisk)
  }

  test("rebuilt keeper map: growth without merges is stable; a bridge " +
      "doc merges clusters, which flip split TOGETHER") {
    import spark.implicits._
    // token geometry (5-gram shingles, 30 tokens -> 26 shingles):
    // a = c1..c22 + x1..x8 and b = y1..y8 + c9..c30 each share 18
    // shingles with the bridge c (J = 18/34 = 0.53 >= 0.5) but only
    // 10 with each other (J = 10/42 = 0.24 < 0.5) — so a,b are
    // separate until c arrives
    val c = (1 to 30).map(i => s"c$i")
    val aText = (c.take(22) ++ (1 to 8).map(i => s"x$i")).mkString(" ")
    val bText = ((1 to 8).map(i => s"y$i") ++ c.drop(8)).mkString(" ")
    val d1 = (1 to 20).map(i => s"d$i").mkString(" ")
    val d2 = d1.replace("d20", "dzz") // J = 15/17 with d1
    val base = Seq(
      (1L, aText), (2L, bText), (5L, d1), (6L, d2),
      (9L, (1 to 20).map(i => s"e$i").mkString(" ")))
      .toDF("doc_id", "text")
    def mapOf(df: org.apache.spark.sql.DataFrame) =
      IndexRebuild.rebuiltKeeperMap(df).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(3))).toMap
    val m0 = mapOf(base)
    assert(m0(5L)._1 == 5L && m0(6L)._1 == 5L && m0(5L)._2 == m0(6L)._2,
      s"near-dup pair must share keeper + split: $m0")
    assert(m0(1L)._1 == 1L && m0(2L)._1 == 2L && m0(9L)._1 == 9L,
      s"pre-bridge singletons keep themselves: $m0")
    // growth that merges: the bridge doc
    val grown = base.unionByName(
      Seq((3L, c.mkString(" "))).toDF("doc_id", "text"))
    val m1 = mapOf(grown)
    assert(Set(1L, 2L, 3L).map(m1(_)._1) == Set(1L),
      s"bridged cluster must unify under the min keeper: $m1")
    assert(Set(1L, 2L, 3L).map(m1(_)._2).size == 1,
      "the merged group must land in ONE split (flip together)")
    // stability where no merge happened: keepers AND splits unchanged
    for (id <- Seq(5L, 6L, 9L))
      assert(m1(id) == m0(id), s"unmerged doc $id must be stable")
    // doc 1 kept its keeper (the min side), so its split is stable too
    assert(m1(1L)._2 == m0(1L)._2,
      "the min-keeper side must not flip split")
  }
}
