package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.text.TextOps

/** The composed release build: all four admission artifacts land
  * under one root, the manifest rename is the ONE visibility step
  * (a crash mid-build leaves no manifest — the previous release
  * stays authoritative), and admissions against the released
  * artifacts equal admissions against base ∪ growth.
  */
class ReleaseBuildSpec extends AnyFunSuite {
  import ReleaseBuildSpec.JobSeen

  private lazy val spark = SparkSpec.spark

  private def words(p: String, n: Int) =
    (1 to n).map(i => s"$p$i").mkString(" ")

  test("release lands all four artifacts; admissions match base ∪ growth") {
    import spark.implicits._
    val base = Seq(
      (1L, words("ash", 12)), (2L, words("elm", 12)),
      // a planted near-dup pair so the keeper map has a real cluster
      (5L, words("oak", 20)),
      (6L, words("oak", 20).replace("oak20", "oakzz")))
      .toDF("doc_id", "text")
    val admitted = Seq((10L, words("fir", 12))).toDF("doc_id", "text")
    val corpus = base.unionByName(admitted)

    val lineBase = LineDedupStream.buildIndex(base)
    val sigBase = NearDupStream.buildBaseIndex(base)
    val lineGrow = Files.createTempDirectory("rb_lg").toString
    val sigGrow = Files.createTempDirectory("rb_sg").toString
    TextOps.buildLineIndex(admitted)
      .write.parquet(s"$lineGrow/batch=0")
    NearDupStream.buildBaseIndex(admitted)
      .write.parquet(s"$sigGrow/batch=0")

    val root = Files.createTempDirectory("rb_rel").toString
    val m = ReleaseBuild.release(spark, corpus, lineBase, lineGrow,
      sigBase, sigGrow, root)
    assert(ReleaseBuild.readManifest(spark, root).contains(m))

    // line index: exactly base ∪ growth digests
    val line = spark.read.parquet(m.lineIndex)
    val wantLine = lineBase.unionByName(
        spark.read.parquet(s"$lineGrow/batch=0")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(line.collect().map(_.getString(0)).toSet == wantLine)

    // signature index: one row per corpus doc
    assert(spark.read.parquet(m.signatureIndex)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 5L, 6L, 10L))

    // prefix index: a near-copy of the ADMITTED doc rejects against
    // the released artifacts (the rebuild saw growth), a fresh admits
    val verdicts = PrefixDedupStream.admitBatch(
        Seq((20L, words("fir", 12).replace("fir12", "pine1")),
          (21L, words("yew", 12))).toDF("doc_id", "text"),
        spark.read.parquet(m.prefixOrdered),
        spark.read.parquet(m.prefixDf))
      .select("doc_id", "admit").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(verdicts == Set((20L, false), (21L, true)), s"$verdicts")

    // keeper map: the near-dup pair shares keeper + split
    val km = spark.read.parquet(m.keeperMap).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("keeper"), r.getAs[String]("split"))).toMap
    assert(km.keySet == Set(1L, 2L, 5L, 6L, 10L))
    assert(km(5L) == km(6L), s"pair must share keeper+split: $km")
  }

  test("crash between artifacts: no manifest, previous release stays " +
      "authoritative; re-run completes") {
    import spark.implicits._
    val base = Seq((1L, words("ash", 12))).toDF("doc_id", "text")
    val lineBase = LineDedupStream.buildIndex(base)
    val sigBase = NearDupStream.buildBaseIndex(base)
    val lineGrow = Files.createTempDirectory("rb_lg2").toString
    val sigGrow = Files.createTempDirectory("rb_sg2").toString

    // release v1 — the authoritative one
    val v1 = Files.createTempDirectory("rb_v1").toString
    ReleaseBuild.release(spark, base, lineBase, lineGrow, sigBase,
      sigGrow, v1)
    assert(ReleaseBuild.readManifest(spark, v1).isDefined)

    // release v2 crashes after the second artifact
    val v2 = Files.createTempDirectory("rb_v2").toString
    intercept[RuntimeException] {
      ReleaseBuild.release(spark, base, lineBase, lineGrow, sigBase,
        sigGrow, v2, afterArtifact = {
          case ReleaseBuild.SignaturePath => sys.error("injected crash")
          case _ => ()
        })
    }
    assert(ReleaseBuild.readManifest(spark, v2).isEmpty,
      "a torn release must be invisible")
    assert(ReleaseBuild.readManifest(spark, v1).isDefined,
      "the previous release stays authoritative")

    // re-running the same build overwrites the torn dir and lands
    val m2 = ReleaseBuild.release(spark, base, lineBase, lineGrow,
      sigBase, sigGrow, v2)
    assert(ReleaseBuild.readManifest(spark, v2).contains(m2))
    assert(spark.read.parquet(m2.keeperMap).count() == 1L)

    // release roots are WRITE-ONCE: building into a root whose
    // manifest landed must refuse (overwriting artifacts under live
    // readers), not silently rebuild
    val e = intercept[IllegalArgumentException] {
      ReleaseBuild.release(spark, base, lineBase, lineGrow, sigBase,
        sigGrow, v2)
    }
    assert(e.getMessage.contains("already released"))
  }

  test("manifest escaping: quote/backslash roots neither corrupt the " +
      "JSON nor poison readManifest (r16 advice)") {
    // the escape pair round-trips the hostile characters a root can
    // legally carry (Windows separators, quotes, control chars)
    for (s <- Seq("""C:\srv\share""", """it"s "quoted"""", "a\\\"b",
        "ctl\u0001\u001f", "plain/posix"))
      assert(ReleaseBuild.jsonUnescape(ReleaseBuild.jsonEscape(s)) == s,
        s"round-trip: $s")
    // end-to-end: a release into a root whose path contains '"'
    // (legal on POSIX) writes a valid manifest and reads back whole
    import spark.implicits._
    val base = Seq((1L, words("ash", 12))).toDF("doc_id", "text")
    val lineBase = LineDedupStream.buildIndex(base)
    val sigBase = NearDupStream.buildBaseIndex(base)
    val lineGrow = Files.createTempDirectory("rb_lg3").toString
    val sigGrow = Files.createTempDirectory("rb_sg3").toString
    val odd = Files.createTempDirectory("rb_q")
      .resolve("""it"s a root""").toString
    val m = ReleaseBuild.release(spark, base, lineBase, lineGrow,
      sigBase, sigGrow, odd)
    assert(ReleaseBuild.readManifest(spark, odd).contains(m))
    assert(m.keeperMap.contains("""it"s a root"""),
      "the unescaped path must survive the manifest round-trip")
    assert(spark.read.parquet(m.keeperMap).count() == 1L)
  }

  test("a release leaves nothing cached") {
    import spark.implicits._
    val base = Seq(
      (1L, words("ash", 12)),
      // a planted near-dup pair, so the keeper map clusters something
      (5L, words("oak", 20)),
      (6L, words("oak", 20).replace("oak20", "oakzz")))
      .toDF("doc_id", "text")
    val lineBase = LineDedupStream.buildIndex(base)
    val sigBase = NearDupStream.buildBaseIndex(base)
    val lineGrow = Files.createTempDirectory("rb_lg4").toString
    val sigGrow = Files.createTempDirectory("rb_sg4").toString
    val root = Files.createTempDirectory("rb_nc").toString
    // earlier suites share this JVM's session and may leave caches:
    // clear them, then count only what the release adds
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    ReleaseBuild.release(spark, base, lineBase, lineGrow, sigBase,
      sigGrow, root)
    assert(spark.sharedState.cacheManager.isEmpty,
      "the release left a CacheManager entry")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    assert(leaked.isEmpty, s"the release left persisted RDDs: $leaked")
  }

  /** Inputs of a release over a small corpus with a near-dup pair:
    * (docs, line base, line growth dir, signature base, signature
    * growth dir).
    */
  private def releaseInputs(tag: String) = {
    import spark.implicits._
    val docs = ((1L to 12L).map(i => (i, words(s"w${i}x", 16))) ++ Seq(
        (50L, words("oak", 20)),
        (51L, words("oak", 20).replace("oak20", "oakzz"))))
      .toDF("doc_id", "text")
    val lineGrow = Files.createTempDirectory(s"rb_lg_$tag").toString
    val sigGrow = Files.createTempDirectory(s"rb_sg_$tag").toString
    (docs, LineDedupStream.buildIndex(docs), lineGrow,
      NearDupStream.buildBaseIndex(docs), sigGrow)
  }

  /** Records every job's start (step tag, job group, time) and end
    * time while `body` runs, then waits until each recorded job has
    * ended.
    */
  private def watchJobs(body: => Unit)
      : (Map[Int, JobSeen], Map[Int, Long]) = {
    val starts = new ConcurrentHashMap[Int, JobSeen]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
        starts.put(e.jobId, JobSeen(
          Option(prop("spark.job.tags")).toSet.flatMap((t: String) => t.split(",")),
          prop("spark.jobGroup.id"), e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.time)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!starts.keySet.asScala.forall(ends.containsKey) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    (starts.asScala.toMap, ends.asScala.toMap)
  }

  test("the artifact steps run concurrently, under the caller's job group") {
    val (docs, lineBase, lineGrow, sigBase, sigGrow) = releaseInputs("cc")
    val root = Files.createTempDirectory("rb_cc").toString
    val sc = spark.sparkContext
    val (starts, ends) = watchJobs {
      sc.setJobGroup("release-spec-group", "a release under a job group")
      try ReleaseBuild.release(spark, docs, lineBase, lineGrow, sigBase,
        sigGrow, root)
      finally sc.clearJobGroup()
    }
    assert(ReleaseBuild.readManifest(spark, root).isDefined)
    assert(starts.nonEmpty && starts.keySet == ends.keySet,
      s"jobs started ${starts.keySet}, ended ${ends.keySet}")
    val steps = Seq(ReleaseBuild.LinePath, ReleaseBuild.SignaturePath,
      ReleaseBuild.PrefixOrderedPath, ReleaseBuild.KeeperMapPath)
    def stepOf(j: JobSeen) =
      steps.filter(s => j.tags.contains(ReleaseBuild.StepTagPrefix + s))
    for ((id, j) <- starts) {
      assert(j.group == "release-spec-group",
        s"job $id ran outside the caller's job group: $j")
      assert(stepOf(j).size == 1, s"job $id names no single step: $j")
    }
    assert(steps.forall(s => starts.values.exists(stepOf(_) == Seq(s))),
      s"some step ran no job: ${starts.values.map(stepOf)}")
    val spans = starts.toSeq.map { case (id, j) =>
      (stepOf(j).head, j.start, ends(id)) }
    val overlapping = for {
      (sa, a0, a1) <- spans; (sb, b0, b1) <- spans
      if sa < sb && a0 < b1 && b0 < a1
    } yield (sa, sb)
    assert(overlapping.nonEmpty,
      s"no two steps' jobs overlapped in time: ${spans.sortBy(_._2)}")
  }

  test("a failed step: release stops every other step before it rethrows") {
    val (docs, lineBase, lineGrow, sigBase, sigGrow) = releaseInputs("fs")
    val root = Files.createTempDirectory("rb_fs").toString
    val sc = spark.sparkContext
    var thrownAt = 0L
    var activeAtThrow = Seq.empty[Int]
    val (starts, _) = watchJobs {
      val e = intercept[RuntimeException] {
        ReleaseBuild.release(spark, docs, lineBase, lineGrow, sigBase,
          sigGrow, root, afterArtifact = {
            case ReleaseBuild.LinePath => sys.error("injected step failure")
            case _ => ()
          })
      }
      thrownAt = System.currentTimeMillis()
      assert(e.getMessage.contains("injected step failure"))
      // the status store hears of a job's end through the listener
      // bus, a few milliseconds after its waiter
      val deadline = System.nanoTime() + 500L * 1000000L
      while (sc.statusTracker.getActiveJobIds.nonEmpty &&
          System.nanoTime() < deadline) Thread.sleep(5)
      activeAtThrow = sc.statusTracker.getActiveJobIds.toSeq
      // a step left running would start its next job within this
      Thread.sleep(1500)
    }
    assert(activeAtThrow.isEmpty, s"jobs still active: $activeAtThrow")
    val late = starts.filter(_._2.start > thrownAt).map { case (id, j) =>
      id -> j.tags.filter(_.startsWith(ReleaseBuild.StepTagPrefix)) }
    assert(late.isEmpty, s"jobs started after release threw: $late")
    assert(ReleaseBuild.readManifest(spark, root).isEmpty,
      "a failed release must land no manifest")
    val m = ReleaseBuild.release(spark, docs, lineBase, lineGrow, sigBase,
      sigGrow, root)
    assert(ReleaseBuild.readManifest(spark, root).contains(m))
    assert(spark.read.parquet(m.keeperMap).count() == 14L)
  }
}

object ReleaseBuildSpec {
  /** A job's tags, job group and start time, as a listener saw it. */
  private final case class JobSeen(tags: Set[String], group: String,
      start: Long)
}
