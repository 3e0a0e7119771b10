package graft.streaming

import java.util.UUID
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, Future, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-command corpus RELEASE build — the orchestration over
  * [[IndexRebuild]]'s per-artifact rebuilds: a release compacts every admission artifact the
  * standing services consume —
  *
  *   - the LINE index (LineDedupStream: base ∪ growth shards,
  *     distinct),
  *   - the MinHash SIGNATURE index (NearDupStream: by-key union),
  *   - the PREFIX index (PrefixDedupStream: ordered-sets + (s, df),
  *     re-derived — the order is corpus-global),
  *   - the cluster-split KEEPER MAP (q124: re-derived — a new doc can
  *     merge clusters),
  *
  * into one versioned directory, and makes the release VISIBLE in a
  * single atomic step: the `_MANIFEST.json` write (temp file + FS
  * rename — atomic on local FS and HDFS; object stores without
  * atomic rename need their own pointer swap, documented not
  * papered over). A release root without a manifest is invisible:
  * readers resolve artifacts ONLY through [[readManifest]], so a
  * crash anywhere inside [[release]] leaves the previous release
  * authoritative and the torn directory inert — re-running the build
  * overwrites it and lands the manifest.
  *
  * The four artifact steps run CONCURRENTLY: none reads another's
  * output, so [[release]] submits them to a pool of four threads it
  * creates and shuts down itself, waits for all four, and only then
  * lands the manifest. Each step's jobs carry the caller's job group
  * and description (the pool threads inherit the caller's local
  * properties) plus two job tags: `graft.release.<step>` names the
  * step, and a tag unique to this call lets a failure cancel the
  * other steps' jobs. When a step or `afterArtifact` throws, the
  * release cancels through that tag until every step has stopped,
  * and only then rethrows: a re-run into the same manifest-less root
  * never races a leftover writer.
  *
  * Step 0 is the caller's (IndexRebuild's protocol): the admission
  * streams MUST be stopped before the build reads growth dirs, and
  * restarted against the new base paths with FRESH growth dirs
  * before the old growth dirs are deleted.
  *
  * 100 TB posture: the four rebuilds are the rebuilds' own documented
  * plans (distinct over digests; by-key union; buildPrefixIndex's
  * shingle machinery; q47's pair+CC) — this file adds the concurrent
  * submission and the visibility swap, no new data movement. Running
  * the steps side by side fills cores that one step's small jobs
  * leave idle; on a cluster that one step already saturates, FIFO
  * scheduling runs the earlier-submitted jobs' tasks first, so the
  * steps degrade toward serial order.
  */
object ReleaseBuild {

  /** Artifact subpaths under a release root. */
  val LinePath = "line_index"
  val SignaturePath = "signature_index"
  val PrefixOrderedPath = "prefix_ordered"
  val PrefixDfPath = "prefix_df"
  val KeeperMapPath = "keeper_map"
  val ManifestName = "_MANIFEST.json"

  /** Prefix of the job tag that names a release step
    * (`graft.release.line_index`, ...).
    */
  val StepTagPrefix = "graft.release."

  /** Resolved release: absolute artifact paths, visible iff the
    * manifest landed.
    */
  final case class Manifest(root: String, lineIndex: String,
      signatureIndex: String, prefixOrdered: String, prefixDf: String,
      keeperMap: String)

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** JSON string escaping for the manifest's path values (keys are
    * fixed safe literals). Hand-rolled JSON without this corrupts on
    * roots containing '"' or backslashes (Windows paths); the
    * 6-field manifest doesn't warrant a parser dep.
    */
  private[streaming] def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private[streaming] def jsonUnescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 6 <= s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16)
              .toChar)
            i += 6
          case e => sb.append(e); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Build every artifact under `outRoot`, then land the manifest
    * atomically. `docs` is the COMPACTED corpus (base ∪ admitted —
    * the caller's curated table); `baseLineIndex`/`baseSigIndex` +
    * their growth dirs are the line/signature services' current
    * state. `afterArtifact` is a test seam (crash injection between
    * artifact writes); production callers leave it. It runs on the
    * caller's thread, once per step in the order line, signature,
    * prefix, keeper map, each time after that step has finished.
    * The steps resolve graft's functions from several threads at once,
    * so `spark` must carry them before the call: a
    * [[graft.GraftSession]] session does from construction.
    */
  def release(spark: SparkSession, docs: DataFrame,
      baseLineIndex: DataFrame, growLinePath: String,
      baseSigIndex: DataFrame, growSigPath: String,
      outRoot: String, shingleN: Int = 3, minJaccard: Double = 0.5,
      afterArtifact: String => Unit = _ => ()): Manifest = {
    val root = new Path(outRoot)
    // release roots are WRITE-ONCE: re-building into a root whose
    // manifest already landed would overwrite artifact dirs UNDER
    // live readers (they resolve through the manifest, which would
    // briefly vanish and then point at torn parquet). Re-running
    // into a manifest-less root (a crashed build) is the supported
    // recovery; a new release goes to a NEW root.
    require(readManifest(spark, outRoot).isEmpty,
      s"release root already released (manifest present): $outRoot — " +
        "build into a NEW root; re-run only recovers crashed " +
        "(manifest-less) builds")
    runSteps(spark.sparkContext, Seq(
      LinePath -> (() => IndexRebuild.compactLineIndex(spark,
        baseLineIndex, growLinePath, new Path(root, LinePath).toString)),
      SignaturePath -> (() => IndexRebuild.compactSignatureIndex(spark,
        baseSigIndex, growSigPath, new Path(root, SignaturePath).toString)),
      PrefixOrderedPath -> (() => IndexRebuild.compactPrefixIndex(docs,
        new Path(root, PrefixOrderedPath).toString,
        new Path(root, PrefixDfPath).toString, shingleN)),
      KeeperMapPath -> (() => IndexRebuild.compactKeeperMap(docs,
        new Path(root, KeeperMapPath).toString, minJaccard))),
      afterArtifact)
    // visibility swap: write-then-RENAME, the one atomic step
    val f = fs(spark, root)
    val tmp = new Path(root, s"$ManifestName.tmp")
    val fin = new Path(root, ManifestName)
    val json = Seq(LinePath, SignaturePath, PrefixOrderedPath,
      PrefixDfPath, KeeperMapPath)
      .map(p => s""""$p":"${jsonEscape(new Path(root, p).toString)}"""")
      .mkString("{", ",", "}")
    val out = f.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, fin))
      sys.error(s"manifest rename failed: $tmp -> $fin")
    readManifest(spark, outRoot).getOrElse(
      sys.error(s"manifest unreadable after rename: $fin"))
  }

  /** Runs `steps` on a pool of one thread per step and calls
    * `afterStep` on this thread, in `steps` order, as each finishes.
    * On any failure it cancels the steps' jobs until every step has
    * stopped, then rethrows the first failure.
    */
  private def runSteps(sc: SparkContext, steps: Seq[(String, () => Unit)],
      afterStep: String => Unit): Unit = {
    val cancelTag = s"graft.release-${UUID.randomUUID()}"
    // threads start on submit, on this thread, so they inherit its
    // local properties (job group, description, tags)
    val pool = Executors.newFixedThreadPool(steps.size)
    try {
      val done = new ExecutorCompletionService[Unit](pool)
      val futures: Seq[Future[Unit]] = steps.map { case (name, body) =>
        done.submit { () =>
          val tags = Seq(cancelTag, StepTagPrefix + name)
          tags.foreach(sc.addJobTag)
          try body() finally tags.foreach(sc.removeJobTag)
        }
      }
      try {
        var next = 0
        while (next < steps.size) {
          done.take().get() // the first failure surfaces as it lands
          while (next < steps.size && futures(next).isDone) {
            futures(next).get()
            afterStep(steps(next)._1)
            next += 1
          }
        }
      } catch {
        case t: Throwable =>
          // a step between two jobs starts its next one after a
          // single cancel, so cancel until every step has stopped
          while (futures.exists(!_.isDone)) {
            sc.cancelJobsWithTag(cancelTag, "another release step failed")
            done.poll(50, TimeUnit.MILLISECONDS)
          }
          throw (t match {
            case e: ExecutionException if e.getCause != null => e.getCause
            case other => other
          })
      }
    } finally pool.shutdown()
  }

  /** The release under `outRoot`, or None while no manifest landed
    * (torn/in-progress builds are invisible by construction).
    */
  def readManifest(spark: SparkSession, outRoot: String)
      : Option[Manifest] = {
    val root = new Path(outRoot)
    val f = fs(spark, root)
    val fin = new Path(root, ManifestName)
    if (!f.exists(fin)) return None
    val in = f.open(fin)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def field(k: String): String =
      s""""$k":"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(body)
        .map(m => jsonUnescape(m.group(1)))
        .getOrElse(sys.error(s"manifest missing $k: $body"))
    Some(Manifest(outRoot, field(LinePath), field(SignaturePath),
      field(PrefixOrderedPath), field(PrefixDfPath),
      field(KeeperMapPath)))
  }
}
