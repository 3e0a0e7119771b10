package graft.streaming

import org.apache.hadoop.fs.Path
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
  * Step 0 is the caller's (IndexRebuild's protocol): the admission
  * streams MUST be stopped before the build reads growth dirs, and
  * restarted against the new base paths with FRESH growth dirs
  * before the old growth dirs are deleted.
  *
  * 100 TB posture: the four rebuilds are the rebuilds' own documented
  * plans (distinct over digests; by-key union; buildPrefixIndex's
  * shingle machinery; q47's pair+CC) — this file adds sequencing and
  * the visibility swap, no new data movement.
  */
object ReleaseBuild {

  /** Artifact subpaths under a release root. */
  val LinePath = "line_index"
  val SignaturePath = "signature_index"
  val PrefixOrderedPath = "prefix_ordered"
  val PrefixDfPath = "prefix_df"
  val KeeperMapPath = "keeper_map"
  val ManifestName = "_MANIFEST.json"

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
    * artifact writes); production callers leave it.
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
    IndexRebuild.compactLineIndex(spark, baseLineIndex, growLinePath,
      new Path(root, LinePath).toString)
    afterArtifact(LinePath)
    IndexRebuild.compactSignatureIndex(spark, baseSigIndex, growSigPath,
      new Path(root, SignaturePath).toString)
    afterArtifact(SignaturePath)
    IndexRebuild.compactPrefixIndex(docs,
      new Path(root, PrefixOrderedPath).toString,
      new Path(root, PrefixDfPath).toString, shingleN)
    afterArtifact(PrefixOrderedPath)
    IndexRebuild.compactKeeperMap(docs,
      new Path(root, KeeperMapPath).toString, minJaccard)
    afterArtifact(KeeperMapPath)
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
