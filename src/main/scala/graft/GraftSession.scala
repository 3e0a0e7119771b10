package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one place the tool session invariants live. Every main
  * (Bench, Verify, ScaleBench, DumpPlans, ClusterStream, tools.Dev)
  * builds through here so the invariants can't drift per-file: a
  * tool missing the UTC pin makes timestamp-literal results depend on
  * which query ran first on non-UTC hosts.
  *
  * Invariants: UTC session timezone at construction (never as a
  * mid-run side effect), shuffle partitions sized to the thread
  * count (not Spark's default 200 — at local[k] that's k; on a real
  * cluster the submitter overrides), UI off (headless tools), and
  * graft's native functions installed at construction
  * ([[graft.functions.GraftExtensions]]): the session, its
  * `newSession()`s and every streaming batch session cloned from it
  * resolve them with no `register` call.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
}
