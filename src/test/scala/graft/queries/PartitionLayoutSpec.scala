package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** q94's layout contract, end-to-end on the real events table (the
  * synthetic-fixture mechanism is pinned in RuntimePruningSpec; this
  * suite pins the QUERY): the staged date-partitioned layout must be
  * one file per date directory, the date-range predicate must prune
  * at file-listing time (7 of 30 files ever reach the scan), and the
  * pruned query must agree row-for-row with the same aggregate
  * computed the layout-blind way from the source parquet.
  */
class PartitionLayoutSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  test("staged layout is one file per date partition") {
    val path = Relational.prepareDatePartitionedEvents(spark, dir)
    val all = spark.read.parquet(path)
    val days = all.select(countDistinct(col("event_date"))).head().getLong(0)
    assert(days == 30, s"expected the 30-day fixture span, got $days")
    assert(all.inputFiles.length == 30,
      s"expected 1 file/date from repartition(event_date), " +
        s"got ${all.inputFiles.length}")
  }

  test("q94's date range prunes at file-listing time") {
    val pruned = Relational.q94(spark, dir)
    val scanStr = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scanStr.matches(
      "(?s).*PartitionFilters: \\[[^\\]]*event_date[^\\]]*\\].*"),
      s"date predicate did not become a PartitionFilter:\n$scanStr")
    // the scan's numFiles metric counts what was actually listed in:
    // 7 of the 30 date directories — the other 23 never reach the
    // scan, which at a multi-year 100 TB table is the whole win
    // (inputFiles can't show this: it lists the relation unpruned)
    pruned.collect()
    // under AQE the scan sits inside an already-materialized
    // ShuffleQueryStage, which is a LEAF of the final plan — recurse
    // through stage boundaries to reach it
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
      }.flatten
    val scans = allScans(pruned.queryExecution.executedPlan)
    assert(scans.nonEmpty,
      s"no FileSourceScanExec in:\n${pruned.queryExecution.executedPlan}")
    assert(scans.head.metrics("numFiles").value == 7,
      s"expected 7 pruned-in files, got ${scans.head.metrics("numFiles").value}")
  }

  test("pruned aggregate equals the layout-blind computation") {
    val viaLayout = Relational.q94(spark, dir)
      .orderBy(col("day"), col("event_type")).collect().toSeq
    val blind = Relational.events(spark, dir)
      .filter(to_date(col("ts")).between(
        lit("2024-01-08"), lit("2024-01-14")))
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(Relational.e6(col("value"))).as("sum_value_e6"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"), col("event_type"))
      .collect().toSeq
    assert(viaLayout.nonEmpty && viaLayout == blind)
  }
}
