package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}

/** Building and running a query leaves the caller's session as it
  * found it: the queries that bind a broadcast codebook, filter or
  * sketch carry it in their own expressions, and none registers a
  * function or a view to do so.
  */
class SessionHygieneSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private val names = Seq("q43_ivf_ann", "q52_kmeans_step", "q69_pq_encode",
    "q70_pq_adc", "q71_ivfpq_search", "q74_pq_residual", "q77_bloom_prejoin",
    "q83_cms_heavy", "q100_correlated_subquery", "q126_ivf_recall",
    "q128_pq_recall")

  private def functions(s: SparkSession) =
    s.sessionState.functionRegistry.listFunction().map(_.unquotedString).toSet
  private def tables(s: SparkSession) =
    s.catalog.listTables().collect().map(_.name).toSet

  test("building and collecting the broadcast-bound queries adds no " +
      "function or table to the session") {
    val s = SparkSpec.spark.newSession()
    val (fns0, tables0) = (functions(s), tables(s))
    names.foreach(n => SparkEntry.queries(n)(s, dir).collect())
    val fnDiff = (functions(s) -- fns0, fns0 -- functions(s))
    val tableDiff = (tables(s) -- tables0, tables0 -- tables(s))
    val none = (Set.empty[String], Set.empty[String])
    assert(fnDiff == none && tableDiff == none,
      s"(added, dropped) functions: $fnDiff, tables: $tableDiff")
  }
}
