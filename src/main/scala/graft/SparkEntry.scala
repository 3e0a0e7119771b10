package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{ApproachQueries, MultimodalQueries, Relational, TextQueries, VectorQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query: the full approach-detection pipeline (FlightGen
    * traces -> state machine -> 18-column approaches table) on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    ApproachQueries.q20(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Output contract: a query returns a row set. Row order is part of
    * the result only where the query itself consumes it — an
    * `orderBy` under a `limit` (top-k), one that feeds `zipWithIndex`,
    * `collect`, `head` or `first`, and every window or
    * `sortWithinPartitions`. No query sorts only to present its
    * result; a caller that wants an order applies `orderBy` itself.
    * The oracle compare sorts both sides' rows before comparing.
    *
    * The caller may hand in a session graft did not build, so each
    * entry first registers the native functions that session lacks.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Relational.queries ++ ApproachQueries.queries ++ TextQueries.queries ++
      VectorQueries.queries ++ MultimodalQueries.queries).map { case (name, q) =>
      name -> ((spark: SparkSession, dir: String) => {
        graft.functions.GraftFunctions.register(spark)
        q(spark, dir)
      })
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ ApproachQueries.oracles ++ TextQueries.oracles ++
      VectorQueries.oracles ++ MultimodalQueries.oracles
}
