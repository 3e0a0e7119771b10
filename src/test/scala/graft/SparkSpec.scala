package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for test suites (one JVM-wide session),
  * built through [[GraftSession]] so tests run under the tools'
  * session invariants, graft's functions included. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", "4")
      .appName("graft-test")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
