package graft.queries

import scala.annotation.tailrec

import org.apache.spark.sql.catalyst.plans.logical.{Limit, LogicalPlan, Project, Sort}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}

/** Pins the output contract stated on `SparkEntry.queries`: a query
  * returns a row set, so its optimized plan does not end in a global
  * sort. A sort under a limit (top-k) is part of the result and is
  * allowed, as is one directly above a limit.
  */
class OutputContractSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  @tailrec private def throughProject(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, child) => throughProject(child)
    case other => other
  }

  private def endsInGlobalSort(p: LogicalPlan): Boolean =
    throughProject(p) match {
      case s: Sort if s.global => throughProject(s.child) match {
        case Limit(_, _) => false
        case _ => true
      }
      case _ => false
    }

  test("no registered query ends in a global sort outside a top-k") {
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val plan = fn(spark.newSession(), dir).queryExecution.optimizedPlan
          if (endsInGlobalSort(plan)) Some(name) else None
        } catch {
          // q24 reads the airport reference CSVs, absent on some hosts
          case e: IllegalArgumentException
              if e.getMessage.contains("reference data directory") => None
        }
    }
    assert(sorted.isEmpty,
      s"${sorted.size} queries end in a presentation sort: " +
        sorted.mkString(", "))
  }
}
