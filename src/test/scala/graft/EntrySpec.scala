package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the driver's smoke check: the flagship entry() must return
  * rows on sf0.001, and every registered query must have either an
  * oracle or an explicit rows-only justification.
  */
class EntrySpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  test("entry(): flagship approach pipeline returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.length == 18)
  }

  test("every query analyzes in a FRESH session (self-contained)") {
    // each query must set up everything it needs (nanosAsLong,
    // bucketed-table prep) — round 3's q17 only worked because an
    // alphabetically earlier query had already set a session conf.
    // newSession() gives a clean conf on the shared context, and a
    // function registry holding only built-ins plus the functions the
    // session's extensions inject; .schema forces analysis, which is
    // where missing confs/functions surface.
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val fresh = spark.newSession()
      val schema = fn(fresh, dir).schema
      assert(schema.nonEmpty, s"$name produced an empty schema")
    }
  }

  test("no registered query outputs a top-level array/map/struct column") {
    // the driver's oracle harness canonicalizes row order with a
    // pandas sort over every output column; ArrayType cells arrive as
    // numpy ndarrays, which are unhashable, so the sort throws and the
    // whole query is recorded `err` (round 6: q66/q69). Guard the
    // registry: result schemas are scalars-only — arrays belong to
    // intermediate stages, serialized (concat_ws / hash) at the edge.
    // Structs are banned too: the harness has never proven them.
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val bad = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      fn(spark.newSession(), dir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(bad.isEmpty,
      s"driver-incompatible output columns (serialize to scalars): " +
        bad.mkString(", "))
  }

  test("no oracle embeds an interpolated null fragment") {
    // a Scala object val that references a LATER-declared val
    // interpolates "null" silently (bit q35's oracle once) — any
    // literal null in an oracle is that bug, not intended SQL
    // (`IS NULL AS x` / `IS NOT NULL AS x` are legitimate projections)
    val bare = "(?i)(?<!is )(?<!not )\\bnull as\\b".r
    // a leftover `${...}` / `$ident` means an interpolator prefix was
    // dropped; a bare `$` in a regex or quoted literal is fine
    val interp = "\\$\\{|\\$[A-Za-z_]".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(bare.findFirstIn(sql).isEmpty && interp.findFirstIn(sql).isEmpty,
        s"$name oracle looks mis-interpolated:\n$sql")
    }
  }

  test("query registry: oracle coverage and key hygiene") {
    val qs = SparkEntry.queries
    val os = SparkEntry.oracleSql
    assert(qs.nonEmpty)
    // every oracle refers to a registered query
    assert(os.keySet.subsetOf(qs.keySet))
    // every query is oracled (q20's state machine got a closed-form
    // oracle in round 3 — keep this exhaustive)
    assert((qs.keySet -- os.keySet).isEmpty,
      s"oracle-less queries: ${qs.keySet -- os.keySet}")
  }
}
