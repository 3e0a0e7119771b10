package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BloomProbe.bloomProbe
import graft.geo.Geo

/** Relational query inventory over the driver testdata (TESTDATA.md).
  *
  * Completes the reference's operator surface (SURVEY.md §2.3 note,
  * §2.6-2.7) with the standard relational ops the reference never
  * needed: equi/broadcast/sort-merge/semi/anti joins, hash aggregates,
  * grouping sets, window ranking + frames, gaps-and-islands, sorts /
  * limits / top-k, set operations, and the geodesy scalar library
  * (§2.8) expressed relationally so DuckDB can oracle it.
  *
  * Cross-engine exactness rules (every query is hash-compared against
  * DuckDB at sf0.01):
  *   - money doubles (2-dec) are summed as integer cents
  *     (`round(x*100) :: long`) — order-independent, bit-exact;
  *   - `l_quantity` is integer-valued, so double sums/avgs are exact;
  *   - trig outputs are rounded to 4 decimals (libm last-ulp slack);
  *   - a query returns a row set: the compare sorts both sides'
  *     rows, so no query sorts only to present its result.
  */
object Relational {

  def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The raw events parquet. The generator has shipped `ts` two ways
    * across rounds — TIMESTAMP(NANOS) (read as a ns long under
    * `nanosAsLong`) and plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ)
    * — so both event entry points sniff the resolved type instead of
    * assuming a layout; a third layout fails loudly here rather than
    * as a type error deep inside a query.
    */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The MICROS layout is read as TIMESTAMP_NTZ and relabeled to an
    // instant by events(); that relabel is session-timezone-dependent,
    // so pin UTC HERE rather than trusting every caller's session
    // (GraftSession pins it; a library caller's session may not).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = tbl(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // A plain INT64 column COULD be micros (or anything) — downstream
        // scales it as epoch NANOS, so a mis-labeled layout would be
        // silently 1000x off. Probe one value per (dir, mtime) —
        // memoized, one ~50 ms job per layout generation, not per
        // query — and demand it lands in the plausible epoch-ns window
        // [2000-01-01, 2100-01-01). The mtime in the key means
        // regenerated data at the same path re-validates (matching
        // prepareBucketedTables); the probe runs OUTSIDE the map (plain
        // get → job → putIfAbsent) so the Spark job never executes
        // under a ConcurrentHashMap bin lock.
        val key = dir + "@" +
          new java.io.File(s"$dir/events.parquet").lastModified
        if (!eventsNsChecked.containsKey(key)) {
          raw.select("ts").limit(1).collect().headOption.foreach { r =>
            if (!r.isNullAt(0)) {
              val v = r.getLong(0)
              if (v < 946684800000000000L || v >= 4102444800000000000L)
                throw new IllegalStateException(
                  s"events.ts is INT64 but value $v is not plausible epoch " +
                  "nanoseconds (expected [2000-01-01, 2100-01-01) in ns); " +
                  "a micros-scaled long would be silently 1000x off")
            }
          }
          eventsNsChecked.putIfAbsent(key, java.lang.Boolean.TRUE)
        }
        raw
      case org.apache.spark.sql.types.TimestampNTZType |
          org.apache.spark.sql.types.TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other (expected ns long or µs timestamp)")
    }
  }

  /** `dir@mtime` keys whose INT64 `ts` passed the epoch-ns range probe
    * (see above). Concurrent first touches may both run the ~50 ms
    * probe (benign duplicate work); neither blocks the other.
    */
  private val eventsNsChecked =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The events table with `ts` normalized to a Spark µs timestamp.
    * NANOS layout: Spark has no ns timestamp type (the reader rejects
    * NANOS unless `nanosAsLong` is set), so read ns as long and
    * truncate with integer division (`DIV`, not `/` — double division
    * loses µs precision at 1.7e18 ns), matching DuckDB's
    * `CAST(ts AS TIMESTAMP)` ns->µs truncation. MICROS layout: the
    * NTZ wall-clock IS the µs instant under the UTC session that
    * eventsRaw itself pins, so the NTZ->TZ cast relabels without
    * shifting on any host.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = eventsRaw(spark, dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** The events table with `ts` as the RAW epoch-nanosecond long.
    * For operators whose semantics hinge on time ORDERING and
    * timestamp ARITHMETIC (as-of, range joins, funnel deltas): a ns
    * long compares and subtracts exactly in both engines. Under the
    * MICROS layout the ns value is `unix_micros * 1000` — zero
    * sub-µs part, still exactly DuckDB's `epoch_ns(ts)`.
    */
  def eventsNs(spark: SparkSession, dir: String): DataFrame = {
    val raw = eventsRaw(spark, dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => raw.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * 1000)
    }
  }

  /** 2-decimal money double -> exact integer cents. */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** 4-decimal double -> exact integer e4 units. */
  def e4(c: Column): Column = round(c * 10000, 0).cast("long")

  /** 6-decimal double -> exact integer e6 units. */
  def e6(c: Column): Column = round(c * 1000000, 0).cast("long")

  // ---- q01: pricing summary (hash agg; filter pushdown; TPC-H Q1 shape) ----
  def q01(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(e4(col("l_extendedprice") * (lit(1d) - col("l_discount"))))
          .as("sum_disc_e4"),
        avg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000, 0) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
      |  avg(l_quantity) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- q02: projection + filter (parquet pushdown / column pruning) ----
  def q02(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 48 &&
        col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("2001-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      |FROM lineitem
      |WHERE l_quantity >= 48
      |  AND l_shipdate >= TIMESTAMP '2000-01-01'
      |  AND l_shipdate < TIMESTAMP '2001-01-01'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- q03: 3-way equi join + agg + top-k (TPC-H Q3 shape) ----
  def q03(spark: SparkSession, dir: String): DataFrame = {
    val c = tbl(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = tbl(spark, dir, "orders")
    val l = tbl(spark, dir, "lineitem")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(sum(e4(col("l_extendedprice") * (lit(1d) - col("l_discount"))))
        .as("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("o_orderkey"))
      .limit(10)
  }

  val q03Sql: String =
    """SELECT o_orderkey,
      |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey
      |ORDER BY revenue_e4 DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // ---- q04: broadcast hash join (small dim) ----
  def q04(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .join(broadcast(tbl(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))

  val q04Sql: String =
    """SELECT p_brand, count(*) AS n_items, sum(l_quantity) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---- q05: sort-merge join (hinted; big-big) ----
  def q05(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "orders").hint("merge")
      .join(tbl(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"))

  val q05Sql: String =
    """SELECT o_orderstatus, count(*) AS n_lines,
      |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_price_cents
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---- q06: left-semi join (EXISTS) ----
  def q06(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "orders")
      .join(tbl(spark, dir, "lineitem").filter(col("l_quantity") === 50),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))

  val q06Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity = 50)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- q07: left-anti join (NOT EXISTS) ----
  // Customers with no order since 2001 (unrestricted anti join is
  // vacuous on this data — every customer has some order).
  def q07(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "customer")
      .join(tbl(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"), min(col("c_custkey")).as("min_custkey"))

  val q07Sql: String =
    """SELECT c_mktsegment, count(*) AS n_custs, min(c_custkey) AS min_custkey
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |                  AND o.o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- q08: rollup / grouping sets ----
  def q08(spark: SparkSession, dir: String): DataFrame = {
    val r = tbl(spark, dir, "region")
    val n = tbl(spark, dir, "nation")
    val c = tbl(spark, dir, "customer")
    r.join(n, col("r_regionkey") === col("n_regionkey"))
      .join(c, col("n_nationkey") === col("c_nationkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_custs"),
        sum(cents(col("c_acctbal"))).as("sum_bal_cents"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_custs"), col("sum_bal_cents"))
  }

  val q08Sql: String =
    """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
      |  count(*) AS n_custs,
      |  CAST(sum(CAST(round(c_acctbal*100, 0) AS BIGINT)) AS BIGINT) AS sum_bal_cents
      |FROM region JOIN nation ON r_regionkey = n_regionkey
      |JOIN customer ON n_nationkey = c_nationkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  // ---- q09: window ranking (top-3 per group) ----
  def q09(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    tbl(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("rn"), col("c_custkey"),
        cents(col("c_acctbal")).as("bal_cents"))
  }

  val q09Sql: String =
    """SELECT c_mktsegment, CAST(rn AS INT) AS rn, c_custkey, CAST(round(c_acctbal*100, 0) AS BIGINT) AS bal_cents
      |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
      |        row_number() OVER (PARTITION BY c_mktsegment
      |                           ORDER BY c_acctbal DESC, c_custkey) AS rn
      |      FROM customer)
      |WHERE rn <= 3
      |ORDER BY c_mktsegment, rn""".stripMargin

  // ---- q10: window frame (rolling 5-row mean — A3 as SQL) ----
  def q10(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(-4, 0)
    tbl(spark, dir, "lineitem")
      .filter(col("l_suppkey") <= 10)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity")).over(w).as("roll_sum"),
        avg(col("l_quantity")).over(w).as("roll_avg"))
  }

  val q10Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  sum(l_quantity) OVER w AS roll_sum,
      |  avg(l_quantity) OVER w AS roll_avg
      |FROM lineitem
      |WHERE l_suppkey <= 10
      |WINDOW w AS (PARTITION BY l_suppkey
      |             ORDER BY l_shipdate, l_orderkey, l_linenumber
      |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  // ---- q11: gaps-and-islands sessionization (W5 as SQL) ----
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ev = events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
    ev.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        sum(col("n_events")).as("n_events"))
  }

  val q11Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged
      |), per_session AS (
      |  SELECT user_id, session_id, count(*) AS n_events
      |  FROM sessions GROUP BY user_id, session_id
      |)
      |SELECT user_id, count(*) AS n_sessions,
      |  max(n_events) AS max_session_events,
      |  CAST(sum(n_events) AS BIGINT) AS n_events
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- q12: sort / limit / top-k ----
  def q12(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"),
        cents(col("p_retailprice")).as("price_cents"))
      .orderBy(col("price_cents").desc, col("p_partkey"))
      .limit(10)

  val q12Sql: String =
    """SELECT p_partkey, p_brand, CAST(round(p_retailprice*100, 0) AS BIGINT) AS price_cents
      |FROM part ORDER BY price_cents DESC, p_partkey LIMIT 10""".stripMargin

  // ---- q13: set operations ----
  def q13(spark: SparkSession, dir: String): DataFrame = {
    val cn = tbl(spark, dir, "customer")
      .select(col("c_nationkey").cast("int").as("nk")).distinct()
    val sn = tbl(spark, dir, "supplier")
      .select(col("s_nationkey").cast("int").as("nk")).distinct()
    val u = cn.union(sn).distinct().select(lit("union").as("op"), col("nk"))
    val i = cn.intersect(sn).select(lit("intersect").as("op"), col("nk"))
    val e = cn.except(sn).select(lit("except").as("op"), col("nk"))
    u.union(i).union(e)
  }

  val q13Sql: String =
    """WITH cn AS (SELECT DISTINCT CAST(c_nationkey AS INT) AS nk FROM customer),
      |     sn AS (SELECT DISTINCT CAST(s_nationkey AS INT) AS nk FROM supplier)
      |SELECT 'union' AS op, nk FROM (SELECT nk FROM cn UNION SELECT nk FROM sn)
      |UNION ALL
      |SELECT 'intersect' AS op, nk FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
      |UNION ALL
      |SELECT 'except' AS op, nk FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
      |ORDER BY op, nk""".stripMargin

  // ---- q14: distinct aggregates ----
  def q14(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "customer")
      .groupBy(col("c_nationkey").cast("int").as("nationkey"))
      .agg(countDistinct(col("c_mktsegment")).as("n_segments"),
        count(lit(1)).as("n_custs"))

  val q14Sql: String =
    """SELECT CAST(c_nationkey AS INT) AS nationkey,
      |  count(DISTINCT c_mktsegment) AS n_segments, count(*) AS n_custs
      |FROM customer GROUP BY 1 ORDER BY nationkey""".stripMargin

  // ---- q15: tumbling-window (hourly) event aggregation — batch twin of
  //      the Structured Streaming query (SURVEY.md §2.9) ----
  def q15(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(hourBucket(col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(e6(col("value"))).as("sum_value_e6"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  val q15Sql: String =
    """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00') AS hour,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*1000000, 0) AS BIGINT)) AS BIGINT) AS sum_value_e6,
      |  min(value) AS min_value, max(value) AS max_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // ---- q16: geodesy scalar library as SQL (G1, G4, G8 — SURVEY §2.8) ----
  // Synthetic points derived from customer keys; DuckDB oracle carries
  // the same closed-form n-vector trig. Rounded to 4 decimals (libm).
  //
  // STAGED into flat per-component projections (same pattern and
  // reason as q25 below): composing Geo.distanceTo /
  // crossTrackDistanceTo inline duplicated the trig subtrees enough
  // to cost ~6 s of codegen plus 2.6 s steady-state for 15k rows
  // (measured). The staged form is the identical arithmetic in the
  // identical IEEE order — Geo's composed combinators stay correct
  // for scalar use and are pinned by GeoSpec.
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val rlat2 = radians(lit(40.6892))
    val rlon2 = radians(lit(-74.0445))
    val th = radians(lit(45d))
    val pts = tbl(spark, dir, "customer").select(
      k.as("c_custkey"),
      radians((k % 120) - lit(60) + lit(0.25)).as("rlat1"),
      radians(((k * 7) % 300) - lit(150) + lit(0.5)).as("rlon1"),
      (k % 360).cast("double").as("h1"),
      ((k * 13) % 360).cast("double").as("h2"))
    // a = point n-vector; b, g(reat-circle normal) fold to constants
    val v = pts.select(col("c_custkey"), col("h1"), col("h2"),
      (cos(col("rlat1")) * cos(col("rlon1"))).as("ax"),
      (cos(col("rlat1")) * sin(col("rlon1"))).as("ay"),
      sin(col("rlat1")).as("az"),
      (cos(rlat2) * cos(rlon2)).as("bx"),
      (cos(rlat2) * sin(rlon2)).as("by"),
      sin(rlat2).as("bz"),
      (sin(rlon2) * cos(th) - sin(rlat2) * cos(rlon2) * sin(th)).as("gx"),
      (-cos(rlon2) * cos(th) - sin(rlat2) * sin(rlon2) * sin(th)).as("gy"),
      (cos(rlat2) * sin(th)).as("gz"))
    // cross products: c = a x b (distance), cr = g x a and sv = a x g
    // (signed cross-track) — component orders exactly as Geo.vCross
    val cr = v.select(col("*"),
      (col("ay") * col("bz") - col("az") * col("by")).as("cx"),
      (col("az") * col("bx") - col("ax") * col("bz")).as("cy"),
      (col("ax") * col("by") - col("ay") * col("bx")).as("cz"),
      (col("gy") * col("az") - col("gz") * col("ay")).as("crx"),
      (col("gz") * col("ax") - col("gx") * col("az")).as("cry"),
      (col("gx") * col("ay") - col("gy") * col("ax")).as("crz"),
      (col("ay") * col("gz") - col("az") * col("gy")).as("svx"),
      (col("az") * col("gx") - col("ax") * col("gz")).as("svy"),
      (col("ax") * col("gy") - col("ay") * col("gx")).as("svz"))
    val s = sqrt(col("crx") * col("crx") + col("cry") * col("cry") +
      col("crz") * col("crz"))
    val ang = cr.select(col("c_custkey"), col("h1"), col("h2"),
      atan2(
        sqrt(col("cx") * col("cx") + col("cy") * col("cy") +
          col("cz") * col("cz")),
        col("ax") * col("bx") + col("ay") * col("by") + col("az") * col("bz"))
        .as("theta"),
      atan2(
        when(col("crx") * col("svx") + col("cry") * col("svy") +
          col("crz") * col("svz") < 0, -s).otherwise(s),
        col("gx") * col("ax") + col("gy") * col("ay") + col("gz") * col("az"))
        .as("alpha0"))
    val halfPi = lit(math.Pi / 2)
    ang.select(col("c_custkey"),
      round(col("theta") * lit(3959d), 4).as("dist_mi"),
      Geo.headingDifference(col("h1"), col("h2")).as("hdg_diff"),
      round(when(col("alpha0") < 0, -halfPi - col("alpha0"))
        .otherwise(halfPi - col("alpha0")) * lit(20900000d), 2).as("xtrack_ft"))
  }

  // Same n-vector formulas in DuckDB SQL (reference LatLon.py:95-117,
  // 196-231 semantics; see graft.geo.Geo).
  val q16Sql: String =
    """WITH pts AS (
      |  SELECT c_custkey,
      |    (c_custkey % 120) - 60 + 0.25 AS lat1, ((c_custkey*7) % 300) - 150 + 0.5 AS lon1,
      |    CAST(c_custkey % 360 AS DOUBLE) AS h1, CAST((c_custkey*13) % 360 AS DOUBLE) AS h2,
      |    radians((c_custkey % 120) - 60 + 0.25) AS rlat1, radians(((c_custkey*7) % 300) - 150 + 0.5) AS rlon1,
      |    radians(40.6892) AS rlat2, radians(-74.0445) AS rlon2, radians(45.0) AS brg
      |  FROM customer
      |), vecs AS (
      |  SELECT c_custkey, h1, h2,
      |    cos(rlat1)*cos(rlon1) AS ax, cos(rlat1)*sin(rlon1) AS ay, sin(rlat1) AS az,
      |    cos(rlat2)*cos(rlon2) AS bx, cos(rlat2)*sin(rlon2) AS by, sin(rlat2) AS bz,
      |    sin(rlon2)*cos(brg) - sin(rlat2)*cos(rlon2)*sin(brg) AS gx,
      |    -cos(rlon2)*cos(brg) - sin(rlat2)*sin(rlon2)*sin(brg) AS gy,
      |    cos(rlat2)*sin(brg) AS gz
      |  FROM pts
      |), d AS (
      |  SELECT c_custkey, h1, h2, ax, ay, az, gx, gy, gz,
      |    atan2(sqrt(pow(ay*bz-az*by,2)+pow(az*bx-ax*bz,2)+pow(ax*by-ay*bx,2)),
      |          ax*bx+ay*by+az*bz) * 3959 AS dist_mi
      |  FROM vecs
      |), xt AS (
      |  SELECT c_custkey, h1, h2, dist_mi,
      |    -- angleTo(gc, p) signed by (p x gc): atan2(±|gc x p|, gc.p)
      |    atan2(sqrt(pow(gy*az-gz*ay,2)+pow(gz*ax-gx*az,2)+pow(gx*ay-gy*ax,2)) *
      |            (CASE WHEN (gy*az-gz*ay)*(ay*gz-az*gy)
      |                     + (gz*ax-gx*az)*(az*gx-ax*gz)
      |                     + (gx*ay-gy*ax)*(ax*gy-ay*gx) < 0 THEN -1 ELSE 1 END),
      |          gx*ax+gy*ay+gz*az) AS alpha0
      |  FROM d
      |)
      |SELECT c_custkey,
      |  round(dist_mi, 4) AS dist_mi,
      |  180 - abs(abs(h1 - h2) - 180) AS hdg_diff,
      |  round((CASE WHEN alpha0 < 0 THEN -pi()/2 - alpha0 ELSE pi()/2 - alpha0 END) * 20900000, 2) AS xtrack_ft
      |FROM xt ORDER BY c_custkey""".stripMargin

  // ---- q25: geodesy library part 2 (G5/G6/G7 — SURVEY §2.8) ----
  // bearingTo / midpointTo / destinationPoint on custkey-derived
  // points; the oracle replays the exact n-vector op sequence.
  //
  // Deliberately STAGED into flat per-component projections instead
  // of composing Geo.midpointTo/destinationPoint directly: the nested
  // struct + unit-guard composition duplicates subtrees exponentially
  // (getField over CaseWhen copies the condition into every branch),
  // which blew past whole-stage codegen and ran 200x slower. Same
  // arithmetic, same values — Geo's composed forms stay correct for
  // scalar use and are unit-tested in GeoSpec.
  def q25(spark: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val pts = tbl(spark, dir, "customer").select(
      k.as("c_custkey"),
      radians((k % 120) - lit(60) + lit(0.25)).as("rlat1"),
      radians(((k * 7) % 300) - lit(150) + lit(0.5)).as("rlon1"),
      radians((k % 360).cast("double")).as("th"),
      ((lit(100) + (k % 500)).cast("double") / lit(3959.0)).as("delta"),
      radians(lit(40.6892)).as("rlat2"),
      radians(lit(-74.0445)).as("rlon2"))
    val v = pts.select(col("c_custkey"), col("rlat1"), col("rlon1"),
      col("th"), col("delta"),
      (cos(col("rlat1")) * cos(col("rlon1"))).as("ax"),
      (cos(col("rlat1")) * sin(col("rlon1"))).as("ay"),
      sin(col("rlat1")).as("az"),
      (cos(col("rlat2")) * cos(col("rlon2"))).as("bx"),
      (cos(col("rlat2")) * sin(col("rlon2"))).as("by"),
      sin(col("rlat2")).as("bz"))
    val be = v.select(col("*"),
      (col("ay") * col("bz") - col("az") * col("by")).as("c1x"),
      (col("az") * col("bx") - col("ax") * col("bz")).as("c1y"),
      (col("ax") * col("by") - col("ay") * col("bx")).as("c1z"),
      (col("ay") * lit(1) - col("az") * lit(0)).as("c2x"),
      (col("az") * lit(0) - col("ax") * lit(1)).as("c2y"),
      (col("ax") * lit(0) - col("ay") * lit(0)).as("c2z"))
    val be2 = be.select(col("*"),
      (col("c1y") * col("c2z") - col("c1z") * col("c2y")).as("ccx"),
      (col("c1z") * col("c2x") - col("c1x") * col("c2z")).as("ccy"),
      (col("c1x") * col("c2y") - col("c1y") * col("c2x")).as("ccz"))
    val withBearing = be2.select(col("*"),
      (degrees(atan2(
        when(col("ccx") * col("ax") + col("ccy") * col("ay") +
          col("ccz") * col("az") < 0,
          -sqrt(col("ccx") * col("ccx") + col("ccy") * col("ccy") +
            col("ccz") * col("ccz")))
          .otherwise(sqrt(col("ccx") * col("ccx") + col("ccy") * col("ccy") +
            col("ccz") * col("ccz"))),
        col("c1x") * col("c2x") + col("c1y") * col("c2y") +
          col("c1z") * col("c2z"))) + lit(360)).as("a"))
    // midpoint: unit(p1 + p2) -> lat/lon
    val mids = withBearing.select(col("*"),
      (col("ax") + col("bx")).as("sx"),
      (col("ay") + col("by")).as("sy"),
      (col("az") + col("bz")).as("sz"))
    val midN = mids.select(col("*"),
      sqrt(col("sx") * col("sx") + col("sy") * col("sy") +
        col("sz") * col("sz")).as("n"))
    def unitC(c: String): Column =
      when(col("n") === 0 || col("n") === 1, col(c)).otherwise(col(c) / col("n"))
    val mid = midN.select(col("c_custkey"), col("rlat1"), col("rlon1"),
      col("th"), col("delta"), col("ax"), col("ay"), col("az"), col("a"),
      unitC("sx").as("mux"), unitC("sy").as("muy"), unitC("sz").as("muz"))
    // destination: unit(p1*cos(d) + (gc x p1)*sin(d)) -> lat/lon
    val dest0 = mid.select(col("*"),
      (sin(col("rlon1")) * cos(col("th")) -
        sin(col("rlat1")) * cos(col("rlon1")) * sin(col("th"))).as("gx"),
      (-cos(col("rlon1")) * cos(col("th")) -
        sin(col("rlat1")) * sin(col("rlon1")) * sin(col("th"))).as("gy"),
      (cos(col("rlat1")) * sin(col("th"))).as("gz"))
    val dest1 = dest0.select(col("*"),
      (col("ax") * cos(col("delta")) +
        (col("gy") * col("az") - col("gz") * col("ay")) * sin(col("delta")))
        .as("dsx"),
      (col("ay") * cos(col("delta")) +
        (col("gz") * col("ax") - col("gx") * col("az")) * sin(col("delta")))
        .as("dsy"),
      (col("az") * cos(col("delta")) +
        (col("gx") * col("ay") - col("gy") * col("ax")) * sin(col("delta")))
        .as("dsz"))
    val destN = dest1.select(col("*"),
      sqrt(col("dsx") * col("dsx") + col("dsy") * col("dsy") +
        col("dsz") * col("dsz")).as("dn"))
    def unitD(c: String): Column =
      when(col("dn") === 0 || col("dn") === 1, col(c)).otherwise(col(c) / col("dn"))
    val dest = destN.select(col("c_custkey"), col("a"),
      col("mux"), col("muy"), col("muz"),
      unitD("dsx").as("dux"), unitD("dsy").as("duy"), unitD("dsz").as("duz"))
    dest.select(col("c_custkey"),
      round(pmod(col("a"), lit(360)), 4).as("bearing"),
      round(degrees(atan2(col("muz"),
        sqrt(col("mux") * col("mux") + col("muy") * col("muy")))), 4)
        .as("mid_lat"),
      round(degrees(atan2(col("muy"), col("mux"))), 4).as("mid_lon"),
      round(degrees(atan2(col("duz"),
        sqrt(col("dux") * col("dux") + col("duy") * col("duy")))), 4)
        .as("dest_lat"),
      round(degrees(atan2(col("duy"), col("dux"))), 4).as("dest_lon"))
  }

  val q25Sql: String =
    """WITH pts AS (
      |  SELECT c_custkey,
      |    radians((c_custkey % 120) - 60 + 0.25) AS rlat1,
      |    radians(((c_custkey*7) % 300) - 150 + 0.5) AS rlon1,
      |    radians(CAST(c_custkey % 360 AS DOUBLE)) AS th,
      |    CAST(100 + (c_custkey % 500) AS DOUBLE) / 3959.0 AS delta,
      |    radians(40.6892) AS rlat2, radians(-74.0445) AS rlon2
      |  FROM customer
      |), v AS (
      |  SELECT c_custkey, rlat1, rlon1, th, delta,
      |    cos(rlat1)*cos(rlon1) AS ax, cos(rlat1)*sin(rlon1) AS ay, sin(rlat1) AS az,
      |    cos(rlat2)*cos(rlon2) AS bx, cos(rlat2)*sin(rlon2) AS by, sin(rlat2) AS bz
      |  FROM pts
      |), be AS ( -- bearingTo: signed angle between great-circle normals
      |  SELECT c_custkey, rlat1, rlon1, th, delta, ax, ay, az,
      |    ay*bz-az*by AS c1x, az*bx-ax*bz AS c1y, ax*by-ay*bx AS c1z,
      |    ay*1-az*0 AS c2x, az*0-ax*1 AS c2y, ax*0-ay*0 AS c2z
      |  FROM v
      |), be2 AS (
      |  SELECT *, c1y*c2z-c1z*c2y AS ccx, c1z*c2x-c1x*c2z AS ccy,
      |    c1x*c2y-c1y*c2x AS ccz
      |  FROM be
      |), bearing AS (
      |  SELECT c_custkey, rlat1, rlon1, th, delta, ax, ay, az,
      |    degrees(atan2(
      |      CASE WHEN ccx*ax+ccy*ay+ccz*az < 0
      |           THEN -sqrt(ccx*ccx+ccy*ccy+ccz*ccz)
      |           ELSE sqrt(ccx*ccx+ccy*ccy+ccz*ccz) END,
      |      c1x*c2x+c1y*c2y+c1z*c2z)) + 360 AS a
      |  FROM be2
      |), mids AS ( -- midpointTo: unit(p1+p2) -> lat/lon
      |  SELECT c_custkey, ax+bx AS sx, ay+by AS sy, az+bz AS sz FROM v
      |), mid AS (
      |  SELECT c_custkey,
      |    CASE WHEN n = 0 OR n = 1 THEN sx ELSE sx/n END AS ux,
      |    CASE WHEN n = 0 OR n = 1 THEN sy ELSE sy/n END AS uy,
      |    CASE WHEN n = 0 OR n = 1 THEN sz ELSE sz/n END AS uz
      |  FROM (SELECT c_custkey, sx, sy, sz,
      |          sqrt(sx*sx+sy*sy+sz*sz) AS n FROM mids)
      |), dest0 AS ( -- destinationPoint: p1*cos(d) + (gc x p1)*sin(d)
      |  SELECT c_custkey,
      |    sin(rlon1)*cos(th) - sin(rlat1)*cos(rlon1)*sin(th) AS gx,
      |    -cos(rlon1)*cos(th) - sin(rlat1)*sin(rlon1)*sin(th) AS gy,
      |    cos(rlat1)*sin(th) AS gz,
      |    ax, ay, az, delta
      |  FROM bearing
      |), dest1 AS (
      |  SELECT c_custkey,
      |    ax*cos(delta) + (gy*az-gz*ay)*sin(delta) AS sx,
      |    ay*cos(delta) + (gz*ax-gx*az)*sin(delta) AS sy,
      |    az*cos(delta) + (gx*ay-gy*ax)*sin(delta) AS sz
      |  FROM dest0
      |), dest AS (
      |  SELECT c_custkey,
      |    CASE WHEN n = 0 OR n = 1 THEN sx ELSE sx/n END AS ux,
      |    CASE WHEN n = 0 OR n = 1 THEN sy ELSE sy/n END AS uy,
      |    CASE WHEN n = 0 OR n = 1 THEN sz ELSE sz/n END AS uz
      |  FROM (SELECT c_custkey, sx, sy, sz,
      |          sqrt(sx*sx+sy*sy+sz*sz) AS n FROM dest1)
      |)
      |SELECT b.c_custkey,
      |  round(CASE WHEN fmod(b.a, 360) < 0 THEN fmod(b.a, 360) + 360
      |             ELSE fmod(b.a, 360) END, 4) AS bearing,
      |  round(degrees(atan2(m.uz, sqrt(m.ux*m.ux+m.uy*m.uy))), 4) AS mid_lat,
      |  round(degrees(atan2(m.uy, m.ux)), 4) AS mid_lon,
      |  round(degrees(atan2(d.uz, sqrt(d.ux*d.ux+d.uy*d.uy))), 4) AS dest_lat,
      |  round(degrees(atan2(d.uy, d.ux)), 4) AS dest_lon
      |FROM bearing b JOIN mid m USING (c_custkey) JOIN dest d USING (c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---- q29: exact percentiles (median / p90 / p25, linear interp) ----
  def q29(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("median"),
        expr("percentile(l_quantity, 0.9)").as("p90"))

  val q29Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS median,
      |  quantile_cont(l_quantity, 0.9) AS p90
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // ---- q27: full cube + grouping_id (completes §2 grouping sets) ----
  def q27(spark: SparkSession, dir: String): DataFrame = {
    val o = tbl(spark, dir, "orders")
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id(col("o_orderstatus"), col("o_orderpriority")).as("gid"),
        count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("sum_price_cents"))
      .select(
        col("gid"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_price_cents"))
  }

  val q27Sql: String =
    """SELECT grouping(o_orderstatus, o_orderpriority) AS gid,
      |  coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_price_cents
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY gid, status, priority""".stripMargin

  // ---- q26: salted skew join (same result as the plain join; the
  //      shuffle spreads each hot key over 8 sub-keys) ----
  def q26(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedEquiJoin(
      tbl(spark, dir, "lineitem")
        .withColumnRenamed("l_partkey", "p_partkey"),
      tbl(spark, dir, "part").hint("merge"),
      "p_partkey", 8, col("l_orderkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"))

  val q26Sql: String =
    """SELECT p_brand, count(*) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_price_cents
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---- q17: work-list anti join (S1/J5 — main.py:27,128-132) ----
  // "done" flights = user_id % 3 == 0; pending = all \ done.
  // Reads via events() so the TIMESTAMP(NANOS) conf is set even when
  // this query runs first in a fresh session (column pruning drops the
  // ts conversion — the scan reads user_id only).
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val all = events(spark, dir).select(col("user_id")).distinct()
    val done = all.filter(col("user_id") % 3 === 0)
    all.join(done, Seq("user_id"), "left_anti")
  }

  val q17Sql: String =
    """WITH a AS (SELECT DISTINCT user_id FROM events),
      |     done AS (SELECT user_id FROM a WHERE user_id % 3 = 0)
      |SELECT user_id FROM a
      |WHERE NOT EXISTS (SELECT 1 FROM done d WHERE d.user_id = a.user_id)
      |ORDER BY user_id""".stripMargin

  // ---- q18: flight -> aircraft-type broadcast equi join (J4/S2) ----
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("aircraft_type",
        element_at(array(lit("C172"), lit("PA28"), lit("SR20"), lit("BE36")),
          (col("user_id") % 4 + 1).cast("int")))
    ev.join(broadcast(dim), Seq("user_id"))
      .groupBy(col("aircraft_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_flights"))
  }

  val q18Sql: String =
    """WITH dim AS (
      |  SELECT user_id, ['C172','PA28','SR20','BE36'][CAST(user_id % 4 AS INT) + 1] AS aircraft_type
      |  FROM (SELECT DISTINCT user_id FROM events)
      |)
      |SELECT aircraft_type, count(*) AS n_events, count(DISTINCT e.user_id) AS n_flights
      |FROM events e JOIN dim USING (user_id)
      |GROUP BY 1 ORDER BY aircraft_type""".stripMargin

  // ---- q19: NULL-row filter (F2 — main.py:92-96) ----
  // Inject NULLs (value < 100 -> NULL) then na.drop("any"), proving the
  // reference's drop-any-null semantics relationally.
  def q19(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("value", when(col("value") < 100, lit(null)).otherwise(col("value")))
      .na.drop("any")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(e6(col("value"))).as("sum_value_e6"))

  val q19Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*1000000, 0) AS BIGINT)) AS BIGINT) AS sum_value_e6
      |FROM events
      |WHERE value >= 100 AND event_id IS NOT NULL AND ts IS NOT NULL
      |  AND user_id IS NOT NULL AND event_type IS NOT NULL AND props IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- q45: lat/lon string formatting (G14 — LatLon.py:42-49) ----
  // Points derived from customer keys (exact quarter/half-degree
  // doubles — no decimal-rounding ambiguity at 6 places); Java %f and
  // DuckDB printf %f agree.
  def q45(spark: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    tbl(spark, dir, "customer")
      .select(k.as("c_custkey"),
        Geo.formatLatLon(
          (k % 120) - lit(60) + lit(0.25),
          ((k * 7) % 300) - lit(150) + lit(0.5)).as("pos"))
  }

  val q45Sql: String =
    """SELECT c_custkey,
      |  printf('(%f, %f)', (c_custkey % 120) - 60 + 0.25e0,
      |         ((c_custkey * 7) % 300) - 150 + 0.5e0) AS pos
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---- q48: bucketed co-located join (the "repartition()/bucketing
  //      for co-located joins" scale tool) ----
  // Both fact tables are written bucketed+sorted on the join key, so
  // the sort-merge join runs with NO shuffle on either side (PlanSpec
  // asserts it): at 100 TB this is the difference between joining in
  // place and re-shuffling the biggest tables in the warehouse on
  // every query. Values identical to the plain join, so the DuckDB
  // oracle is the unbucketed equivalent.

  /** One-time prep for [[q48]]: both fact tables written bucketed +
    * sorted on the join key to a deterministic per-dataset location
    * under the system temp dir, reused across runs AND across JVMs
    * (a later session re-registers the existing files via
    * external-table DDL — bucket ids are recovered from the bucketed
    * file names, so no rewrite). The tag hashes the source dir path
    * plus the source parquet mtimes: regenerated source data gets a
    * fresh tag and rebuilds instead of silently reusing stale
    * buckets. Returns the two catalog table names.
    *
    * This is SETUP, not query work — a warehouse writes its bucketed
    * facts once and amortizes them over every co-located join, so the
    * bench warm-up calls this and [[q48]] itself spends its time on
    * the join (rewriting both tables into a fresh temp dir inside the
    * timed body would measure parquet writes and litter temp dirs).
    */
  def prepareBucketedTables(spark: SparkSession, dir: String): (String, String) = {
    val mt = Seq("orders", "lineitem")
      .map(t => new java.io.File(s"$dir/$t.parquet").lastModified).mkString(":")
    val tag = java.lang.Integer.toHexString(s"$dir:$mt".hashCode & 0x7fffffff)
    val base = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_bkt_$tag").getAbsolutePath
    def ensure(t: String, key: String): String = {
      val name = s"graft_${t}_bkt_$tag"
      if (!spark.catalog.tableExists(name)) {
        val path = s"$base/$t"
        if (new java.io.File(s"$path/_SUCCESS").exists) {
          val ddl = tbl(spark, dir, t).schema.toDDL
          spark.sql(s"CREATE TABLE $name ($ddl) USING parquet " +
            s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS " +
            s"LOCATION '$path'")
        } else {
          tbl(spark, dir, t).write
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .bucketBy(8, key).sortBy(key)
            .option("path", path).saveAsTable(name)
        }
      }
      name
    }
    (ensure("orders", "o_orderkey"), ensure("lineitem", "l_orderkey"))
  }

  def q48(spark: SparkSession, dir: String): DataFrame = {
    val (ordersBkt, lineitemBkt) = prepareBucketedTables(spark, dir)
    // merge hint: at small SF Spark would broadcast the orders side;
    // the point here is the bucket co-location, so force the
    // sort-merge strategy the tables are laid out for
    spark.table(ordersBkt).hint("merge")
      .join(spark.table(lineitemBkt),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"))
  }

  val q48Sql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_price_cents
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- q53: as-of (temporal) join (§2.5 — the one join shape the
  //      reference's DB reads imply but Spark lacks natively) ----
  // Every event enriched with the latest earlier "mark" (event_id %
  // 10 == 0) of the same user — [[graft.operators.AsOfJoin]]'s
  // tag-union + running-window composition, one shuffle, no join.
  // Timestamps compare as RAW NANOSECOND longs in both engines: the
  // µs-truncated Spark timestamp would tie two ns-distinct instants
  // that DuckDB (native ns) still orders, flipping which mark is
  // "latest". The oracle is a semantically independent formulation
  // (per-event correlated argmax, not a window), so the operator's
  // semantics — not just its algebra — are what's cross-checked.
  def q53(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsNs(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val marks = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ts"), col("event_id").as("mark_id"))
    graft.operators.AsOfJoin
      .asofJoin(ev, marks, Seq("user_id"), "ts", Seq("mark_id"))
      .select(col("event_id"), col("user_id"),
        col("asof.mark_id").as("mark_id"))
  }

  val q53Sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_ns(ts) AS tns FROM events
      |), marks AS (
      |  SELECT user_id, tns, event_id AS mark_id FROM ev
      |  WHERE event_id % 10 = 0
      |)
      |SELECT e.event_id, e.user_id,
      |  (SELECT m.mark_id FROM marks m
      |   WHERE m.user_id = e.user_id AND m.tns <= e.tns
      |   ORDER BY m.tns DESC, m.mark_id DESC LIMIT 1) AS mark_id
      |FROM ev e ORDER BY e.event_id""".stripMargin

  // ---- q87: FORWARD as-of join (the family's missing direction) ----
  // q53 mirrored: every event picks up the NEXT mark at-or-after its
  // time ("what happened next" enrichment — next maintenance after a
  // fault). Same non-join tag-union + window plan, frame looking
  // forward; ties at equal time go to the smallest mark_id in both
  // engines. One shuffle, zero join operators (PlanSpec-pinned like
  // q53).
  def q87(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsNs(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val marks = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ts"), col("event_id").as("mark_id"))
    graft.operators.AsOfJoin
      .asofJoinForward(ev, marks, Seq("user_id"), "ts", Seq("mark_id"))
      .select(col("event_id"), col("user_id"),
        col("asof_next.mark_id").as("mark_id"))
  }

  val q87Sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_ns(ts) AS tns FROM events
      |), marks AS (
      |  SELECT user_id, tns, event_id AS mark_id FROM ev
      |  WHERE event_id % 10 = 0
      |)
      |SELECT e.event_id, e.user_id,
      |  (SELECT m.mark_id FROM marks m
      |   WHERE m.user_id = e.user_id AND m.tns >= e.tns
      |   ORDER BY m.tns ASC, m.mark_id ASC LIMIT 1) AS mark_id
      |FROM ev e ORDER BY e.event_id""".stripMargin

  // ---- q54: range (interval) join (§2.3's other missing join shape) ----
  // Sparse 10-minute windows anchored at "mark" events (event_id %
  // 97 == 0); every window aggregates the same user's events with
  // ts in [start, end). The join keeps an EQUI key (user_id) with the
  // range as a residual predicate, so Spark plans a hash join — never
  // a nested loop (PlanSpec-asserted). NO broadcast hint: the window
  // side grows with the fact (~1% of events), so a forced broadcast
  // would hit the driver/8 GB broadcast wall at scale — Spark's size
  // estimate picks broadcast while the side is small and degrades to
  // a sort-merge join on user_id (range filter on the merged stream)
  // when it isn't. Timestamps compare as raw nanosecond longs in both
  // engines (see q53). Every mark is itself inside its own window, so
  // the inner join drops nothing.
  def q54(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsNs(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val win = ev.filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("mark_id"), col("user_id").as("w_user"),
        col("ts").as("w_start"),
        (col("ts") + lit(600000000000L)).as("w_end"))
    ev.join(win,
        ev("user_id") === col("w_user") &&
          ev("ts") >= col("w_start") && ev("ts") < col("w_end"))
      .groupBy(col("mark_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(e6(col("value"))).as("sum_value_e6"))
  }

  val q54Sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_ns(ts) AS tns, value FROM events
      |), w AS (
      |  SELECT event_id AS mark_id, user_id AS w_user, tns AS w_start,
      |    tns + 600000000000 AS w_end
      |  FROM ev WHERE event_id % 97 = 0
      |)
      |SELECT w.mark_id, count(*) AS n_events,
      |  CAST(sum(CAST(round(e.value*1000000, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_value_e6
      |FROM ev e JOIN w ON e.user_id = w.w_user
      |  AND e.tns >= w.w_start AND e.tns < w.w_end
      |GROUP BY w.mark_id ORDER BY w.mark_id""".stripMargin

  // ---- q60: bounded as-of join (tolerance / max lookback) ----
  // q53's enrichment with the standard staleness bound: a mark older
  // than 24 h does not match — the "don't enrich today's trade with
  // last week's quote" rule. Same single-shuffle no-join plan (the
  // right time rides inside the payload struct; staleness is a
  // post-window projection). The matched mark's own time is part of
  // the checked output, so the oracle verifies WHICH row matched,
  // not just that one did. The oracle's filter-then-argmax LATERAL
  // is provably equivalent to the operator's argmax-then-bound: with
  // a lookback bound an older candidate is strictly more stale, so a
  // stale latest implies every candidate is stale.
  // BOTH engines compare µs-truncated time (ts DIV 1000 here,
  // epoch_us there): DuckDB reads this parquet's ns timestamps at µs
  // precision, so an ns-side comparison would classify ages within
  // 1 µs of the bound differently — truncating both inputs makes the
  // gate robust to any fixture, not just one with no near-boundary
  // ages. (q53 stays the ns-exact showcase; its oracle checks match
  // identity only, never an engine-computed time value.)
  def q60(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsNs(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us"))
    val marks = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ts_us"), col("event_id").as("mark_id"))
    graft.operators.AsOfJoin
      .asofJoinTolerance(ev, marks, Seq("user_id"), "ts_us",
        Seq("mark_id"), 86400000000L)
      .select(col("event_id"), col("user_id"),
        col("asof.mark_id").as("mark_id"),
        col("asof.ts_us").as("mark_ts_us"))
  }

  val q60Sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS tus FROM events
      |), marks AS (
      |  SELECT user_id, tus, event_id AS mark_id FROM ev
      |  WHERE event_id % 10 = 0
      |)
      |SELECT e.event_id, e.user_id, m.mark_id, m.tus AS mark_ts_us
      |FROM ev e LEFT JOIN LATERAL (
      |  SELECT mark_id, tus FROM marks m
      |  WHERE m.user_id = e.user_id AND m.tus <= e.tus
      |    AND m.tus >= e.tus - 86400000000
      |  ORDER BY m.tus DESC, m.mark_id DESC LIMIT 1) m ON TRUE
      |ORDER BY e.event_id""".stripMargin

  // ---- q55: pivot (long->wide reshape; §2.6 companion to q08/q27) ----
  // Order revenue (integer cents) per status x priority, priorities
  // pivoted to columns. The pivot values are ENUMERATED, not
  // discovered: `.pivot(col)` without values runs an extra
  // distinct-collect job and caps at
  // spark.sql.pivotMaxValues (10k) — at 100 TB the discovery pass is
  // a full scan spent learning five constants. With explicit values
  // Catalyst plans two stacked hash aggregates — a pre-aggregate on
  // (status, priority) whose map-side partials collapse each scan
  // partition to <= 15 rows before its shuffle, then a `pivotfirst`
  // reshape on status — so both exchanges carry group-count rows, not
  // data. Semantically identical to the CASE-WHEN conditional sums
  // the oracle spells out; combos with no orders stay NULL in both
  // engines.
  def q55(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(sum(cents(col("o_totalprice"))))

  val q55Sql: String = {
    val cols = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW").map { p =>
      s"""  CAST(sum(CASE WHEN o_orderpriority = '$p'
         |    THEN CAST(round(o_totalprice*100, 0) AS BIGINT) END) AS BIGINT)
         |    AS "$p"""".stripMargin
    }.mkString(",\n")
    s"""SELECT o_orderstatus,
       |$cols
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  }

  // ---- q67: Z-order (Morton) code — the data-layout primitive ----
  // Multi-dimensional clustering for min/max file pruning: quantize
  // two dimensions onto a 2^10 grid and interleave the bits
  // (operators/ZOrder). Writing a table range-partitioned + sorted by
  // this code (ZOrder.zOrderBy) gives every file tight min/max on
  // BOTH source columns — at 100 TB, the difference between pruning
  // to one file and scanning them all for a predicate on either
  // dimension. The (lat, lon) pair is the same key-derived synthetic
  // geometry q16 uses, so the whole computation is a zero-shuffle
  // projection; the oracle replays quantization and interleave in
  // integer arithmetic, exact.
  def q67(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ZOrder
    val k = col("c_custkey")
    tbl(spark, dir, "customer").select(
      k.as("c_custkey"),
      ((k % 120) - 60 + 0.25).as("lat"),
      (((k * 7) % 300) - 150 + 0.5).as("lon"))
      .select(col("c_custkey"),
        ZOrder.quantize(col("lat"), -90, 90, 10).as("cell_x"),
        ZOrder.quantize(col("lon"), -180, 180, 10).as("cell_y"))
      .withColumn("zcode", ZOrder.zOrderCode(
        col("cell_x").cast("int"), col("cell_y").cast("int"), 10))
  }

  val q67Sql: String = {
    def interleave(xc: String, yc: String) = (0 until 10).map { b =>
      s"(($xc >> $b) & 1) * ${1L << (2 * b)} + (($yc >> $b) & 1) * ${1L << (2 * b + 1)}"
    }.mkString(" +\n    ")
    s"""WITH pts AS (
       |  SELECT c_custkey,
       |    CAST((c_custkey % 120) - 60 + 0.25 AS DOUBLE) AS lat,
       |    CAST(((c_custkey * 7) % 300) - 150 + 0.5 AS DOUBLE) AS lon
       |  FROM customer
       |), q AS (
       |  SELECT c_custkey,
       |    least(1023, greatest(0, CAST(floor((lat - -90.0) * 1024.0 / 180.0) AS BIGINT))) AS cell_x,
       |    least(1023, greatest(0, CAST(floor((lon - -180.0) * 1024.0 / 360.0) AS BIGINT))) AS cell_y
       |  FROM pts
       |)
       |SELECT c_custkey, cell_x, cell_y,
       |  CAST(${interleave("cell_x", "cell_y")} AS BIGINT) AS zcode
       |FROM q ORDER BY zcode, c_custkey""".stripMargin
  }

  // ---- q77: Bloom-filter pre-join pruning (the runtime-filter
  //      pattern, user-level) ----
  // A selective dim (one brand ≈ 4% of parts) joined to the fact: the
  // classic case where most fact rows shuffle only to be dropped at
  // the join. Build a deterministic Bloom filter over the filtered
  // dim's keys (native `bloom_build` aggregate: per-task bitsets,
  // OR-merged — the exchange carries bitsets, not keys), broadcast it,
  // and `bloom_probe` the fact as a map-side filter BEFORE the join.
  // Correctness never depends on the filter (false positives still
  // join and drop; false negatives are impossible — spec-asserted),
  // so the oracle is the plain join: the bloom stage must be
  // semantically invisible. At 100 TB the pruned rows never reach an
  // exchange — the shuffle shrinks by the dim's selectivity for a
  // 64 KB broadcast. Spark's InjectRuntimeFilter does this for some
  // shapes; this form is explicit, deterministic, and the filter is a
  // first-class VALUE (persist it, reuse it across queries).
  def q77(spark: SparkSession, dir: String): DataFrame = {
    val dim = tbl(spark, dir, "part")
      .filter(col("p_brand") === "Brand#13")
      .select(col("p_partkey"), col("p_brand"))
    // build job: one 64 KB filter on the driver (a scalar collect,
    // like the IVF/PQ codebooks), re-shipped as a broadcast variable
    val bytes = dim.agg(call_function("bloom_build",
      col("p_partkey"), lit(1 << 16), lit(4))).head().getAs[Array[Byte]](0)
    val bc = spark.sparkContext.broadcast(bytes)
    tbl(spark, dir, "lineitem")
      .filter(bloomProbe(col("l_partkey"), bc))
      .join(broadcast(dim), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        sum(e4(col("l_extendedprice") * (lit(1d) - col("l_discount"))))
          .as("revenue_e4"))
  }

  val q77Sql: String =
    """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand = 'Brand#13'
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---- q84: HyperLogLog distinct-count sketch ----
  // The cardinality member of the sketch family (bloom q77 = member-
  // ship, CMS q83 = frequency): per-group distinct orderkeys from
  // 2^7 = 128 byte registers instead of an exact count-distinct's
  // per-key shuffle state. The native `hll_build` aggregate exchanges
  // one register array per task and merges by elementwise max
  // (idempotent — safe under any partitioning or replay); `hll_card`
  // and `hll_regsum` then read the per-group sketch map-side. The
  // exact count-distinct rides along both as the accuracy witness and
  // as the thing the sketch REPLACES at 100 TB (its Expand+shuffle of
  // every distinct key vs. HLL's 128 bytes/group). The estimator's
  // arithmetic is integer-exact up to two correctly-rounded IEEE ops
  // (see HllUtil), and the fixture keeps every group's cardinality
  // far above the 2.5m linear-counting threshold, so the oracle
  // replays registers, checksum, and estimate bit-for-bit.
  def q84(spark: SparkSession, dir: String): DataFrame = {
    // scale-adaptive fan-out: the witness's multi-distinct
    // Expand + the per-row hll_build digest both run in the scan
    // stage — serial on the one-rowgroup fixture (the sketch's
    // register-partial exchange law is pinned on its own pipeline in
    // ShuffleBudgetSpec and is unaffected); no-op at production
    // scale (ScanFanOut)
    graft.operators.ScanFanOut(tbl(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_orderkey").as("k")))
      .groupBy(col("flag"))
      .agg(countDistinct(col("k")).as("exact_nd"),
        call_function("hll_build", col("k"), lit(7)).as("sk"))
      .select(col("flag"), col("exact_nd"),
        call_function("hll_card", col("sk")).as("hll_nd"),
        call_function("hll_regsum", col("sk")).as("reg_sum"))
  }

  val q84Sql: String = {
    val h = TextQueries.md5IntSql("'hll:' || CAST(k AS VARCHAR)")
    // p=7: m=128 registers, rank rho = 54 - bitlen(h // 128)
    // (61 - p = 54), harmonic sum scaled exactly by 2^54 =
    // 18014398509481984; alpha = 0.7213/(1 + 1.079/128). Every
    // multiply is a power-of-two scale (exact); the one long->double
    // round and one divide are correctly-rounded in both engines.
    // The small-range linear-counting CASE mirrors HllUtil.cardinality
    // so the twins stay semantically aligned under fixture drift; the
    // q84 fixture keeps every group's raw estimate far above the
    // 2.5m = 320 threshold (spec-pinned), so the ln branch — the one
    // float op libm could disagree on in the last ulp — never fires
    // in the compared rows.
    s"""WITH keys AS (
       |  SELECT DISTINCT l_returnflag AS flag, l_orderkey AS k FROM lineitem
       |), r AS (
       |  SELECT flag, ($h) % 128 AS idx,
       |    MAX(CASE WHEN ($h) // 128 = 0 THEN 54
       |        ELSE 54 - length(bin(($h) // 128)) END) AS rho
       |  FROM keys GROUP BY 1, 2
       |), agg AS (
       |  SELECT flag,
       |    SUM(1::BIGINT << (54 - rho)) AS z_filled,
       |    COUNT(*) AS n_filled,
       |    CAST(SUM((idx + 1) * rho) AS BIGINT) AS reg_sum
       |  FROM r GROUP BY 1
       |), est AS (
       |  SELECT flag, reg_sum, n_filled,
       |    (0.7213 / (1.0 + 1.079 / 128.0)) * 128.0 * 128.0 *
       |      18014398509481984.0 /
       |      CAST(z_filled + (128 - n_filled) * 18014398509481984 AS DOUBLE)
       |      AS raw
       |  FROM agg
       |), ex AS (
       |  SELECT l_returnflag AS flag,
       |    count(DISTINCT l_orderkey) AS exact_nd
       |  FROM lineitem GROUP BY 1
       |)
       |SELECT ex.flag, ex.exact_nd,
       |  CAST(FLOOR(CASE WHEN raw <= 320.0 AND n_filled < 128
       |    THEN 128.0 * ln(128.0 / (128 - n_filled))
       |    ELSE raw END) AS BIGINT) AS hll_nd,
       |  reg_sum
       |FROM est JOIN ex USING (flag)
       |ORDER BY flag""".stripMargin
  }

  // ---- q89: HDR-histogram quantile sketch (p50/p90/p99 per group) ----
  // The quantile member of the sketch family (bloom q77 = membership,
  // CMS q83 = frequency, HLL q84 = cardinality): per-group order
  // statistics from a log2-bucketed histogram instead of an exact
  // quantile's full sort. Prices are bucketed as integer CENTS by
  // (scale, mantissa) where scale s = max(bitlen-1-6, 0) and mantissa
  // m = cents >> s — the top 7 bits of the value, i.e. an HDR
  // histogram with 64 sub-buckets per octave (relative error <= 1/64
  // ~ 1.6%). EVERY bucket op is integer bit arithmetic (bitlen via
  // length(bin(n)), >>, <<), so Spark and DuckDB agree to the bit —
  // no libm anywhere, unlike a gamma-log DDSketch whose floor(ln x /
  // ln gamma) flips at bucket boundaries on a 1-ulp disagreement.
  //
  // Estimate for percentile p: rank = ceil(p*n) (integer form
  // (n*p + 99) DIV 100), walk the cumulative bucket counts to the
  // first bucket with cum >= rank, report the bucket midpoint
  // (lo+hi) DIV 2. The exact rank-th value rides along as the
  // accuracy witness (err_e4 column) — and is the thing the sketch
  // REPLACES at 100 TB: exact per-group quantiles need a full sort
  // of every group (or a multi-pass select), while the sketch's
  // state is <= ~64*58 bounded buckets per group regardless of row
  // count, merged by count addition under any partitioning / AQE
  // replay. One narrow shuffle of (group, s, m, partial count) rows;
  // the witness's sort is the only wide work and is dropped in
  // production (spec-pinned merge invariance in QuantileSketchSpec).
  // Geometry and extraction live in ONE place —
  // operators/QuantileSketch.scala — shared with the streaming twin
  // (SketchStream).
  def q89(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QuantileSketch
    val base = tbl(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("n"))
    val buckets = QuantileSketch.bucketHistogram(base, col("n"), Seq("flag"))
    val est = QuantileSketch.quantiles(buckets, Seq("flag"), Seq(50, 90, 99))
      .withColumnRenamed("est", "est_cents")
    // exact witness: the rank-th smallest cents per group (full sort —
    // the cost the sketch exists to avoid); renamed columns keep the
    // est/exact join free of same-lineage ambiguity
    val exact = base
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("flag")).orderBy(col("n"))))
      .select(col("flag").as("wflag"), col("n").as("wn"), col("rn"))
    est.join(exact,
        col("flag") === col("wflag") && col("rank") === col("rn"))
      .select(col("flag"), col("p"), col("total").as("n_rows"),
        col("est_cents"), col("wn").as("exact_cents"),
        expr("abs(est_cents - wn) * 10000 DIV wn").as("err_e4"))
  }

  val q89Sql: String =
    """WITH v AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS n
      |  FROM lineitem
      |), keyed AS (
      |  SELECT flag, n,
      |    CAST(greatest(length(bin(n)) - 1 - 6, 0) AS INT) AS s
      |  FROM v
      |), b AS (
      |  SELECT flag, s, n >> s AS m, count(*) AS c
      |  FROM keyed GROUP BY 1, 2, 3
      |), bk AS (
      |  SELECT flag, s, m, c, m << s AS lo, ((m + 1) << s) - 1 AS hi
      |  FROM b
      |), cw AS (
      |  SELECT flag, lo, hi,
      |    CAST(sum(c) OVER (PARTITION BY flag ORDER BY lo
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) AS total
      |  FROM bk
      |), est AS (
      |  SELECT flag, p, total, (total * p + 99) // 100 AS rank,
      |    min((lo + hi) // 2) FILTER (
      |      WHERE cum >= (total * p + 99) // 100) AS est_cents
      |  FROM cw CROSS JOIN (SELECT unnest([50, 90, 99]) AS p) ps
      |  GROUP BY 1, 2, 3
      |), ex AS (
      |  SELECT flag, n,
      |    row_number() OVER (PARTITION BY flag ORDER BY n) AS rn
      |  FROM v
      |)
      |SELECT est.flag, CAST(p AS BIGINT) AS p, total AS n_rows,
      |  CAST(est_cents AS BIGINT) AS est_cents, n AS exact_cents,
      |  CAST(abs(est_cents - n) * 10000 // n AS BIGINT) AS err_e4
      |FROM est JOIN ex ON est.flag = ex.flag AND est.rank = ex.rn
      |ORDER BY est.flag, p""".stripMargin

  // ---- q96: sketch re-aggregation — rollup over STORED sketches ----
  // The second half of q84's warehouse pattern. q84 builds sketches
  // from raw; q96 is the query that makes storing them worthwhile:
  // the fine-grained per-(flag, linestatus) sketch table — what a
  // nightly job persists — is re-aggregated to per-flag with
  // `hll_merge` (elementwise register max), and the raw fact table
  // is never read again. At 100 TB every rollup after the first
  // build runs over KBs of sketches instead of the full corpus —
  // legal ONLY for a max-merged sketch like HLL (idempotent:
  // overlapping key sets across fine groups cannot double-count,
  // which is exactly why the fine-grained exact counts CANNOT be
  // rolled up this way). The oracle rebuilds the per-flag register
  // grid directly from raw keys — max associativity means the
  // merged grid must match it byte-for-byte (reg_sum pins every
  // register, hll_nd the estimator arithmetic).
  def q96(spark: SparkSession, dir: String): DataFrame = {
    // the stored fine-grained sketch table (one 132-byte sketch per
    // (flag, linestatus)) — built once here, persisted in production
    val fine = tbl(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_linestatus").as("status"), col("l_orderkey").as("k"))
      .groupBy(col("flag"), col("status"))
      .agg(call_function("hll_build", col("k"), lit(7)).as("sk"))
    // the rollup: sketches only, no raw data
    fine.groupBy(col("flag"))
      .agg(count(lit(1)).as("n_parts"),
        call_function("hll_merge", col("sk")).as("msk"))
      .select(col("flag"), col("n_parts"),
        call_function("hll_card", col("msk")).as("hll_nd"),
        call_function("hll_regsum", col("msk")).as("reg_sum"))
  }

  val q96Sql: String = {
    val h = TextQueries.md5IntSql("'hll:' || CAST(k AS VARCHAR)")
    // direct per-flag replay of the register grid (q84's arithmetic,
    // see the comment there) + the fine-group count; max-merge
    // associativity is what makes direct == merged
    s"""WITH keys AS (
       |  SELECT DISTINCT l_returnflag AS flag, l_orderkey AS k FROM lineitem
       |), parts AS (
       |  SELECT l_returnflag AS flag,
       |    count(DISTINCT l_linestatus) AS n_parts
       |  FROM lineitem GROUP BY 1
       |), r AS (
       |  SELECT flag, ($h) % 128 AS idx,
       |    MAX(CASE WHEN ($h) // 128 = 0 THEN 54
       |        ELSE 54 - length(bin(($h) // 128)) END) AS rho
       |  FROM keys GROUP BY 1, 2
       |), agg AS (
       |  SELECT flag,
       |    SUM(1::BIGINT << (54 - rho)) AS z_filled,
       |    COUNT(*) AS n_filled,
       |    CAST(SUM((idx + 1) * rho) AS BIGINT) AS reg_sum
       |  FROM r GROUP BY 1
       |), est AS (
       |  SELECT flag, reg_sum, n_filled,
       |    (0.7213 / (1.0 + 1.079 / 128.0)) * 128.0 * 128.0 *
       |      18014398509481984.0 /
       |      CAST(z_filled + (128 - n_filled) * 18014398509481984 AS DOUBLE)
       |      AS raw
       |  FROM agg
       |)
       |SELECT est.flag, parts.n_parts,
       |  CAST(FLOOR(CASE WHEN raw <= 320.0 AND n_filled < 128
       |    THEN 128.0 * ln(128.0 / (128 - n_filled))
       |    ELSE raw END) AS BIGINT) AS hll_nd,
       |  reg_sum
       |FROM est JOIN parts ON est.flag = parts.flag
       |ORDER BY est.flag""".stripMargin
  }

  // ---- q94: date-partitioned layout + partition-pruned scan ----
  // The scan-side complement to q48's bucketing: events laid out
  // hive-partitioned by event date — the layout every production
  // fact table gets (date/tenant/source) — and read back through a
  // literal date-range predicate. The predicate must resolve at FILE
  // LISTING time (PartitionFilters on the scan; RuntimePruningSpec
  // pins the mechanism, PartitionLayoutSpec pins THIS query): at
  // 100 TB a week out of a multi-year table is the difference
  // between reading ~0.3 % of the files and reading all of them —
  // partition pruning is the single biggest I/O lever a warehouse
  // layout has, ahead of any operator choice. The aggregate on top
  // is deliberately thin (per-day/type counts + exact user
  // distinct) so the measured cost IS the pruned scan.

  /** One-time prep for [[q94]]: events rewritten hive-partitioned by
    * `event_date` under the system temp dir, keyed by the source
    * parquet's mtime (regenerated data → fresh tag → rebuild; the
    * q48/q73 staging contract). `repartition(event_date)` before the
    * write keeps it one file per date directory instead of
    * tasks × dates small files — the small-files discipline
    * Compaction exists to repair, applied at write time.
    */
  def prepareDatePartitionedEvents(spark: SparkSession, dir: String): String = {
    val mt = new java.io.File(s"$dir/events.parquet").lastModified
    val tag = java.lang.Integer.toHexString(s"$dir:$mt".hashCode & 0x7fffffff)
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_evdate_$tag").getAbsolutePath
    if (!new java.io.File(s"$path/_SUCCESS").exists)
      events(spark, dir)
        .withColumn("event_date", to_date(col("ts")))
        .repartition(col("event_date"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("event_date").parquet(path)
    path
  }

  def q94(spark: SparkSession, dir: String): DataFrame = {
    val path = prepareDatePartitionedEvents(spark, dir)
    spark.read.parquet(path)
      .filter(col("event_date").between(lit("2024-01-08"), lit("2024-01-14")))
      .groupBy(date_format(col("event_date"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(e6(col("value"))).as("sum_value_e6"),
        countDistinct(col("user_id")).as("n_users"))
  }

  val q94Sql: String =
    """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*1000000, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_value_e6,
      |  count(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP)::DATE
      |  BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  // ---- q97: conversion funnel (view -> click -> purchase) ----
  // The event-analytics staple on top of the engine's event table:
  // how many users reached each ORDERED stage — a click only counts
  // after that user's first view, a purchase only after that user's
  // first qualifying click. BOTH engines compare and subtract
  // µs-TRUNCATED time (ts DIV 1000 here, epoch_us there) — q60's
  // rule, not q53's: this query ARITHMETICS on the timestamps
  // (sum of tp-tv), and with DuckDB reading this parquet's ns
  // column at µs precision, an ns-side subtraction loses a borrow
  // µs for every user whose purchase sub-µs part is below the
  // view's (measured: 73 of 150 users at sf0.01). Truncating both
  // inputs makes comparisons AND differences engine-exact.
  //
  // Shape: running per-user window mins compute "first view so far" /
  // "first qualifying click so far", so each event's stage
  // qualification is decided in ONE pass over one hash-partition of
  // the events — no self-joins, no per-stage re-scans (the naive
  // funnel is k joins for k stages). ONE data shuffle total: the
  // window's user partitioning is reused by the per-user aggregate
  // (same key), and the final reduction to a single stats row is a
  // 150-rows-per-task partial. The oracle is deliberately the OTHER
  // formulation (per-stage filtered joins) so the window algebra is
  // checked against independent semantics, not itself.
  def q97(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsNs(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts DIV 1000").as("ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = ev
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("qc",
        when(col("event_type") === "click" && col("ts") > col("t_view"),
          col("ts")))
      .withColumn("t_click", min(col("qc")).over(w))
      .withColumn("qp",
        when(col("event_type") === "purchase" && col("ts") > col("t_click"),
          col("ts")))
    staged.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("tv"),
        min(col("qc")).as("tc"),
        min(col("qp")).as("tp"))
      .agg(count(lit(1)).as("n_users"),
        count(col("tv")).as("n_view"),
        count(col("tc")).as("n_click_after_view"),
        count(col("tp")).as("n_purchase_after_click"),
        sum(when(col("tp").isNotNull,
          col("tp") - col("tv"))).as("sum_conv_us"))
  }

  val q97Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tns
      |  FROM events
      |), u AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN tns END) AS tv
      |  FROM ev GROUP BY 1
      |), c AS (
      |  SELECT e.user_id, min(e.tns) AS tc
      |  FROM ev e JOIN u USING (user_id)
      |  WHERE e.event_type = 'click' AND e.tns > u.tv
      |  GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, min(e.tns) AS tp
      |  FROM ev e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.tns > c.tc
      |  GROUP BY 1
      |)
      |SELECT count(*) AS n_users, count(u.tv) AS n_view,
      |  count(c.tc) AS n_click_after_view,
      |  count(p.tp) AS n_purchase_after_click,
      |  CAST(sum(CASE WHEN p.tp IS NOT NULL
      |    THEN p.tp - u.tv END) AS BIGINT) AS sum_conv_us
      |FROM u
      |LEFT JOIN c USING (user_id)
      |LEFT JOIN p USING (user_id)""".stripMargin

  // ---- q98: cohort retention (weekly, first-seen cohorts) ----
  // The other event-analytics staple: users grouped by first-seen
  // date, counted by how many weeks after their cohort day they were
  // still active. Date granularity, so the µs-normalized timestamp
  // is exact (q15's rule).
  //
  // Shape chosen for the calendar bound, not the data bound: per-user
  // distinct-activity-dates collapse via collect_set in the FIRST
  // (and only) per-user shuffle — the set is bounded by the calendar
  // window (<= 30 here, <= 365/yr in production), so partial
  // aggregation dedups map-side and the exchange carries one bounded
  // array per user instead of one row per (user, day). The cohort
  // day is then array_min — free, no second per-user pass — and the
  // only other wide work is the tiny (cohort, week) count. A
  // distinct-then-window formulation would shuffle (user, day) rows
  // twice; this does it once.
  def q98(spark: SparkSession, dir: String): DataFrame = {
    val sets = events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("d")).as("ds"))
    sets.select(col("user_id"), array_min(col("ds")).as("cd"),
        explode(col("ds")).as("d"))
      .groupBy(date_format(col("cd"), "yyyy-MM-dd").as("cohort_day"),
        expr("CAST(datediff(d, cd) DIV 7 AS BIGINT)").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  val q98Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP)::DATE AS d
      |  FROM events
      |), c AS (
      |  SELECT user_id, d, min(d) OVER (PARTITION BY user_id) AS cd
      |  FROM ud
      |)
      |SELECT strftime(cd, '%Y-%m-%d') AS cohort_day,
      |  CAST((d - cd) // 7 AS BIGINT) AS week_offset,
      |  count(DISTINCT user_id) AS n_users
      |FROM c GROUP BY 1, 2 ORDER BY cohort_day, week_offset""".stripMargin

  // ---- q99: full outer join (SURVEY §2.3 "standard joins" charter) ----
  // The last classic join type missing from the inventory. Per-nation
  // debtor rollups from BOTH dims, full-outer-joined on nationkey.
  // The thresholds are deliberately asymmetric — customers at the
  // extreme-debt tail (< -980, ~0.2%), suppliers at any debt (< 0,
  // ~9%) — so at BOTH gate SFs some nations appear on only one side
  // (sf0.01: 3 customer-only + 4 supplier-only; sf0.1: 2 + 6 with 17
  // overlapping): genuine both-side NULLs, preserved (not coalesced
  // to 0) so the oracle checks the outer semantics, not a
  // papered-over inner join. The nation name attaches AFTER the
  // outer join via a broadcast lookup on the coalesced key.
  //
  // Scale posture: both inputs are pre-aggregated to ≤ |nation| rows
  // before the join, so the full outer join — which Spark must
  // sort-merge (broadcast full-outer can't null-extend the broadcast
  // side) — moves nation-count rows, not table-count rows. At 100 TB
  // the aggregates are the only big shuffles and they combine
  // map-side.
  def q99(spark: SparkSession, dir: String): DataFrame = {
    val cd = tbl(spark, dir, "customer").filter(col("c_acctbal") < -980)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("cust_debtors"),
        sum(cents(col("c_acctbal"))).as("cust_debt_cents"))
    val sd = tbl(spark, dir, "supplier").filter(col("s_acctbal") < 0)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("supp_debtors"),
        sum(cents(col("s_acctbal"))).as("supp_debt_cents"))
    val nation = tbl(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    cd.join(sd, cd("c_nationkey") === sd("s_nationkey"), "full_outer")
      .withColumn("nationkey",
        coalesce(col("c_nationkey"), col("s_nationkey")))
      .join(broadcast(nation), col("nationkey") === col("n_nationkey"))
      .select(col("nationkey"), col("n_name"), col("cust_debtors"),
        col("cust_debt_cents"), col("supp_debtors"),
        col("supp_debt_cents"))
  }

  val q99Sql: String =
    """WITH cd AS (
      |  SELECT c_nationkey, count(*) AS cust_debtors,
      |    CAST(sum(CAST(round(c_acctbal*100, 0) AS BIGINT)) AS BIGINT)
      |      AS cust_debt_cents
      |  FROM customer WHERE c_acctbal < -980 GROUP BY c_nationkey
      |), sd AS (
      |  SELECT s_nationkey, count(*) AS supp_debtors,
      |    CAST(sum(CAST(round(s_acctbal*100, 0) AS BIGINT)) AS BIGINT)
      |      AS supp_debt_cents
      |  FROM supplier WHERE s_acctbal < 0 GROUP BY s_nationkey
      |)
      |SELECT coalesce(cd.c_nationkey, sd.s_nationkey) AS nationkey,
      |  n.n_name, cd.cust_debtors, cd.cust_debt_cents,
      |  sd.supp_debtors, sd.supp_debt_cents
      |FROM cd FULL OUTER JOIN sd ON cd.c_nationkey = sd.s_nationkey
      |JOIN nation n ON n.n_nationkey = coalesce(cd.c_nationkey, sd.s_nationkey)
      |ORDER BY nationkey""".stripMargin

  // ---- q100: correlated scalar subquery (SURVEY §2.3 charter) ------
  // Customers above their own nation's average balance — the textbook
  // correlated-scalar shape a warehouse user writes weekly. Expressed
  // as a correlated subquery on purpose (`scalar()` over an `outer()`
  // reference): the point is that Catalyst's
  // RewriteCorrelatedScalarSubquery de-correlates it into an
  // aggregate + join (PlanSpec pins that no per-row subquery
  // execution survives into the physical plan — the naive form would
  // be O(n) subqueries). Balances compare as integer cents: the
  // per-nation avg is one IEEE division of exactly-representable
  // longs, bit-identical in both engines, so no boundary row can
  // flip between Spark and DuckDB.
  def q100(spark: SparkSession, dir: String): DataFrame = {
    val customer = tbl(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        cents(col("c_acctbal")).as("bal_cents"), col("c_nationkey"))
    val nationAvg = customer.as("c2")
      .filter(col("c2.c_nationkey") === col("c.c_nationkey").outer())
      .select(avg(col("c2.bal_cents"))).scalar()
    customer.as("c").filter(col("bal_cents") > nationAvg)
      .select(col("c_custkey"), col("c_name"), col("bal_cents"))
  }

  val q100Sql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_name,
      |    CAST(round(c_acctbal*100, 0) AS BIGINT) AS bal_cents, c_nationkey
      |  FROM customer
      |)
      |SELECT c_custkey, c_name, bal_cents
      |FROM c
      |WHERE bal_cents > (SELECT avg(c2.bal_cents) FROM c c2
      |                   WHERE c2.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  // ---- q101: JDBC round-trip (S1/S6 as a LIVE path, not a footnote) ----
  // The reference's real I/O boundary is a MySQL connection (work-list
  // scan main.py:27, batched upsert FlightAnalysis.py:400-431). This
  // query drives the engine's JDBC source AND upsert sink end-to-end
  // against an embedded in-memory Derby: load the customer dim through
  // the batched upsert (twice — the second pass re-upserts a slice, so
  // the UPDATE branch runs, converging to the same state), then read
  // it back through the PARTITIONED JDBC source with the nation
  // predicate pushed into the database, exactly the reference's
  // `WHERE approach_analysis = 0` shape. The oracle never sees Derby:
  // it computes the same answer from the parquet directly, so any
  // row torn, typed, or dropped by the JDBC path hash-fails.
  //
  // Scale posture: the partitioned read is 8 stride predicates on the
  // key (each task one slice-sized connection); the upsert is
  // per-partition batched statements. In-memory Derby makes this a
  // local[k]-only demonstration (executors share the JVM) — against a
  // networked RDBMS the same code fans out, bounded by the DB's
  // connection budget, not Spark (see sources/Jdbc.scala). Like
  // q43/q81 (documented precedent), query CONSTRUCTION runs work:
  // the DDL + upsert happen eagerly so the returned frame is the
  // readback.
  //
  // Under a multi-process master (local-cluster), the embedded
  // in-memory store is per-JVM — executors can't see the driver's
  // database — so the SAME upsert/read code runs against it through
  // [[graft.tools.JdbcProxy]] (a socket server in the driver JVM;
  // executors connect via the jdbc:graftproxy driver), making the
  // round-trip a genuine out-of-process database exercise instead of
  // a skip.
  def q101(spark: SparkSession, dir: String): DataFrame = {
    val embedded = "jdbc:derby:memory:graftq101;create=true"
    val url =
      if (spark.sparkContext.master.startsWith("local-cluster"))
        graft.tools.JdbcProxy.serve(embedded)
      else embedded
    // DDL always runs driver-side on the embedded store (the proxy
    // server lives in this JVM and shares it)
    val c = java.sql.DriverManager.getConnection(embedded)
    try {
      val st = c.createStatement()
      try st.execute("DROP TABLE customer_j")
      catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE customer_j (c_custkey BIGINT PRIMARY KEY, " +
        "c_name VARCHAR(32), bal_cents BIGINT, c_nationkey INT)")
      st.close()
    } finally c.close()
    val cust = tbl(spark, dir, "customer").select(col("c_custkey"),
      col("c_name"), cents(col("c_acctbal")).as("bal_cents"),
      col("c_nationkey"))
    graft.sinks.JdbcUpsert.upsert(cust.repartition(8), url, "customer_j",
      Seq("c_custkey"))
    graft.sinks.JdbcUpsert.upsert(cust.filter(col("c_nationkey") < 5), url,
      "customer_j", Seq("c_custkey"))
    val hi = cust.agg(max(col("c_custkey"))).head.getLong(0) + 1
    graft.sources.Jdbc
      .readPartitioned(spark, url, "customer_j", "c_custkey", 0L, hi, 8)
      .filter(col("C_NATIONKEY") < 10)
      .select(col("C_CUSTKEY").as("c_custkey"), col("C_NAME").as("c_name"),
        col("BAL_CENTS").as("bal_cents"),
        col("C_NATIONKEY").as("c_nationkey"))
  }

  val q101Sql: String =
    """SELECT c_custkey, c_name,
      |  CAST(round(c_acctbal*100, 0) AS BIGINT) AS bal_cents, c_nationkey
      |FROM customer WHERE c_nationkey < 10 ORDER BY c_custkey""".stripMargin

  // ---- q102: bag-semantics set operations (INTERSECT/EXCEPT ALL) ----
  // q13 covers the DISTINCT set ops; the ALL variants are a separate
  // operator family with different plans — Spark implements them via
  // replicate-count aggregates + Generate (no row dedup), and a
  // warehouse user reaches for them whenever multiplicity IS the
  // signal (here: per-nation multiset overlap of customer vs supplier
  // rosters — min(count_c, count_s) copies survive INTERSECT ALL,
  // count_c - count_s survive EXCEPT ALL). Output aggregates the
  // surviving bags to (op, nk, n) so the compare is deterministic.
  //
  // Scale posture: both ALL variants shuffle once on the value key
  // with map-side partial counts (the replicate step happens after
  // the aggregate, on count-sized rows) — same law as any groupBy.
  def q102(spark: SparkSession, dir: String): DataFrame = {
    val cn = tbl(spark, dir, "customer")
      .select(col("c_nationkey").cast("int").as("nk"))
    val sn = tbl(spark, dir, "supplier")
      .select(col("s_nationkey").cast("int").as("nk"))
    val i = cn.intersectAll(sn).groupBy(col("nk"))
      .agg(count(lit(1)).as("n")).select(lit("intersect_all").as("op"),
        col("nk"), col("n"))
    val e = cn.exceptAll(sn).groupBy(col("nk"))
      .agg(count(lit(1)).as("n")).select(lit("except_all").as("op"),
        col("nk"), col("n"))
    i.union(e)
  }

  val q102Sql: String =
    """WITH cn AS (SELECT CAST(c_nationkey AS INTEGER) AS nk FROM customer),
      |sn AS (SELECT CAST(s_nationkey AS INTEGER) AS nk FROM supplier),
      |i AS (SELECT nk FROM cn INTERSECT ALL SELECT nk FROM sn),
      |e AS (SELECT nk FROM cn EXCEPT ALL SELECT nk FROM sn)
      |SELECT 'intersect_all' AS op, nk, count(*) AS n FROM i GROUP BY nk
      |UNION ALL
      |SELECT 'except_all' AS op, nk, count(*) AS n FROM e GROUP BY nk
      |ORDER BY op, nk""".stripMargin

  // ---- q104: column profiling (data-quality pass) --------------------
  // The standard first query against any new table: per-column row/
  // null/distinct counts and min/max, in long format. One scan, one
  // aggregate — every per-column stat is an expression over the same
  // pass (count(col) counts non-nulls; the nullable example column is
  // nullif(l_discount, 0) since the synthetic data ships null-free).
  // Numerics travel as exact integer cents/e4 so min/max/distinct
  // hash identically cross-engine.
  //
  // Scale posture: count_distinct adds one expand-style exchange per
  // distinct column; at 100 TB swap them for the HLL sketch (q84) —
  // the shape is otherwise a single map-side-combined aggregate.
  def q104(spark: SparkSession, dir: String): DataFrame = {
    // scale-adaptive fan-out: three multi-distinct aggregates
    // Expand the 600k-row fact 4x through the partial-agg stage, and
    // the fixture scan is one unsplittable rowgroup — the whole
    // profile ran in one task. The narrow 3-column projection crosses
    // one exchange; no-op at production scale (see ScanFanOut).
    val li = graft.operators.ScanFanOut(tbl(spark, dir, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"),
        col("l_discount")))
    val p = li.agg(
      count(lit(1)).as("n_rows"),
      count(col("l_quantity")).as("qty_n"),
      countDistinct(col("l_quantity")).as("qty_d"),
      min(col("l_quantity")).cast("long").as("qty_min"),
      max(col("l_quantity")).cast("long").as("qty_max"),
      count(cents(col("l_extendedprice"))).as("price_n"),
      countDistinct(cents(col("l_extendedprice"))).as("price_d"),
      min(cents(col("l_extendedprice"))).as("price_min"),
      max(cents(col("l_extendedprice"))).as("price_max"),
      count(nullif(e4(col("l_discount")), lit(0L))).as("disc_n"),
      countDistinct(nullif(e4(col("l_discount")), lit(0L))).as("disc_d"),
      min(nullif(e4(col("l_discount")), lit(0L))).as("disc_min"),
      max(nullif(e4(col("l_discount")), lit(0L))).as("disc_max"))
    p.selectExpr(
      """stack(3,
        |'l_quantity', n_rows, n_rows - qty_n, qty_d, qty_min, qty_max,
        |'l_extendedprice_cents', n_rows, n_rows - price_n, price_d, price_min, price_max,
        |'l_discount_nz_e4', n_rows, n_rows - disc_n, disc_d, disc_min, disc_max)
        | AS (column, n_rows, n_null, n_distinct, min_v, max_v)""".stripMargin)
  }

  val q104Sql: String =
    """WITH p AS (
      |  SELECT count(*) AS n_rows,
      |    count(l_quantity) AS qty_n,
      |    count(DISTINCT l_quantity) AS qty_d,
      |    CAST(min(l_quantity) AS BIGINT) AS qty_min,
      |    CAST(max(l_quantity) AS BIGINT) AS qty_max,
      |    count(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS price_n,
      |    count(DISTINCT CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS price_d,
      |    min(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS price_min,
      |    max(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS price_max,
      |    count(nullif(CAST(round(l_discount*10000, 0) AS BIGINT), 0)) AS disc_n,
      |    count(DISTINCT nullif(CAST(round(l_discount*10000, 0) AS BIGINT), 0)) AS disc_d,
      |    min(nullif(CAST(round(l_discount*10000, 0) AS BIGINT), 0)) AS disc_min,
      |    max(nullif(CAST(round(l_discount*10000, 0) AS BIGINT), 0)) AS disc_max
      |  FROM lineitem
      |)
      |SELECT u.* FROM p, LATERAL (
      |  SELECT 'l_quantity' AS "column", n_rows, n_rows - qty_n AS n_null,
      |    qty_d AS n_distinct, qty_min AS min_v, qty_max AS max_v
      |  UNION ALL
      |  SELECT 'l_extendedprice_cents', n_rows, n_rows - price_n,
      |    price_d, price_min, price_max
      |  UNION ALL
      |  SELECT 'l_discount_nz_e4', n_rows, n_rows - disc_n,
      |    disc_d, disc_min, disc_max
      |) u
      |ORDER BY "column"""".stripMargin

  // ---- q106: join-key skew audit (the measure-before-salt probe) ----
  // The operational prerequisite for every skew decision in DEPLOY.md:
  // before salting a join or sizing AQE's skew thresholds, MEASURE the
  // key distribution. One aggregate over the key column (map-side
  // combined, the q01 cost law) produces the per-key counts; everything
  // after runs on |distinct keys| rows: the top-10 heavy hitters
  // (TakeOrdered — no global sort of the counts), total/distinct/max,
  // and the skew ratio max/mean as exact integer x1000, computed as
  // max * 1000 DIV (total DIV d) — i.e. against the FLOOR of the mean.
  // Divide-first matters: the algebraic form max * d * 1000 / total
  // overflows BIGINT exactly at the scale this audit is pitched for
  // (d ~1e9 keys x max ~1e7 rows -> 1e19 > 2^63, an ANSI-mode
  // ArithmeticException in Spark and a BIGINT error in DuckDB),
  // while max * 1000 only overflows past 9e15 rows on ONE key. Both
  // engines run the identical integer sequence, so the compare stays
  // hash-exact; the floor-mean denominator overstates skew by < 1
  // part in mean, which a x1000 readout cannot even resolve once
  // mean >= 1000.
  // skew_x1000 = 1000 means perfectly uniform; AQE's default skew
  // trigger (5x median partition) is roughly skew_x1000 > 5000 when
  // keys spread evenly over partitions. At 100 TB this is the cheap
  // scout job you run FIRST; its output is catalog-sized and feeds
  // q26's salting fan-out and the JDBC stride design (JdbcSpec's skew
  // probe) directly.
  def q106(spark: SparkSession, dir: String): DataFrame = {
    val counts = tbl(spark, dir, "events")
      .select(col("user_id")) // one-column scan: pruned at the reader
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .persist() // |keys| rows; stats + top-10 are sibling consumers
    counts.count()
    val stats = counts.agg(
      sum(col("cnt")).as("total"), count(lit(1)).as("d"),
      max(col("cnt")).as("mx"))
    val top = counts.orderBy(col("cnt").desc, col("user_id")).limit(10)
      .select(lit("top_key").as("metric"), col("user_id").as("key_id"),
        col("cnt").as("n"))
    val summary = stats.selectExpr(
      """stack(4,
        |'total_rows', CAST(NULL AS BIGINT), total,
        |'distinct_keys', CAST(NULL AS BIGINT), d,
        |'max_cnt', CAST(NULL AS BIGINT), mx,
        |'skew_x1000', CAST(NULL AS BIGINT), mx * 1000L div (total div d))
        | AS (metric, key_id, n)""".stripMargin)
    top.unionAll(summary)
  }

  val q106Sql: String =
    """WITH counts AS (
      |  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
      |), stats AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS d,
      |    max(cnt) AS mx
      |  FROM counts
      |), top AS (
      |  SELECT user_id, cnt FROM counts ORDER BY cnt DESC, user_id LIMIT 10
      |)
      |SELECT metric, key_id, n FROM (
      |  SELECT 'top_key' AS metric, user_id AS key_id, cnt AS n FROM top
      |  UNION ALL
      |  SELECT 'total_rows', NULL, total FROM stats
      |  UNION ALL
      |  SELECT 'distinct_keys', NULL, d FROM stats
      |  UNION ALL
      |  SELECT 'max_cnt', NULL, mx FROM stats
      |  UNION ALL
      |  SELECT 'skew_x1000', NULL, mx * 1000 // (total // d) FROM stats
      |) u
      |ORDER BY metric, key_id""".stripMargin

  // ---- q139: measured salting — q106's scout FEEDING q26's join ----
  // The skew audit (q106) and the salted join (q26) alone leave the
  // salt count a hand-picked constant. This query composes them: measure the fact
  // side's key distribution (Skew.measureSkew — one map-side-combined
  // aggregate, a stats row + a BOUNDED hot-key list driver-side),
  // derive the fan-out (salts = ceil(max/mean), clamped) and the hot
  // set (>= 5x floor mean), then join with hot-key-ONLY salting
  // (Skew.saltedJoinFor): cold keys keep one sub-key, so the dim side
  // replicates |hotKeys| x salts rows, not |dim| x salts. Skew is
  // PLANTED closed-form (every user_id % 50 == 7 event replicated
  // 20x -> 3 keys at ~18x mean), so the oracle recomputes the join
  // AND every derived decision number (salts, hot-key count, max)
  // from the fixture alone — the measurement is gate-checked, not
  // just the join identity.
  //
  // At 100 TB: the scout is the cheap first job (key-column scan,
  // catalog-sized output); the decision it emits is exactly what you
  // feed AQE-disabled engines or pre-partitioned writers. The hot
  // set rides as an isin literal (map-only); no exchange beyond the
  // join's own.
  def q139(spark: SparkSession, dir: String): DataFrame = {
    val fact = events(spark, dir).select(col("user_id"))
      .withColumn("rep", explode(sequence(lit(1),
        when(col("user_id") % 50 === 7, 20).otherwise(1))))
    val dim = tbl(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_nationkey"))
    val prof = graft.operators.Skew.measureSkew(fact, "user_id")
    val joined = graft.operators.Skew
      .saltedJoinFor(prof, fact, dim, "user_id", col("rep"))
    val perNation = joined.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("user_id")).as("key_sum"))
    val nationRows = perNation.select(lit("nation_rows").as("metric"),
      col("c_nationkey").cast("long").as("key_id"), col("n_rows").as("n"))
    val nationSums = perNation.select(lit("nation_keysum").as("metric"),
      col("c_nationkey").cast("long").as("key_id"), col("key_sum").as("n"))
    // the measured DECISION, surfaced as oracle-checked rows: the
    // gate fails if the derivation ever drifts from the documented
    // integer math (q106's divide-first floor-mean sequence). n_hot
    // reports the CAPPED hot-list size (maxHot = 1000 bounds the
    // driver-side collect and the isin literal), and the oracle
    // mirrors the cap with least(count, 1000) — the 100x replica gate
    // caught the uncapped oracle diverging exactly there (spark 1000
    // vs duck 3000 hot keys at 1.5M events); result identity is
    // unaffected (which keys get salted never changes join output),
    // only the decision row needed the mirrored bound.
    val decision = spark.range(1).selectExpr(
      s"""stack(3,
         |'salts', CAST(NULL AS BIGINT), ${prof.salts}L,
         |'n_hot', CAST(NULL AS BIGINT), ${prof.hotKeys.size}L,
         |'max_cnt', CAST(NULL AS BIGINT), ${prof.maxCnt}L)
         | AS (metric, key_id, n)""".stripMargin)
    nationRows.unionAll(nationSums).unionAll(decision)
  }

  val q139Sql: String =
    """WITH f AS (
      |  SELECT e.user_id
      |  FROM events e, unnest(range(0,
      |    CAST(CASE WHEN e.user_id % 50 = 7 THEN 20 ELSE 1 END AS BIGINT)))
      |    AS u(r)
      |), counts AS (
      |  SELECT user_id, count(*) AS cnt FROM f GROUP BY user_id
      |), derived AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS d,
      |    max(cnt) AS mx,
      |    greatest(1, CAST(sum(cnt) AS BIGINT) // count(*)) AS mean
      |  FROM counts
      |), j AS (
      |  SELECT c.c_nationkey, f.user_id
      |  FROM f JOIN customer c ON c.c_custkey = f.user_id
      |)
      |SELECT metric, key_id, n FROM (
      |  SELECT 'nation_rows' AS metric, CAST(c_nationkey AS BIGINT) AS key_id,
      |    count(*) AS n
      |  FROM j GROUP BY c_nationkey
      |  UNION ALL
      |  SELECT 'nation_keysum', CAST(c_nationkey AS BIGINT),
      |    CAST(sum(user_id) AS BIGINT)
      |  FROM j GROUP BY c_nationkey
      |  UNION ALL
      |  SELECT 'salts', NULL,
      |    least(64, greatest(1, (mx + mean - 1) // mean)) FROM derived
      |  UNION ALL
      |  SELECT 'n_hot', NULL,
      |    (SELECT least(count(*), 1000) FROM counts, derived
      |     WHERE cnt * 1000 >= 5000 * mean) FROM derived
      |  UNION ALL
      |  SELECT 'max_cnt', NULL, mx FROM derived
      |) u ORDER BY metric, key_id""".stripMargin

  // ---- q115: unpivot (melt) — the inverse reshape of q55's pivot ----
  // Wide -> long: q55's pivoted (status x priority) money matrix back
  // to (status, priority, total) rows via Dataset.unpivot. Empty
  // cells (a (status, priority) combination with no orders) are
  // dropped explicitly, so the round trip equals the direct long
  // aggregate — which is exactly what the independent oracle
  // computes, proving pivot -> unpivot loses nothing but the nulls.
  // Plan note: the unpivot is an Expand projection over the already
  // group-sized wide table — no extra exchange beyond q55's own agg.
  def q115(spark: SparkSession, dir: String): DataFrame =
    q55(spark, dir)
      .unpivot(Array(col("o_orderstatus")), "priority", "total_cents")
      .filter(col("total_cents").isNotNull)

  val q115Sql: String =
    """SELECT o_orderstatus, o_orderpriority AS priority,
      |  CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders
      |GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY o_orderstatus, priority""".stripMargin

  // ---- q119: event-rate anomaly detection (trailing-window z-score) ----
  // The standing ops check over the event stream: flag every
  // (event_type, hour) whose count departs from its own trailing
  // 6-window baseline by more than 2 sigma. The entire test is
  // INTEGER-exact — no float mean/stddev whose summation order could
  // differ between engines: with k prior windows, sum S and
  // sum-of-squares Q, the 2-sigma condition |n - S/k| > 2*sqrt(var)
  // rearranges to (k*n - S)^2 > 4*(k*Q - S^2). The squared products
  // are computed WIDE — decimal(38,0) here, HUGEINT in the oracle,
  // both exact 128-bit-class integer arithmetic — because int64
  // products would abort (ANSI overflow) near 2.5e8 events per
  // (type, hour). The sum-of-squares runs WIDE end-to-end; only the
  // OUTPUT column Q narrows to the int64 contract, whose ceiling is
  // ~1.2e9 events per (type, hour) — 330k events/s for one type —
  // ENFORCED by an assert_true that names the ceiling and the fix
  // (bucket finer) rather than a bare ANSI overflow mid-codegen.
  // k >= 3 gates the cold start: fewer than 3 baseline windows is a
  // guess, not a baseline.
  //
  // 100 TB posture: the hourly rollup is the q15 aggregate
  // (map-side partials into (type, hour) rows — catalog x time
  // sized); the window frame then runs over that ROLLUP, never raw
  // events, partitioned by type and 6 rows deep — trivially in
  // memory. Streaming twin shape: counts ADD, so the rollup streams
  // exactly like DriftStream partials and this flag is a finisher.
  def q119(spark: SparkSession, dir: String): DataFrame =
    anomalyFlags(
      events(spark, dir)
        .groupBy(hourBucket(col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n")))

  /** The canonical hour bucket — shared by q15, q119, and
    * [[graft.streaming.RateAnomalyStream]]'s per-batch rollup, whose
    * stream/batch parity depends on the THREE sites bucketing
    * identically (string form sorts chronologically).
    */
  private[graft] def hourBucket(ts: Column): Column = {
    // timezone-INDEPENDENT UTC bucketing: pure epoch arithmetic plus
    // a DateType render (dates carry no zone), so the bucket is the
    // UTC hour under ANY spark.sql.session.timeZone — the streaming
    // monitor's per-batch rollup needs no session-conf toggle (which
    // would race with concurrently-running queries in the shared
    // session). Epochs are validated post-2000 (eventsRaw probe), so
    // truncating division IS floor division here.
    val hourIdx = floor(unix_seconds(ts) / lit(3600)).cast("long")
    val days = floor(hourIdx / lit(24)).cast("int")
    val hh = (hourIdx - days.cast("long") * lit(24L)).cast("int")
    concat(date_add(to_date(lit("1970-01-01")), days).cast("string"),
      lit(" "), lpad(hh.cast("string"), 2, "0"), lit(":00"))
  }

  /** decimal(38,0) widening for the q119/q120 integer cross
    * products — ONE definition so the two wide-arithmetic paths
    * cannot silently diverge.
    */
  private def wide(c: Column): Column = c.cast("decimal(38,0)")

  /** The anomaly readout over a collapsed (event_type, hour, n)
    * rollup — shared by q119 (batch) and
    * [[graft.streaming.RateAnomalyStream]]'s finisher (counts ADD,
    * so per-micro-batch rollup partials re-aggregate exactly; the
    * window test runs on rollup-sized rows, never raw events).
    */
  private[graft] def anomalyFlags(hourly: DataFrame): DataFrame = {
    val f = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-6, -1)
    // n2 pre-projected so all three frame aggregates share ONE
    // Window operator (an inline n*n forces a second Window pass
    // over the sorted rollup); the square is computed WIDE at the
    // source (decimal(38,0) — int64 n*n would abort under ANSI past
    // ~3e9 events in a single (type, hour) cell), and only the
    // OUTPUT narrows to the int64 `q` contract, behind an assert
    // that names the ceiling instead of surfacing a bare ANSI
    // cast-overflow from inside codegen.
    val dev = wide(col("k")) * wide(col("n")) - wide(col("s"))
    hourly
      .withColumn("n2", wide(col("n")) * wide(col("n")))
      .select(col("event_type"), col("hour"), col("n"),
        count(col("n")).over(f).as("k"),
        sum(col("n")).over(f).as("s"),
        sum(col("n2")).over(f).as("qw"))
      .filter(col("k") >= 3 &&
        dev * dev > lit(4) *
          (wide(col("k")) * col("qw") - wide(col("s")) * wide(col("s"))))
      .select(col("event_type"), col("hour"), col("n"), col("k"),
        col("s"),
        when(assert_true(col("qw") <= lit(Long.MaxValue),
            concat(lit("event-rate rollup exceeds the int64 `q` " +
              "output ceiling (sum of 6 squared hourly counts >= 2^63, " +
              "i.e. ~1.2e9 events per (type, hour)); re-bucket to a " +
              "finer time unit — q="), col("qw").cast("string"))).isNull,
          col("qw").cast("long")).as("q"))
  }

  val q119Sql: String =
    """WITH h AS (
      |  SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00') AS hour,
      |    event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), w AS (
      |  SELECT event_type, hour, n,
      |    count(n) OVER f AS k,
      |    CAST(sum(n) OVER f AS BIGINT) AS s,
      |    CAST(sum(n*n) OVER f AS BIGINT) AS q
      |  FROM h
      |  WINDOW f AS (PARTITION BY event_type ORDER BY hour
      |               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
      |)
      |SELECT event_type, hour, n, k, s, q
      |FROM w
      |WHERE k >= 3
      |  AND (CAST(k AS HUGEINT)*n - s) * (CAST(k AS HUGEINT)*n - s)
      |    > 4 * (CAST(k AS HUGEINT)*q - CAST(s AS HUGEINT)*s)
      |ORDER BY event_type, hour""".stripMargin

  // ---- q120: event-rate trend (integer least-squares slope) ----
  // q119's sibling: q119 flags LEVEL anomalies against a trailing
  // baseline; this fits the per-type TREND — the least-squares slope
  // of hourly counts over the hour index — the "is this event type
  // growing or dying" readout. Exactness: with t = 0-based hour
  // index (row_number per type over the chronologically-sorted
  // string buckets) and y = count, the slope is
  // (k*Sty - St*Sy) / (k*St2 - St^2) — the sums are exact int64
  // (Sty caps ~3.8e16 even at 1e9 events/hour over a year), and the
  // cross products compute WIDE (decimal(38,0) / HUGEINT, the q119
  // pattern) before the e6 scaling and the one floor division.
  // k >= 2 guards the degenerate single-hour fit (den = 0).
  //
  // 100 TB posture: identical to q119's — everything runs over the
  // (type, hour) rollup; the row_number window is per type over
  // rollup rows, the regression is one narrow aggregate per type.
  def q120(spark: SparkSession, dir: String): DataFrame =
    trendFit(
      events(spark, dir)
        .groupBy(hourBucket(col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n")))

  /** The trend readout over a collapsed (hour, event_type, n) rollup
    * — shared by q120 (batch) and
    * [[graft.streaming.RateAnomalyStream]]'s second finisher (the
    * same accumulated partials feed both standing readouts).
    */
  private[graft] def trendFit(hourly: DataFrame): DataFrame = {
    val t = row_number().over(
      Window.partitionBy(col("event_type")).orderBy(col("hour"))) - 1
    hourly
      .withColumn("t", t.cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"), sum(col("t")).as("st"),
        sum(col("n")).as("sy"), sum(col("t") * col("n")).as("sty"),
        sum(col("t") * col("t")).as("st2"))
      .filter(col("k") >= 2)
      // `div` (IntegralDivide), NOT `/`: decimal `/` rounds to the
      // result scale (half-up) before any cast — near an integer
      // boundary that disagrees with the oracle's truncating `//`
      .withColumn("num",
        (wide(col("k")) * wide(col("sty")) - wide(col("st")) * wide(col("sy")))
          * lit(1000000))
      .withColumn("den",
        wide(col("k")) * wide(col("st2")) - wide(col("st")) * wide(col("st")))
      .select(col("event_type"), col("k"), col("sy"),
        expr("CAST(num div den AS LONG)").as("slope_e6"))
  }

  val q120Sql: String =
    """WITH h AS (
      |  SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00') AS hour,
      |    event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), ht AS (
      |  SELECT event_type, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY hour) - 1 AS t
      |  FROM h
      |), a AS (
      |  SELECT event_type, count(*) AS k,
      |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(n) AS BIGINT) AS sy,
      |    CAST(sum(t*n) AS BIGINT) AS sty, CAST(sum(t*t) AS BIGINT) AS st2
      |  FROM ht GROUP BY event_type
      |)
      |SELECT event_type, k, sy,
      |  CAST((CAST(k AS HUGEINT)*sty - CAST(st AS HUGEINT)*sy) * 1000000
      |    // (CAST(k AS HUGEINT)*st2 - CAST(st AS HUGEINT)*st) AS BIGINT)
      |    AS slope_e6
      |FROM a WHERE k >= 2 ORDER BY event_type""".stripMargin

  // ---- q131: semi-structured JSON extraction (from_json) ----
  // The log-ingest shape every pipeline hits: a string column of JSON
  // payloads (nested object + array + scalar), schema-projected into
  // typed columns IN THE SCAN via `from_json` (Spark's Jackson-backed
  // JsonToStructs — codegen-adjacent, no UDF) and aggregated. The
  // organic `events.props` payload is a trivial {"k": N}, so the JSON
  // is planted closed-form from event_id (the q88 URL posture):
  // tier/score under a nested object, a 2-element tag array, a
  // boolean — identical text in both engines, with every 11th payload
  // MANGLED (leading '@') to exercise malformed-record routing.
  //
  // The mangle is a leading-byte corruption rather than a truncation
  // on purpose: Spark's PERMISSIVE mode keeps PARTIAL results for
  // records that fail mid-parse (spark.sql.json.enablePartialResults,
  // default true on 4.x), so a tail truncation would leave the early
  // fields populated while DuckDB's json_valid() calls the whole
  // record invalid — a parity break by design, not by bug. Failing at
  // byte 0 parses zero fields in both engines: the malformed class
  // lands in one NULL-tier group with NULL aggregates.
  //
  // 100 TB posture: parse is map-only inside the scan projection
  // (payloads never shuffle); the exchange carries 6 narrow columns
  // for at most 6 tier groups (5 tiers + the NULL malformed group).
  def q131(spark: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val j = concat(
      lit("""{"user":{"tier":"t"""), (id % 5).cast("string"),
      lit("""","score":"""), (id % 97).cast("string"),
      lit("""},"tags":["g"""), (id % 3).cast("string"),
      lit("""","g"""), (id % 7).cast("string"),
      lit(""""],"ok":"""),
      when(id % 2 === 0, lit("true")).otherwise(lit("false")),
      lit("}"))
    val jm = when(id % 11 === 0, concat(lit("@"), j)).otherwise(j)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user STRUCT<tier: STRING, score: BIGINT>, " +
        "tags ARRAY<STRING>, ok BOOLEAN")
    events(spark, dir)
      .select(id, from_json(jm, schema).as("p"))
      .select(id,
        col("p.user.tier").as("tier"),
        col("p.user.score").as("score"),
        col("p.tags").as("tags"),
        col("p.ok").as("ok"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"),
        sum(col("score")).as("sum_score"),
        count(when(col("ok"), 1)).as("n_ok"),
        sum(size(col("tags")).cast("long")).as("sum_tags"),
        countDistinct(col("tags").getItem(0)).as("first_tags"))
  }

  val q131Sql: String =
    """WITH j AS (
      |  SELECT event_id,
      |    '{"user":{"tier":"t' || CAST(event_id % 5 AS VARCHAR) ||
      |    '","score":' || CAST(event_id % 97 AS VARCHAR) ||
      |    '},"tags":["g' || CAST(event_id % 3 AS VARCHAR) ||
      |    '","g' || CAST(event_id % 7 AS VARCHAR) ||
      |    '"],"ok":' ||
      |    CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END ||
      |    '}' AS full_j
      |  FROM events
      |), m AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 11 = 0 THEN '@' || full_j
      |         ELSE full_j END AS s
      |  FROM j
      |), p AS (
      |  SELECT event_id,
      |    CASE WHEN json_valid(s)
      |         THEN json_extract_string(s, '$.user.tier') END AS tier,
      |    CASE WHEN json_valid(s)
      |         THEN CAST(json_extract(s, '$.user.score') AS BIGINT)
      |         END AS score,
      |    CASE WHEN json_valid(s)
      |         THEN CAST(json_extract(s, '$.ok') AS BOOLEAN) END AS ok,
      |    CASE WHEN json_valid(s)
      |         THEN CAST(json_array_length(s, '$.tags') AS BIGINT)
      |         END AS n_tags,
      |    CASE WHEN json_valid(s)
      |         THEN json_extract_string(s, '$.tags[0]') END AS tag0
      |  FROM m
      |)
      |SELECT tier, count(*) AS n,
      |  CAST(sum(score) AS BIGINT) AS sum_score,
      |  count(CASE WHEN ok THEN 1 END) AS n_ok,
      |  CAST(sum(n_tags) AS BIGINT) AS sum_tags,
      |  count(DISTINCT tag0) AS first_tags
      |FROM p GROUP BY tier ORDER BY tier NULLS FIRST""".stripMargin

  /** All relational queries, keyed as registered in SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_json_extract" -> (q131 _),
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_project" -> (q02 _),
    "q03_join3_topk" -> (q03 _),
    "q04_broadcast_join" -> (q04 _),
    "q05_sortmerge_join" -> (q05 _),
    "q06_semi_join" -> (q06 _),
    "q07_anti_join" -> (q07 _),
    "q08_rollup" -> (q08 _),
    "q09_window_rank" -> (q09 _),
    "q10_window_frame" -> (q10 _),
    "q11_sessionize" -> (q11 _),
    "q12_topk" -> (q12 _),
    "q13_setops" -> (q13 _),
    "q14_distinct_agg" -> (q14 _),
    "q15_hourly_window" -> (q15 _),
    "q16_geodesy" -> (q16 _),
    "q25_geodesy2" -> (q25 _),
    "q26_salted_join" -> (q26 _),
    "q27_cube" -> (q27 _),
    "q29_percentiles" -> (q29 _),
    "q17_worklist_anti" -> (q17 _),
    "q18_aircraft_join" -> (q18 _),
    "q19_nulldrop" -> (q19 _),
    "q45_latlon_format" -> (q45 _),
    "q48_bucketed_join" -> (q48 _),
    "q53_asof_join" -> (q53 _),
    "q54_range_join" -> (q54 _),
    "q55_pivot" -> (q55 _),
    "q60_asof_tolerance" -> (q60 _),
    "q67_zorder" -> (q67 _),
    "q77_bloom_prejoin" -> (q77 _),
    "q84_hll_distinct" -> (q84 _),
    "q87_asof_forward" -> (q87 _),
    "q89_quantile_sketch" -> (q89 _),
    "q94_partition_prune" -> (q94 _),
    "q96_sketch_rollup" -> (q96 _),
    "q97_funnel" -> (q97 _),
    "q98_cohorts" -> (q98 _),
    "q99_full_outer" -> (q99 _),
    "q100_correlated_subquery" -> (q100 _),
    "q101_jdbc_roundtrip" -> (q101 _),
    "q102_setops_all" -> (q102 _),
    "q104_profile" -> (q104 _),
    "q106_key_skew" -> (q106 _),
    "q139_measured_salt_join" -> (q139 _),
    "q115_unpivot" -> (q115 _),
    "q119_rate_anomaly" -> (q119 _),
    "q120_rate_trend" -> (q120 _)
  )

  val oracles: Map[String, String] = Map(
    "q131_json_extract" -> q131Sql,
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_join3_topk" -> q03Sql,
    "q04_broadcast_join" -> q04Sql,
    "q05_sortmerge_join" -> q05Sql,
    "q06_semi_join" -> q06Sql,
    "q07_anti_join" -> q07Sql,
    "q08_rollup" -> q08Sql,
    "q09_window_rank" -> q09Sql,
    "q10_window_frame" -> q10Sql,
    "q11_sessionize" -> q11Sql,
    "q12_topk" -> q12Sql,
    "q13_setops" -> q13Sql,
    "q14_distinct_agg" -> q14Sql,
    "q15_hourly_window" -> q15Sql,
    "q16_geodesy" -> q16Sql,
    "q25_geodesy2" -> q25Sql,
    "q26_salted_join" -> q26Sql,
    "q27_cube" -> q27Sql,
    "q29_percentiles" -> q29Sql,
    "q17_worklist_anti" -> q17Sql,
    "q18_aircraft_join" -> q18Sql,
    "q19_nulldrop" -> q19Sql,
    "q45_latlon_format" -> q45Sql,
    "q48_bucketed_join" -> q48Sql,
    "q53_asof_join" -> q53Sql,
    "q54_range_join" -> q54Sql,
    "q55_pivot" -> q55Sql,
    "q60_asof_tolerance" -> q60Sql,
    "q67_zorder" -> q67Sql,
    "q77_bloom_prejoin" -> q77Sql,
    "q84_hll_distinct" -> q84Sql,
    "q87_asof_forward" -> q87Sql,
    "q89_quantile_sketch" -> q89Sql,
    "q94_partition_prune" -> q94Sql,
    "q96_sketch_rollup" -> q96Sql,
    "q97_funnel" -> q97Sql,
    "q98_cohorts" -> q98Sql,
    "q99_full_outer" -> q99Sql,
    "q100_correlated_subquery" -> q100Sql,
    "q101_jdbc_roundtrip" -> q101Sql,
    "q102_setops_all" -> q102Sql,
    "q104_profile" -> q104Sql,
    "q106_key_skew" -> q106Sql,
    "q139_measured_salt_join" -> q139Sql,
    "q115_unpivot" -> q115Sql,
    "q119_rate_anomaly" -> q119Sql,
    "q120_rate_trend" -> q120Sql
  )
}
