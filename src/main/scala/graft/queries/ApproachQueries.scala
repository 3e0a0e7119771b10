package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.approach.ApproachPipeline
import graft.model.Approach
import graft.sources.{Dims, FlightGen}

/** Flagship approach-pipeline queries (SURVEY.md §2.5, reference
  * FlightAnalysis.py:46-330) over the deterministic [[FlightGen]]
  * traces: one 600-sample flight per distinct `events.user_id`, flown
  * into the [[Dims.syntheticAirports]] grid.
  *
  * Oracle strategy: the state machine itself is not SQL-expressible
  * (data-dependent stride-15 scan), but FlightGen's engineered flavors
  * make the *expected output* a closed-form function of the flight id:
  *   - landing flavor  = flight % 3 (0 stop-and-go, 1 touch-and-go,
  *     2 go-around);
  *   - stability violations injected iff flight % 5/7/11/13 == 0
  *     (A / S / F1 / F2 respectively), all inside the final window;
  *   - destination airport = AP{(flight+1) % 8} of the synthetic grid;
  *   - exactly one approach per flight.
  * So DuckDB can compute the expected distribution/flags directly from
  * `SELECT DISTINCT user_id FROM events` — a genuine end-to-end
  * cross-check: if the detector mis-segments a phase or drops a
  * violation, the hash comparison fails.
  */
object ApproachQueries {

  def approaches(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ApproachPipeline.approachesTable(
      ApproachPipeline.detectApproaches(
        FlightGen.flights(spark, dir),
        Dims.syntheticAirports()))
  }

  // ---- q20: full 18-column approaches table, hash-checked against a
  //      closed-form oracle (plus goldens in ApproachDetectorSpec) ----
  def q20(spark: SparkSession, dir: String): DataFrame =
    approaches(spark, dir)

  /** q20 oracle: every column is a closed-form function of the flight
    * id mods (flavor = f%3, violations = f%5/7/11/13, airport =
    * (f+1)%8) — see the object Scaladoc. The three integer-valued
    * means are exact rationals of the final-window sample count
    * n (55, or 43 for go-around): both engines sum exact-integer
    * doubles sequentially and divide once, so `75.0/n` etc. is
    * bit-identical. The crosstrack means are trig doubles: GOLDEN
    * constants, extracted once over flights 0..623 (2 x lcm(3,8,13),
    * every (flavor, airport, violation) combo twice) and embedded with
    * full round-trip precision; they pin the geodesy + window
    * segmentation to the ulp. To re-derive them, run
    * tools/derive_q20.py on the q20_approaches dir of an sf0.1
    * `Verify <sf> <out> q20_approaches` dump (flights 0..1499).
    */
  private val xtClean = Seq( // all_crosstrack, no F2 violation: by (f+1)%8
    "-0.0013986888536265951", "-0.0014490083133367193",
    "-0.0015008777776159832", "-0.0015543993425737312",
    "-0.0016096983079805227", "-0.0016668953328746738",
    "-0.0017261203577589868", "-0.0017875265267974783")
  private val xt55 = Seq( // F2-violating, 55-sample window: by (f+1)%8
    "-109.4335427853642", "-109.4335931001833",
    "-109.43364496964752", "-109.43369849585332",
    "-109.4337537948186", "-109.43381099184354",
    "-109.43387021222772", "-109.43393161375595")
  private val xt43 = Seq( // F2-violating, 43-sample window (go-around)
    "-109.43354278536428", "-109.4335931001833",
    "-109.43364496964752", "-109.43369849585325",
    "-109.4337537948186", "-109.43381099184354",
    "-109.43387021222772", "-109.43393161375602")

  // `e0` suffix: forces DuckDB to parse the literal directly as DOUBLE
  // (correctly-rounded strtod). A bare decimal literal goes through
  // DECIMAL first, and the DECIMAL->DOUBLE cast is off by one ulp for
  // several of these constants (measured).
  private def caseByAp(vals: Seq[String]): String =
    vals.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN ${v}e0" }
      .mkString("CASE ap ", " ", " END")

  val q20Sql: String = {
    val xtViolated =
      s"CASE WHEN v = 2 THEN ${caseByAp(xt43)} ELSE ${caseByAp(xt55)} END"
    s"""WITH m AS (
       |  SELECT user_id AS f, CAST(user_id % 3 AS INT) AS v,
       |    CAST((user_id + 1) % 8 AS INT) AS ap,
       |    user_id % 5 = 0 AS a5, user_id % 7 = 0 AS s7,
       |    user_id % 11 = 0 AS f11, user_id % 13 = 0 AS f13,
       |    CAST(CASE WHEN user_id % 3 = 2 THEN 43 ELSE 55 END AS DOUBLE) AS n
       |  FROM (SELECT DISTINCT user_id FROM events)
       |)
       |SELECT f AS flight_id, 1 AS approach_id,
       |  'AP0' || ap AS airport_id,
       |  '09' AS runway_id,
       |  CAST(424 AS BIGINT) AS approach_start,
       |  CAST(CASE WHEN v = 2 THEN 467 ELSE 479 END AS BIGINT) AS approach_end,
       |  CAST(CASE WHEN v = 2 THEN 467 ELSE 479 END AS BIGINT) AS landing_start,
       |  CAST(CASE v WHEN 0 THEN 599 WHEN 1 THEN 530 ELSE 502 END AS BIGINT) AS landing_end,
       |  CASE v WHEN 0 THEN 'stop-and-go' WHEN 1 THEN 'touch-and-go'
       |    ELSE 'go-around' END AS landing_type,
       |  CAST(a5 OR s7 OR f11 OR f13 AS INT) AS unstable,
       |  CASE WHEN f11 THEN 75.0 / n ELSE CAST(0.0 AS DOUBLE) END AS all_heading,
       |  CASE WHEN f11 THEN CAST(15.0 AS DOUBLE) END AS f1_heading,
       |  CASE WHEN f13 THEN $xtViolated ELSE ${caseByAp(xtClean)} END AS all_crosstrack,
       |  CASE WHEN f13 THEN $xtViolated END AS f2_crosstrack,
       |  CASE WHEN a5 THEN (65.0 * n + 120.0) / n ELSE CAST(65.0 AS DOUBLE) END AS all_ias,
       |  CASE WHEN a5 THEN CAST(80.0 AS DOUBLE) END AS a_ias,
       |  CASE WHEN s7 THEN (-700.0 * n - 3000.0) / n ELSE CAST(-700.0 AS DOUBLE) END AS all_vsi,
       |  CASE WHEN s7 THEN CAST(-1200.0 AS DOUBLE) END AS s_vsi
       |FROM m ORDER BY flight_id, approach_id""".stripMargin
  }

  // ---- q21: landing-type distribution (W7 labels vs closed form) ----
  def q21(spark: SparkSession, dir: String): DataFrame =
    approaches(spark, dir)
      .groupBy(col("landing_type"))
      .agg(count(lit(1)).as("n"))

  val q21Sql: String =
    """SELECT CASE CAST(user_id % 3 AS INT)
      |         WHEN 0 THEN 'stop-and-go'
      |         WHEN 1 THEN 'touch-and-go'
      |         ELSE 'go-around' END AS landing_type,
      |  count(*) AS n
      |FROM (SELECT DISTINCT user_id FROM events)
      |GROUP BY 1 ORDER BY landing_type""".stripMargin

  // ---- q22: per-flight stability flags (F6/W5 vs closed form) ----
  def q22(spark: SparkSession, dir: String): DataFrame =
    approaches(spark, dir)
      .select(
        col("flight_id"),
        col("approach_id"),
        col("airport_id"),
        col("unstable"),
        col("f1_heading").isNotNull.cast("int").as("has_f1"),
        col("f2_crosstrack").isNotNull.cast("int").as("has_f2"),
        col("a_ias").isNotNull.cast("int").as("has_a"),
        col("s_vsi").isNotNull.cast("int").as("has_s"))

  val q22Sql: String =
    """SELECT user_id AS flight_id, 1 AS approach_id,
      |  'AP0' || CAST((user_id + 1) % 8 AS INT) AS airport_id,
      |  CAST(user_id % 5 = 0 OR user_id % 7 = 0
      |    OR user_id % 11 = 0 OR user_id % 13 = 0 AS INT) AS unstable,
      |  CAST(user_id % 11 = 0 AS INT) AS has_f1,
      |  CAST(user_id % 13 = 0 AS INT) AS has_f2,
      |  CAST(user_id % 5 = 0 AS INT) AS has_a,
      |  CAST(user_id % 7 = 0 AS INT) AS has_s
      |FROM (SELECT DISTINCT user_id FROM events)
      |ORDER BY flight_id, approach_id""".stripMargin

  // ---- q23: processed-flag sink contents (S7 + A4) ----
  // Every input flight must come out flagged with exactly one
  // detected approach (FlightGen guarantees one per flight) — catches
  // silently dropped flights.
  def q23(spark: SparkSession, dir: String): DataFrame = {
    val flights = graft.sinks.Sinks.analysisFlags(
      FlightGen.flights(spark, dir).toDF())
    val counts = approaches(spark, dir)
      .groupBy(col("flight_id")).agg(count(lit(1)).as("n_approaches"))
    flights.join(counts, Seq("flight_id"), "left")
      .select(col("flight_id"), col("approach_analysis"),
        coalesce(col("n_approaches"), lit(0L)).as("n_approaches"))
  }

  val q23Sql: String =
    """SELECT user_id AS flight_id, 1 AS approach_analysis,
      |  CAST(1 AS BIGINT) AS n_approaches
      |FROM (SELECT DISTINCT user_id FROM events)
      |ORDER BY flight_id""".stripMargin

  // ---- q24: airport dimension scan over the reference CSVs
  //      (S4 + S5 + J3; main.py:163-183) ----
  def q24(spark: SparkSession, dir: String): DataFrame = {
    val refDir = "/root/reference/data"
    Dims.requireReferenceDir(refDir)
    val dim = Dims.airportsWithRunways(
      Dims.loadAirportsCsv(spark, s"$refDir/Airports.csv"),
      Dims.loadRunwaysCsv(spark, s"$refDir/AirportsDetailed.csv"))
    dim.groupBy(col("state"))
      .agg(count(lit(1)).as("n_airports"),
        sum(size(col("runways"))).cast("long").as("n_runways"),
        max(col("alt")).cast("long").as("max_elev_ft"))
  }

  val q24Sql: String =
    """WITH r AS (
      |  SELECT Airport_Code AS code, count(*) AS nr
      |  FROM read_csv('/root/reference/data/AirportsDetailed.csv', header=true)
      |  GROUP BY 1
      |)
      |SELECT a.State_Code AS state, count(*) AS n_airports,
      |  CAST(coalesce(sum(r.nr), 0) AS BIGINT) AS n_runways,
      |  CAST(max(a.Elevation_FT) AS BIGINT) AS max_elev_ft
      |FROM read_csv('/root/reference/data/Airports.csv', header=true) a
      |LEFT JOIN r ON a.Airport_Code = r.code
      |GROUP BY 1 ORDER BY state""".stripMargin

  // ---- q28: per-aircraft-type thresholds (the reference's dead
  //      setThresholds feature, working) ----
  // PA28 (flight%4==1) tolerates IAS<=85 -> the engineered 80 kt
  // A-violation vanishes; SR20 (flight%4==2) tolerates VSI>=-1300 ->
  // the -1200 fpm S-violation vanishes. Everything else unchanged.
  def q28(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{element_at, array}
    val samples = FlightGen.flights(spark, dir)
    // type dim from the flight ID SOURCE (events user list), not from
    // samples.distinct(): a distinct over the generated trace would
    // re-explode every per-second sample only to collapse back to the
    // ids it started from — ~0.5 s of pure waste at sf0.1, and at
    // 100 TB a full second scan of the fact table
    val types = Relational.events(spark, dir)
      .select(col("user_id").as("flight")).distinct()
      .withColumn("aircraft_type",
        element_at(array(lit("C172"), lit("PA28"), lit("SR20"), lit("BE36")),
          (col("flight") % 4 + 1).cast("int")))
    // thresholds as a broadcast dimension TABLE (the reference's
    // exceedance_thresholds read) — the at-scale form, and the only
    // one (a driver-side Map config converts via toDF)
    import spark.implicits._
    val thDim = Seq(
      ("PA28", graft.model.Thresholds(approachMaxIas = 85)),
      ("SR20", graft.model.Thresholds(approachMinVsi = -1300)))
      .toDF("aircraft_type", "th")
      .select(col("aircraft_type"), col("th.*"))
    ApproachPipeline.approachesTable(
      ApproachPipeline.detectApproachesPerAircraft(
        samples, Dims.syntheticAirports(), types, thDim,
        graft.model.Thresholds()))
      .select(
        col("flight_id"),
        col("unstable"),
        col("a_ias").isNotNull.cast("int").as("has_a"),
        col("s_vsi").isNotNull.cast("int").as("has_s"),
        col("f1_heading").isNotNull.cast("int").as("has_f1"),
        col("f2_crosstrack").isNotNull.cast("int").as("has_f2"))
  }

  val q28Sql: String =
    """SELECT user_id AS flight_id,
      |  CAST((user_id % 5 = 0 AND user_id % 4 <> 1)
      |    OR (user_id % 7 = 0 AND user_id % 4 <> 2)
      |    OR user_id % 11 = 0 OR user_id % 13 = 0 AS INT) AS unstable,
      |  CAST(user_id % 5 = 0 AND user_id % 4 <> 1 AS INT) AS has_a,
      |  CAST(user_id % 7 = 0 AND user_id % 4 <> 2 AS INT) AS has_s,
      |  CAST(user_id % 11 = 0 AS INT) AS has_f1,
      |  CAST(user_id % 13 = 0 AS INT) AS has_f2
      |FROM (SELECT DISTINCT user_id FROM events)
      |ORDER BY flight_id""".stripMargin

  // ---- q39: incremental merge sink (S6 upsert semantics,
  //      FlightAnalysis.py:400-431) ----
  // Two-batch upsert into one bucketed parquet table:
  //   batch 1 = even flights, with a sentinel unstable=9 planted;
  //   batch 2 = flights divisible by 3, true detector output.
  // The merged table must show batch-2 values on the overlap
  // (flight%6==0 — per-key UPDATE), the sentinel on even-only flights
  // (non-matched rows survive), and %3-odd flights inserted — all
  // closed-form in flight id, so the whole merge path is hash-checked.
  def q39(spark: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files
      .createTempDirectory("graft_merge_").toString + "/approaches"
    val all = approaches(spark, dir).persist() // detector runs once
    val batch1 = all.filter(col("flight_id") % 2 === 0)
      .withColumn("unstable", lit(9))
    val batch2 = all.filter(col("flight_id") % 3 === 0)
    // 8 buckets at test scale (the 64-bucket default is sized for the
    // 100 TB table; here it just multiplies tiny files and write jobs)
    graft.sinks.Sinks.mergeApproachesTable(batch1, out, buckets = 8)
    graft.sinks.Sinks.mergeApproachesTable(batch2, out, buckets = 8)
    all.unpersist() // both merge writes are done; result reads `out`
    spark.read.parquet(out)
      .select(col("flight_id"), col("approach_id"), col("airport_id"),
        col("landing_type"), col("unstable"))
  }

  val q39Sql: String =
    """SELECT user_id AS flight_id, 1 AS approach_id,
      |  'AP0' || CAST((user_id + 1) % 8 AS INT) AS airport_id,
      |  CASE CAST(user_id % 3 AS INT)
      |    WHEN 0 THEN 'stop-and-go'
      |    WHEN 1 THEN 'touch-and-go'
      |    ELSE 'go-around' END AS landing_type,
      |  CASE WHEN user_id % 3 = 0
      |    THEN CAST(user_id % 5 = 0 OR user_id % 7 = 0
      |      OR user_id % 11 = 0 OR user_id % 13 = 0 AS INT)
      |    ELSE 9 END AS unstable
      |FROM (SELECT DISTINCT user_id FROM events)
      |WHERE user_id % 2 = 0 OR user_id % 3 = 0
      |ORDER BY flight_id, approach_id""".stripMargin

  // ---- q44: flight-validity probe (F4 — main.py:186-191) ----
  // Plant invalid position data (lat := 0, lon := NULL) on every 4th
  // flight, then probe: valid iff any sample has a usable position.
  // Closed-form oracle: valid = (flight % 4 != 0).
  def q44(spark: SparkSession, dir: String): DataFrame = {
    val s = FlightGen.flights(spark, dir).toDF()
    val planted = s
      .withColumn("latitude",
        when(col("flight") % 4 === 0, lit(0.0)).otherwise(col("latitude")))
      .withColumn("longitude",
        when(col("flight") % 4 === 0, lit(null).cast("double"))
          .otherwise(col("longitude")))
    ApproachPipeline.flightValidity(planted)
  }

  val q44Sql: String =
    """SELECT user_id AS flight_id, CAST(user_id % 4 <> 0 AS INT) AS valid
      |FROM (SELECT DISTINCT user_id FROM events)
      |ORDER BY flight_id""".stripMargin

  /** All approach queries + oracles, keyed as registered in SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_approaches" -> (q20 _),
    "q21_landing_types" -> (q21 _),
    "q22_stability_flags" -> (q22 _),
    "q23_analysis_flags" -> (q23 _),
    "q24_airport_dims" -> (q24 _),
    "q28_per_aircraft_thresholds" -> (q28 _),
    "q39_merge_sink" -> (q39 _),
    "q44_validity_probe" -> (q44 _)
  )

  val oracles: Map[String, String] = Map(
    "q20_approaches" -> q20Sql,
    "q21_landing_types" -> q21Sql,
    "q22_stability_flags" -> q22Sql,
    "q23_analysis_flags" -> q23Sql,
    "q24_airport_dims" -> q24Sql,
    "q28_per_aircraft_thresholds" -> q28Sql,
    "q39_merge_sink" -> q39Sql,
    "q44_validity_probe" -> q44Sql
  )
}
