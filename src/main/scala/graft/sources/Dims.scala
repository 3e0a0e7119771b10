package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{Airport, Runway}

/** Dimension loaders (reference main.py:163-183) and a deterministic
  * synthetic airport grid for the testdata-driven pipeline.
  *
  * The reference loads two CSVs positionally with a naive
  * `line.split(',')` (main.py:172,180); we use Spark's CSV source with
  * explicit schemas (no inference in production paths) and fix the
  * `row[6]`-is-latitude elevation bug (main.py:181, SURVEY.md §1.3).
  */
object Dims {

  /** Schema of data/Airports.csv (reference main.py:168-174), with
    * field names matching the file header exactly — a name mismatch
    * makes Spark's header-conformance check log an error block on
    * every read even though an explicit schema binds positionally.
    * [[loadAirportsCsv]] renames to the engine's column names.
    */
  val airportsCsvSchema: StructType = StructType(Seq(
    StructField("Airport_Code", StringType),
    StructField("Airport Name", StringType),
    StructField("City", StringType),
    StructField("State_Code", StringType),
    StructField("Latitude", DoubleType),
    StructField("Longitude", DoubleType),
    StructField("Elevation_FT", DoubleType),
    StructField("Tower Freq", StringType)
  ))

  /** Columns our engine uses from data/AirportsDetailed.csv
    * (reference main.py:176-182): indices 2, 8, 10, 11, 12, 25, 26 of
    * the 27-column file. Loaded positionally like the reference, but
    * with the *correct* elevation column (8, not 6).
    */
  def loadAirportsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(airportsCsvSchema).csv(path)
      .select(
        col("Airport_Code").as("code"),
        col("`Airport Name`").as("name"),
        col("City").as("city"),
        col("State_Code").as("state"),
        col("Latitude").as("latitude"),
        col("Longitude").as("longitude"),
        col("Elevation_FT").as("elevation_ft"),
        col("`Tower Freq`").as("tower_freq"))

  def loadRunwaysCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("header", "true").csv(path)
    val c = raw.columns
    raw.select(
      col(c(2)).as("airportCode"),
      col(c(10)).as("runwayCode"),
      col(c(11)).cast(DoubleType).as("magHeading"),
      col(c(12)).cast(DoubleType).as("trueHeading"),
      col(c(25)).cast(DoubleType).as("lat"),
      col(c(26)).cast(DoubleType).as("lon"),
      col(c(8)).cast(DoubleType).as("elevationFt")
    )
  }

  /** Rebuild the reference's nested Airport->runways association
    * (main.py:182) relationally: broadcast hash join + collect_list.
    * Output is shaped exactly like the [[Airport]] case class (airports
    * without runways get an empty list, as the reference does — never
    * null), so `.as[Airport]` works directly.
    */
  def airportsWithRunways(airports: DataFrame, runways: DataFrame): DataFrame = {
    val nested = runways.groupBy(col("airportCode"))
      .agg(collect_list(struct(
        col("airportCode"), col("runwayCode"), col("magHeading"),
        col("trueHeading"), col("lat"), col("lon"), col("elevationFt")
      )).as("runways"))
    airports
      .join(broadcast(nested), airports("code") === nested("airportCode"), "left")
      .select(
        airports("code"),
        airports("name"),
        airports("city"),
        airports("state"),
        airports("latitude").as("lat"),
        airports("longitude").as("lon"),
        airports("elevation_ft").as("alt"),
        coalesce(nested("runways"), typedLit(Seq.empty[Runway])).as("runways")
      )
  }

  /** The reference's full airport dimension from its two CSVs
    * (main.py:163-183): 15,165 airports, 164 runway rows.
    */
  def referenceAirports(spark: SparkSession,
      dir: String = "/root/reference/data"): Array[Airport] = {
    requireReferenceDir(dir)
    import spark.implicits._
    airportsWithRunways(
      loadAirportsCsv(spark, s"$dir/Airports.csv"),
      loadRunwaysCsv(spark, s"$dir/AirportsDetailed.csv")
    ).na.drop(Seq("lat", "lon", "alt")).as[Airport].collect()
  }

  /** Fails fast, naming the path, when the reference CSV directory is
    * absent — instead of a reader error from deep inside a query.
    */
  def requireReferenceDir(dir: String): Unit =
    require(new java.io.File(dir).isDirectory,
      s"reference data directory not found: $dir " +
        "(needs Airports.csv and AirportsDetailed.csv)")

  /** Deterministic synthetic airport grid used by the testdata flight
    * pipeline: `n` airports 1 degree apart on the lat/lon diagonal,
    * each with reciprocal runways 09/27 at the field center.
    */
  def syntheticAirports(n: Int = 8): Array[Airport] =
    (0 until n).map { k =>
      val lat = 40.0 + k
      val lon = -100.0 + k
      val alt = 800.0 + 25 * k
      val code = f"AP$k%02d"
      Airport(
        code = code,
        name = s"Synthetic $code",
        city = s"City$k",
        state = "ND",
        lat = lat,
        lon = lon,
        alt = alt,
        runways = Seq(
          Runway(code, "09", 90.0, 90.0, lat, lon, alt),
          Runway(code, "27", 270.0, 270.0, lat, lon, alt)
        )
      )
    }.toArray
}
