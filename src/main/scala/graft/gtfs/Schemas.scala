package graft.gtfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Declared StructTypes for every GTFS Schedule entity the reference
  * loads (gtfs-to-sql over `"$gtfs_path/"*.txt`,
  * /root/reference/import.sh:124-132), per SURVEY.md §1.2. Schemas are
  * data, not code: explicit types, no production inference. GTFS times
  * (arrival_time etc., HH:MM:SS with HH ≥ 24) stay STRING at ingest and
  * are parsed to seconds by [[GtfsTime]] — never TimestampType.
  */
object Schemas {

  val agency: StructType = StructType(Seq(
    StructField("agency_id", StringType),
    StructField("agency_name", StringType),
    StructField("agency_url", StringType),
    StructField("agency_timezone", StringType),
    StructField("agency_lang", StringType),
    StructField("agency_phone", StringType)))

  val stops: StructType = StructType(Seq(
    StructField("stop_id", StringType, nullable = false),
    StructField("stop_code", StringType),
    StructField("stop_name", StringType),
    StructField("stop_lat", DoubleType),
    StructField("stop_lon", DoubleType),
    StructField("location_type", IntegerType),
    StructField("parent_station", StringType),
    StructField("wheelchair_boarding", IntegerType)))

  val routes: StructType = StructType(Seq(
    StructField("route_id", StringType, nullable = false),
    StructField("agency_id", StringType),
    StructField("route_short_name", StringType),
    StructField("route_long_name", StringType),
    StructField("route_type", IntegerType),
    StructField("route_color", StringType),
    StructField("route_text_color", StringType)))

  val trips: StructType = StructType(Seq(
    StructField("trip_id", StringType, nullable = false),
    StructField("route_id", StringType),
    StructField("service_id", StringType),
    StructField("trip_headsign", StringType),
    StructField("direction_id", IntegerType),
    StructField("block_id", StringType),
    StructField("shape_id", StringType),   // nullable per L1 --trips-without-shape-id
    StructField("wheelchair_accessible", IntegerType)))

  val stopTimes: StructType = StructType(Seq(
    StructField("trip_id", StringType, nullable = false),
    StructField("arrival_time", StringType),   // GTFS time, HH may be >= 24
    StructField("departure_time", StringType),
    StructField("stop_id", StringType),
    StructField("stop_sequence", IntegerType),
    StructField("stop_headsign", StringType),
    StructField("pickup_type", IntegerType),
    StructField("drop_off_type", IntegerType),
    StructField("shape_dist_traveled", DoubleType),
    StructField("timepoint", IntegerType)))

  val calendar: StructType = StructType(Seq(
    StructField("service_id", StringType, nullable = false),
    StructField("monday", IntegerType), StructField("tuesday", IntegerType),
    StructField("wednesday", IntegerType), StructField("thursday", IntegerType),
    StructField("friday", IntegerType), StructField("saturday", IntegerType),
    StructField("sunday", IntegerType),
    StructField("start_date", StringType),   // yyyyMMdd, parsed via to_date
    StructField("end_date", StringType)))

  val calendarDates: StructType = StructType(Seq(
    StructField("service_id", StringType, nullable = false),
    StructField("date", StringType),
    StructField("exception_type", IntegerType)))  // 1 = added, 2 = removed

  val frequencies: StructType = StructType(Seq(
    StructField("trip_id", StringType, nullable = false),
    StructField("start_time", StringType),
    StructField("end_time", StringType),
    StructField("headway_secs", IntegerType),
    StructField("exact_times", IntegerType)))

  val shapes: StructType = StructType(Seq(
    StructField("shape_id", StringType, nullable = false),
    StructField("shape_pt_lat", DoubleType),
    StructField("shape_pt_lon", DoubleType),
    StructField("shape_pt_sequence", IntegerType),
    StructField("shape_dist_traveled", DoubleType)))

  val transfers: StructType = StructType(Seq(
    StructField("from_stop_id", StringType),
    StructField("to_stop_id", StringType),
    StructField("transfer_type", IntegerType),
    StructField("min_transfer_time", IntegerType)))

  val feedInfo: StructType = StructType(Seq(
    StructField("feed_publisher_name", StringType),
    StructField("feed_publisher_url", StringType),
    StructField("feed_lang", StringType),
    StructField("feed_start_date", StringType),
    StructField("feed_end_date", StringType),
    StructField("feed_version", StringType)))

  val translations: StructType = StructType(Seq(
    StructField("table_name", StringType),
    StructField("field_name", StringType),
    StructField("language", StringType),
    StructField("translation", StringType),
    StructField("record_id", StringType),
    StructField("record_sub_id", StringType),
    StructField("field_value", StringType)))

  /** entity name (= file stem of <entity>.txt) → declared schema */
  val all: Map[String, StructType] = Map(
    "agency" -> agency, "stops" -> stops, "routes" -> routes,
    "trips" -> trips, "stop_times" -> stopTimes, "calendar" -> calendar,
    "calendar_dates" -> calendarDates, "frequencies" -> frequencies,
    "shapes" -> shapes, "transfers" -> transfers, "feed_info" -> feedInfo,
    "translations" -> translations)

  /** S3: schema'd CSV scan of one entity file. GTFS files may contain
    * any subset of the spec columns in any order, so columns are mapped
    * BY HEADER NAME (a positional `.schema(...)` read silently
    * misassigns columns — found by CleanSpec). Values are typed via
    * try_cast: unparseable cells become NULL for the C2/C3 machinery to
    * default or drop (PERMISSIVE, the C1 --fix-zip analog) instead of
    * failing the scan under ANSI mode. Non-spec columns are dropped
    * (C5 --keep-additional-fields=off). */
  def readEntity(spark: SparkSession, dir: String, entity: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, lit}
    val schema = all(entity)
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      // RFC-4180: quoted fields may contain embedded newlines (stop_name,
      // trip_headsign) and doubled quotes — without multiLine one record
      // splits into two malformed rows that try_cast nulls or C3 drops.
      // Cost at scale: multiLine files aren't splittable, but GTFS feeds
      // are one modest file per entity (the reference loads them through
      // a single psql stream anyway — import.sh:124-132).
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(s"$dir/$entity.txt")
    val spec = schema.fields.map { f =>
      if (raw.columns.contains(f.name))
        expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})").as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    raw.select(spec.toIndexedSeq: _*)
  }
}
