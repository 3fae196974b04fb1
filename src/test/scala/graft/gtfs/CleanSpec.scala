package graft.gtfs

import java.nio.file.Files
import graft.SparkSpec
import graft.pipeline.Import
import org.apache.spark.sql.SparkSession

/** Cleaning transforms C2-C16 against the FIXTURES.md §B feed. */
class CleanSpec extends SparkSpec {

  implicit lazy val s: SparkSession = spark

  private lazy val rawFeed: Clean.Feed = {
    val dir = TestFeed.writeTo(Files.createTempDirectory("feed"))
    Import.readFeed(spark, dir)
  }

  private def ids(df: org.apache.spark.sql.DataFrame, c: String): Set[String] = {
    import spark.implicits._
    df.select(c).as[String].collect().toSet
  }

  test("C4 drops the (0,0)-coordinate stop") {
    val f = Clean.checkNullCoords(rawFeed)
    assert(!ids(f("stops"), "stop_id").contains("szero"))
    assert(ids(f("stops"), "stop_id").contains("s1"))
  }

  test("C11 merges attribute-equal agencies and remaps routes") {
    val f = Clean.removeRedundantAgencies(rawFeed)
    assert(ids(f("agency"), "agency_id") == Set("a1"))
    assert(ids(f("routes"), "agency_id") == Set("a1"))
  }

  test("C12 merges routes equal after agency remap") {
    val f = Clean.removeRedundantRoutes(Clean.removeRedundantAgencies(rawFeed))
    assert(ids(f("routes"), "route_id") == Set("r1"))
    assert(ids(f("trips"), "route_id") == Set("r1"))
  }

  test("C15 merges duplicate stops and remaps transfers") {
    val f = Clean.removeRedundantStops(rawFeed)
    assert(!ids(f("stops"), "stop_id").contains("s9dup"))
    assert(ids(f("transfers"), "from_stop_id") == Set("s2"))
  }

  test("C13 merges services with identical date sets") {
    val f = Clean.removeRedundantServices(rawFeed)
    val svc = ids(f("calendar_dates"), "service_id")
    assert(svc.contains("svc2") && !svc.contains("svc3"))
  }

  test("C16 merges trips identical in route/service/stop-time sequence") {
    val merged = Clean.removeRedundantTrips(
      Clean.removeRedundantRoutes(Clean.removeRedundantAgencies(rawFeed)))
    val trips = ids(merged("trips"), "trip_id")
    assert(trips.contains("t1") && !trips.contains("t2"))
    assert(!ids(merged("stop_times"), "trip_id").contains("t2"))
  }

  test("C7 simplifies collinear shapes to endpoints") {
    val f = Clean.minShapes(rawFeed, 1e-6)
    val sh1 = f("shapes").where("shape_id = 'sh1'")
    assert(sh1.count() == 2)
  }

  test("C14 merges identical polylines and remaps trips") {
    val f = Clean.removeRedundantShapes(rawFeed)
    assert(ids(f("shapes"), "shape_id") == Set("sh1"))
    import spark.implicits._
    val t4shape = f("trips").where("trip_id = 't4'")
      .select("shape_id").as[String].head()
    assert(t4shape == "sh1")
  }

  test("C10 cascades orphan deletion (missing service → trip → stop_times)") {
    val f = Clean.deleteOrphans(rawFeed)
    assert(!ids(f("trips"), "trip_id").contains("torphan"))
    assert(!ids(f("stop_times"), "trip_id").contains("torphan"))
  }

  test("C8 minimize-services preserves the expanded date set exactly") {
    val before = Views.serviceDays(rawFeed).where("service_id = 'svc1'")
      .select("svc_date").collect().map(_.getDate(0).toString).toSet
    val f = Clean.minimizeServices(rawFeed)
    val after = Views.serviceDays(f).where("service_id = 'svc1'")
      .select("svc_date").collect().map(_.getDate(0).toString).toSet
    assert(after == before)
    // and the weekly service re-encodes as a calendar row, not 9 dates
    assert(f("calendar").where("service_id = 'svc1'").count() == 1)
  }

  test("C9 folds constant-headway trips into frequencies") {
    val pre = Clean.removeRedundantRoutes(Clean.removeRedundantAgencies(rawFeed))
    val f = Clean.minimizeStopTimes(pre)
    val trips = ids(f("trips"), "trip_id")
    // t5/t6/t7 (09:00, 09:30, 10:00 — constant 1800s) fold: exemplar
    // t5 survives, t6/t7 drop, a frequencies row appears
    assert(trips.contains("t5") && !trips.contains("t6") && !trips.contains("t7"))
    import spark.implicits._
    val freq = f("frequencies").where("trip_id = 't5'")
      .select("start_time", "end_time", "headway_secs")
      .as[(String, String, Int)].collect()
    assert(freq.toSeq == Seq(("09:00:00", "10:30:00", 1800)))
  }

  test("full Clean pipeline runs end-to-end and keeps the feed consistent") {
    val f = Clean(rawFeed)
    val trips = ids(f("trips"), "trip_id")
    val stTrips = ids(f("stop_times"), "trip_id")
    assert(trips == stTrips, "every trip has stop_times and vice versa")
    assert(!trips.contains("torphan"))
    // all stop_times reference surviving stops
    val stops = ids(f("stops"), "stop_id")
    assert(ids(f("stop_times"), "stop_id").subsetOf(stops))
  }
}
