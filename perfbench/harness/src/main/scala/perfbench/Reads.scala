package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import java.time.{LocalDate, LocalTime, ZoneId, ZonedDateTime}
import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gtfs.{Geo, Views}
import graft.meta.MetaStore
import graft.pipeline.Import

/** The consumer workload: one client, closed loop, over the newest
  * published import. Operations:
  *
  *   board      departures top-20 for a stop on a service date, via
  *              `Views.arrivalsInRange` over the materialized V2
  *   nearby     `Geo.stopsByDistance`, k = 10
  *   day_trips  trips per route on a date, from materialized service_days
  *
  * `reopen` (`Import.openLatestImport`, the consumer's swap after a
  * publish) costs several reads, so it is timed three times in set-up
  * rather than mixed into the loop, whose sample it would dominate.
  *
  * The measured part runs whole rounds of a fixed mix, after untimed
  * warm-up rounds.
  *
  * Every answer is checked against [[Reference]], which is computed once
  * from the collected cleaned entities without the views code. The check
  * runs outside the timed window. */
object Reads {

  /** Fixed operation proportions; the seed shuffles the order and draws
    * the parameters. */
  private val Deck = Seq.fill(8)("board") ++ Seq.fill(5)("nearby") ++
    Seq.fill(5)("day_trips")
  val Ops: Seq[String] = Seq("board", "nearby", "day_trips")

  final case class Op(kind: String, stop: String = "", date: LocalDate = null,
      lat: Double = 0, lon: Double = 0)

  /** One operation's wall time, split into DataFrame construction and
    * execution, and the CPU time of the threads that did its work: the
    * calling thread (planning, code generation, partition discovery,
    * collecting the result) and Spark's task threads. The JIT and GC
    * threads, whose work lags the operation that caused it, are left out. */
  final case class Timing(kind: String, buildNs: Long, execNs: Long, cpuNs: Long) {
    def ms: Double = (buildNs + execNs) / 1e6
  }

  def run(o: Map[String, String]): Map[String, Any] = {
    val store = Paths.get(o("store"))
    val prefix = o("prefix")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val warmS = o("warm").toDouble
    val trace = o.get("trace").contains("1")
    val (spark, sparkStartS) = Harness.session()
    val phases = Seq.newBuilder[(String, Double)]
    val runStart = System.nanoTime()
    def phase(name: String): Unit = phases += name -> (System.nanoTime() - runStart) / 1e9

    // set-up, three times: open the newest import (the reopen operation)
    val expectedDb = MetaStore(store.toString).listImports(prefix).headOption
      .map(_.dbName).getOrElse(throw new IllegalStateException(s"no import in $store"))
    val opens = (1 to 3).map(_ => Harness.timeNs(Import.openLatestImport(spark, store, prefix)))
    val setupS = opens.map(_._2 / 1e9)
    phase("opened")
    val ref = Reference.load(spark)
    phase("reference")
    val dbPath = MetaStore(store.toString).databasePath(expectedDb)
    val reader = new Reader(spark, dbPath)

    val rng = new Random(seed)
    def deck(): Seq[Op] = rng.shuffle(Deck).map {
      case "board" => Op("board", stop = ref.boardStops(rng.nextInt(ref.boardStops.length)),
        date = ref.dates(rng.nextInt(ref.dates.length)))
      case "nearby" => Op("nearby", lat = 52.35 + rng.nextDouble() * 0.3,
        lon = 13.10 + rng.nextDouble() * 0.6)
      case _ => Op("day_trips", date = ref.dates(rng.nextInt(ref.dates.length)))
    }
    // warm-up: whole decks, untimed, for `warm` seconds, so lazy set-up,
    // code generation and the JIT have settled before timing
    val warmStart = System.nanoTime()
    do deck().foreach(reader.run(_, None))
    while ((System.nanoTime() - warmStart) / 1e9 < warmS)
    phase("warm")

    var attempted = opens.length
    var failed = 0
    val mismatches = Seq.newBuilder[String]
    opens.foreach { case (db, _) =>
      if (!db.contains(expectedDb)) {
        failed += 1
        mismatches += s"reopen: $db != $expectedDb"
      }
    }
    /** Runs `ops` in order, checking each answer. */
    def runOps(ops: Seq[Op], tracer: Option[Tracer]): Seq[Timing] = ops.flatMap { op =>
      attempted += 1
      try {
        val (answer, timing) = reader.run(op, tracer)
        ref.check(op, answer).foreach { m => failed += 1; mismatches += m }
        Some(timing)
      } catch {
        case e: Exception => failed += 1; mismatches += s"${op.kind}: ${e.getMessage}"; None
      }
    }
    /** Runs whole decks until `budgetS` has passed, and at least one, so
      * every run measures the operations in the same proportions. */
    def rounds(budgetS: Double): Seq[Timing] = {
      val out = Seq.newBuilder[Timing]
      val t0 = System.nanoTime()
      do out ++= runOps(deck(), None) while ((System.nanoTime() - t0) / 1e9 < budgetS)
      out.result()
    }
    val decks = Iterator.continually(deck()).flatten

    val result = Map.newBuilder[String, Any]
    if (!trace) {
      val timings = rounds(seconds)
      result += "latencies_ms" -> Ops.map(k => k -> timings.filter(_.kind == k).map(_.ms)).toMap
      result += "cpu_s" -> timings.map(_.cpuNs).sum / 1e9
    } else {
      // every operation runs twice, untraced and traced, in alternating
      // order; the paired difference is the tracing overhead
      val listener = JobListener.register(spark)
      val tracer = new Tracer(spark)
      var i = 0
      val pairs = Seq.newBuilder[(Timing, Timing)]
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds) {
        val op = decks.next()
        def once(tr: Option[Tracer]) = runOps(Seq(op), tr).headOption
        val (plain, traced) =
          if (i % 2 == 0) { val p = once(None); (p, once(Some(tracer))) }
          else { val t = once(Some(tracer)); (once(None), t) }
        for (p <- plain; t <- traced) pairs += p -> t
        i += 1
      }
      JobListener.drain(spark)
      val timed = pairs.result()
      val traced = timed.map(_._2)
      val boardExec = listener.total(_ == "reads.board.exec")
      val perOp = Ops.flatMap { k =>
        val ts = traced.filter(_.kind == k)
        val cnt = math.max(1, ts.length)
        Seq(s"reads.$k.build_ms" -> Harness.median(ts.map(_.buildNs / 1e6)),
          s"reads.$k.exec_ms" -> Harness.median(ts.map(_.execNs / 1e6)),
          s"reads.$k.jobs" -> listener.total(_.startsWith(s"reads.$k.")).jobs.toDouble / cnt)
      }
      val plainMs = timed.map(_._1.ms).sum
      result += "layers" -> (perOp.toMap ++ listener.sparkMetrics(_.startsWith("reads.")) ++ Map(
        "reads.reopen.build_ms" -> Harness.median(setupS.map(_ * 1e3)),
        "reads.board.tasks" -> boardExec.tasks.toDouble /
          math.max(1, traced.count(_.kind == "board")),
        "self.reads_s" -> tracer.selfSeconds.collect {
          case (k, v) if k.startsWith("reads.") => v }.sum,
        "trace.listener_s" -> listener.callbackNs / 1e9,
        "trace.overhead_pct" -> (traced.map(_.ms).sum / plainMs - 1) * 100))
      result += "spans" -> tracer.toJson
      result += "latencies_ms" -> Ops.map(k => k -> traced.filter(_.kind == k).map(_.ms)).toMap
    }
    phase("measured")
    spark.stop()
    phase("stopped")
    result.result() ++ Map("phases_s" -> phases.result().toMap,
      "spark_start_s" -> sparkStartS, "setup_s" -> setupS, "db" -> expectedDb,
      "attempted" -> attempted, "failed" -> failed,
      "mismatches" -> mismatches.result().take(5))
  }

  /** Runs one operation, timing DataFrame construction (`build`, which
    * includes partition discovery) apart from execution. */
  final class Reader(spark: SparkSession, db: Path) {
    private val arrivals = db.resolve("arrivals_departures").toString
    private val serviceDays = db.resolve("service_days").toString
    private val threads = ManagementFactory.getThreadMXBean
    private val taskCpu = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        taskCpu.addAndGet(m.executorDeserializeCpuTime + m.executorCpuTime)
      }
    })

    private def build(op: Op): DataFrame = op.kind match {
      case "board" =>
        val d = op.date.toString
        Views.arrivalsInRange(spark, arrivals, d, d)
          .where(col("stop_id") === op.stop)
          .select(col("trip_id"), col("stop_sequence"), col("shift"),
            col("t_departure").cast("long").as("t_dep"))
          .orderBy("t_dep", "trip_id", "shift", "stop_sequence")
          .limit(20)
      case "nearby" =>
        Geo.stopsByDistance(spark.table("stops"), op.lat, op.lon, 10)
          .select("stop_id", "distance_m")
      case "day_trips" =>
        spark.read.parquet(serviceDays)
          .where(col("svc_date") === lit(java.sql.Date.valueOf(op.date)))
          .join(spark.table("trips"), Seq("service_id"))
          .groupBy("route_id").count()
    }

    def run(op: Op, tracer: Option[Tracer]): (Seq[Row], Timing) = {
      def span[A](part: String)(body: => A): A =
        tracer.fold(body)(_.span(s"reads.${op.kind}.$part")(body))
      val (ownCpu, tasksCpu) = (threads.getCurrentThreadCpuTime, taskCpu.get)
      val (df, buildNs) = Harness.timeNs(span("build")(build(op)))
      val (rows, execNs) = Harness.timeNs(span("exec")(df.collect().toSeq))
      val cpuNs = threads.getCurrentThreadCpuTime - ownCpu
      JobListener.drain(spark)
      (rows, Timing(op.kind, buildNs, execNs, cpuNs + taskCpu.get - tasksCpu))
    }
  }

  /** Answers computed from the collected cleaned entities by plain Scala
    * that follows the GTFS rules directly (service-day expansion,
    * frequency replication, noon-minus-12h anchoring, haversine). */
  final class Reference(stops: Seq[(String, Double, Double)],
      tripsByService: Map[String, Seq[(String, String)]],
      services: LocalDate => Set[String],
      departuresAt: Map[String, Seq[(String, Int, Long, String)]],
      shifts: String => Seq[Long],
      val dates: IndexedSeq[LocalDate]) {

    val boardStops: IndexedSeq[String] = departuresAt.keys.toIndexedSeq.sorted

    def board(stop: String, date: LocalDate): Seq[(String, Int, Long, Long)] = {
      val active = services(date)
      departuresAt.getOrElse(stop, Nil).iterator
        .collect { case (trip, seq, depS, tz) if tripService(trip).exists(active) =>
          (trip, seq, depS, tz) }
        .flatMap { case (trip, seq, depS, tz) =>
          shifts(trip).map(sh => (trip, seq, sh, Reference.anchor(date, tz) + depS + sh)) }
        .toSeq.sortBy(r => (r._4, r._1, r._3, r._2)).take(20)
    }

    def nearby(lat: Double, lon: Double): Seq[(String, Double)] =
      stops.filter { case (_, la, lo) =>
        la >= lat - 1.0 && la <= lat + 1.0 && lo >= lon - 1.0 && lo <= lon + 1.0 }
        .map { case (id, la, lo) => (id, Reference.haversine(lat, lon, la, lo)) }
        .sortBy(r => (r._2, r._1)).take(10)

    def dayTrips(date: LocalDate): Map[String, Long] = {
      val active = services(date)
      tripsByService.iterator.filter(e => active(e._1)).flatMap(_._2)
        .toSeq.groupBy(_._2).map { case (r, ts) => r -> ts.length.toLong }
    }

    private lazy val tripService: Map[String, Option[String]] =
      tripsByService.toSeq.flatMap { case (s, ts) => ts.map(t => t._1 -> Option(s)) }
        .toMap.withDefaultValue(None)

    /** None when the answer matches, otherwise a description. */
    def check(op: Op, rows: Seq[Row]): Option[String] =
      op.kind match {
        case "board" =>
          val got = rows.map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
          val want = board(op.stop, op.date)
          if (got == want) None else Some(s"board ${op.stop} ${op.date}: $got != $want")
        case "nearby" =>
          val got = rows.map(r => (r.getString(0), r.getDouble(1)))
          val want = nearby(op.lat, op.lon)
          val ok = got.map(_._1) == want.map(_._1) &&
            got.zip(want).forall { case (g, w) => math.abs(g._2 - w._2) <= 1e-6 * math.max(1, w._2) }
          if (ok) None else Some(s"nearby ${op.lat},${op.lon}: $got != $want")
        case "day_trips" =>
          val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          val want = dayTrips(op.date)
          if (got == want) None else Some(s"day_trips ${op.date}: $got != $want")
      }
  }

  object Reference {
    private val EarthRadiusM = 6371008.8

    def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val dLat = math.toRadians(lat2 - lat1)
      val dLon = math.toRadians(lon2 - lon1)
      val a = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin(dLon / 2), 2)
      2 * EarthRadiusM * math.asin(math.sqrt(a))
    }

    /** Epoch seconds of local noon minus 12 h on `date` in `tz`. */
    def anchor(date: LocalDate, tz: String): Long =
      ZonedDateTime.of(date, LocalTime.NOON, ZoneId.of(tz)).toEpochSecond - 12 * 3600

    private def secs(t: String): Option[Long] = Option(t).flatMap { s =>
      s.split(":") match {
        case Array(h, m, x) => scala.util.Try(h.toLong * 3600 + m.toLong * 60 + x.toLong).toOption
        case _ => None
      }
    }

    private def ymd(s: String): LocalDate =
      LocalDate.of(s.take(4).toInt, s.slice(4, 6).toInt, s.slice(6, 8).toInt)

    private def rows(spark: SparkSession, table: String, cols: String*): Seq[Row] =
      if (!spark.catalog.tableExists(table)) Nil
      else spark.table(table).select(cols.map(col): _*).collect().toSeq

    def load(spark: SparkSession): Reference = {
      val stops = rows(spark, "stops", "stop_id", "stop_lat", "stop_lon")
        .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      val tz = {
        val agencyTz = rows(spark, "agency", "agency_id", "agency_timezone")
          .map(r => r.getString(0) -> Option(r.getString(1)).getOrElse("UTC")).toMap
        rows(spark, "routes", "route_id", "agency_id")
          .map(r => r.getString(0) -> agencyTz.getOrElse(r.getString(1), "UTC")).toMap
      }
      val trips = rows(spark, "trips", "trip_id", "route_id", "service_id")
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      val tripTz = trips.map(t => t._1 -> tz.getOrElse(t._2, "UTC")).toMap

      val calendar = rows(spark, "calendar", "service_id", "monday", "tuesday",
        "wednesday", "thursday", "friday", "saturday", "sunday", "start_date", "end_date")
      val exceptions = rows(spark, "calendar_dates", "service_id", "date", "exception_type")
        .map(r => (r.getString(0), ymd(r.getString(1)), r.getInt(2)))
      def services(d: LocalDate): Set[String] = {
        val dow = d.getDayOfWeek.getValue // Monday = 1
        val weekly = calendar.filter { r =>
          !r.isNullAt(8) && !r.isNullAt(9) && !ymd(r.getString(8)).isAfter(d) &&
            !ymd(r.getString(9)).isBefore(d) && !r.isNullAt(dow) && r.getInt(dow) == 1
        }.map(_.getString(0)).toSet
        val added = exceptions.collect { case (s, `d`, 1) => s }.toSet
        val removed = exceptions.collect { case (s, `d`, 2) => s }.toSet
        (weekly ++ added) -- removed
      }

      val stopTimes = rows(spark, "stop_times", "trip_id", "stop_id", "stop_sequence",
        "departure_time")
      val depSecs = stopTimes.map(r => (r.getString(0), r.getString(1), r.getInt(2),
        secs(r.getString(3))))
      val firstDep = depSecs.groupBy(_._1).flatMap { case (t, rs) =>
        rs.flatMap(_._4).minOption.map(t -> _) }
      val freqShifts: Map[String, Seq[Long]] =
        rows(spark, "frequencies", "trip_id", "start_time", "end_time", "headway_secs")
          .flatMap { r =>
            for {
              s0 <- secs(r.getString(1)); s1 <- secs(r.getString(2))
              hw <- Option(r.get(3)).map(_.toString.toLong) if hw > 0 && s1 > s0
            } yield r.getString(0) -> (s0 until s1 by hw)
          }
          .groupBy(_._1).map { case (t, rs) =>
            t -> rs.flatMap(_._2).flatMap(d => firstDep.get(t).map(d - _)) }

      val tripIds = trips.map(_._1).toSet
      val departures = depSecs.collect {
        case (t, stop, seq, Some(dep)) if tripIds(t) => (stop, (t, seq, dep, tripTz(t)))
      }.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2) }
      val spans = calendar.flatMap(r => Seq(8, 9).filterNot(r.isNullAt).map(i => ymd(r.getString(i)))) ++
        exceptions.map(_._2)
      val dates = Iterator.iterate(spans.min)(_.plusDays(1))
        .takeWhile(!_.isAfter(spans.max)).filter(d => services(d).nonEmpty).toIndexedSeq

      new Reference(stops,
        trips.groupBy(_._3).map { case (s, ts) => s -> ts.map(t => (t._1, t._2)) },
        d => services(d), departures, t => freqShifts.getOrElse(t, Seq(0L)), dates)
    }
  }
}
