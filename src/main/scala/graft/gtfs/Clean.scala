package graft.gtfs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** gtfsclean's cleaning transforms (SURVEY.md §2.4 C1-C19) under the
  * reference's fixed flag set (import.sh:44-111), as DataFrame →
  * DataFrame programs over a [[Clean.Feed]].
  *
  * Scale design: every merge is groupBy-attrs + min(id) canonical +
  * remap join (no collects of fact-scale state); ordered-collect
  * signatures only see per-trip / per-shape groups (bounded by feed
  * geometry, not feed size); orphan cascades are left-semi joins in
  * dependency order. All shuffles key on the natural entity ids.
  */
object Clean {

  /** A GTFS feed: entity name → DataFrame (missing entities absent). */
  type Feed = Map[String, DataFrame]

  /** The reference runs gtfsclean with a fixed flag set
    * (import.sh:44-111); its only switch is GTFSTIDY_BEFORE_IMPORT, which
    * turns the whole stage on or off (C17). */
  final case class Config(enabled: Boolean = true) {
    def minShapesEpsilonDeg: Double = MinShapesEpsilonDeg
  }

  /** C7 Douglas-Peucker tolerance, in degrees. */
  val MinShapesEpsilonDeg = 1e-5

  /** Lineage barrier between pipeline stages. Each cleaning stage
    * re-references several entities' plans; composed lazily, the
    * Catalyst plan is a TREE, so 14 stages of cross-entity joins expand
    * exponentially and analysis alone becomes the bottleneck (observed:
    * minutes of planner CPU on a toy feed). A lazy localCheckpoint
    * truncates the logical plan after every stage — the Spark analog of
    * the reference's `sponge` materialization barrier
    * (/root/reference/import.sh:131) — bounding plan depth to one stage
    * and computing each stage once (the checkpointed RDD is shared by
    * all downstream references). On a multi-tenant cluster set
    * `spark.graft.checkpointDir` and [[graft.ops.Checkpoints.pin]]
    * switches every barrier to a reliable `checkpoint` (HDFS-backed) —
    * same structure, executor-loss-safe. */
  private def barrier(feed: Feed): Feed =
    feed.map { case (n, df) => n -> graft.ops.Checkpoints.pin(df) }

  /** The cleaning pipeline, in the reference's order: each stage's
    * name (as written to the per-import clean log) and transform. */
  def stages(implicit spark: SparkSession): Seq[(String, Feed => Feed)] = Seq(
    "keep-spec-columns" -> keepSpecColumns,
    "default-on-errs" -> defaultOnErrs,
    "drop-errs" -> dropErrs,
    "check-null-coords" -> checkNullCoords,
    "remove-red-agencies" -> removeRedundantAgencies,
    "remove-red-stops" -> removeRedundantStops,
    "remove-red-routes" -> removeRedundantRoutes,
    "remove-red-services" -> (removeRedundantServices(_)),
    "minimize-services" -> (minimizeServices(_)),
    "minimize-stoptimes" -> (minimizeStopTimes(_)),
    "min-shapes" -> (minShapes(_, MinShapesEpsilonDeg)),
    "remove-red-shapes" -> removeRedundantShapes,
    "remove-red-trips" -> removeRedundantTrips,
    "delete-orphans" -> deleteOrphans)

  /** Run every stage in order, with a [[barrier]] after each. */
  def apply(feed: Feed, cfg: Config = Config())(implicit spark: SparkSession): Feed =
    if (!cfg.enabled) feed // C17 bypass (import.sh:38)
    else stages.foldLeft(feed) { case (f, (_, stage)) => barrier(stage(f)) }

  // C5 --keep-additional-fields=off: project to spec columns only.
  def keepSpecColumns(feed: Feed): Feed =
    feed.map { case (name, df) =>
      Schemas.all.get(name) match {
        case Some(schema) =>
          val spec = schema.fieldNames.toSet
          val keep = df.columns.filter(spec.contains)
          name -> df.select(keep.map(col).toIndexedSeq: _*)
        case None => name -> df
      }
    }

  // C2 --default-on-errs: invalid enum/typed values → spec defaults.
  def defaultOnErrs(feed: Feed): Feed = {
    def clampEnum(c: String, lo: Int, hi: Int, default: Int): DataFrame => DataFrame =
      df => if (!df.columns.contains(c)) df
      else df.withColumn(c,
        when(col(c).isNull || col(c) < lo || col(c) > hi, default).otherwise(col(c)))
    feed.map {
      case ("stops", df) =>
        "stops" -> clampEnum("location_type", 0, 4, 0)(
          clampEnum("wheelchair_boarding", 0, 2, 0)(df))
      case ("routes", df) =>
        "routes" -> clampEnum("route_type", 0, 1702, 3)(df)
      case ("stop_times", df) =>
        "stop_times" -> clampEnum("pickup_type", 0, 3, 0)(
          clampEnum("drop_off_type", 0, 3, 0)(clampEnum("timepoint", 0, 1, 1)(df)))
      case ("calendar_dates", df) =>
        "calendar_dates" -> clampEnum("exception_type", 1, 2, 1)(df)
      case (n, df) => n -> df
    }
  }

  // C3 --drop-errs: rows missing required keys are unrecoverable.
  def dropErrs(feed: Feed): Feed = {
    val required: Map[String, Seq[String]] = Map(
      "stops" -> Seq("stop_id"),
      "routes" -> Seq("route_id"),
      "trips" -> Seq("trip_id", "route_id", "service_id"),
      "stop_times" -> Seq("trip_id", "stop_id", "stop_sequence"),
      "calendar" -> Seq("service_id", "start_date", "end_date"),
      "calendar_dates" -> Seq("service_id", "date"),
      "frequencies" -> Seq("trip_id", "start_time", "end_time", "headway_secs"),
      "shapes" -> Seq("shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence"))
    feed.map { case (name, df) =>
      required.get(name) match {
        case Some(cols) if cols.forall(df.columns.contains) =>
          name -> df.where(cols.map(col(_).isNotNull).reduce(_ && _))
        case _ => name -> df
      }
    }
  }

  // C4 --check-null-coords: null or (0,0) stop coordinates are errors.
  def checkNullCoords(feed: Feed): Feed =
    feed.get("stops") match {
      case Some(stops) =>
        feed.updated("stops", stops.where(
          col("stop_lat").isNotNull && col("stop_lon").isNotNull &&
            !(col("stop_lat") === 0.0 && col("stop_lon") === 0.0)))
      case None => feed
    }

  /** Canonical id of every row = min(id) over the rows with equal `key`
    * (deterministic, C6-compatible — SURVEY.md §7.4 #5). Returns the
    * (id, canonical) remap and the rows whose id is canonical. */
  private def canonicalIds(df: DataFrame, id: String, key: Seq[Column])
      : (DataFrame, DataFrame) = {
    val withCanon = df.withColumn("canonical", min(col(id)).over(Window.partitionBy(key: _*)))
    (withCanon.select(col(id), col("canonical")),
      withCanon.where(col(id) === col("canonical")).drop("canonical"))
  }

  /** Generic redundant-entity merge: rows equal on every column but `id`
    * collapse onto the canonical id. Returns (deduped entity,
    * id→canonical remap). */
  private def mergeOn(df: DataFrame, id: String): (DataFrame, DataFrame) = {
    val (remap, deduped) = canonicalIds(df, id, df.columns.filterNot(_ == id).toSeq
      .map(c => coalesce(col(c).cast("string"), lit("\u2400null"))))
    (deduped, remap)
  }

  /** Remap a FK column through an (id, canonical) map. Null FKs pass
    * through (left join). */
  private def remapFk(df: DataFrame, fk: String, remap: DataFrame, idCol: String): DataFrame =
    df.join(remap.withColumnRenamed(idCol, "_rk"),
        col(fk) === col("_rk"), "left")
      .withColumn(fk, coalesce(col("canonical"), col(fk)))
      .drop("_rk", "canonical")

  // C11 --remove-red-agencies (import.sh:83-85)
  def removeRedundantAgencies(feed: Feed): Feed =
    (feed.get("agency"), feed.get("routes")) match {
      case (Some(agency), routesOpt) =>
        val (deduped, remap) = mergeOn(agency, "agency_id")
        val f1 = feed.updated("agency", deduped)
        routesOpt match {
          case Some(routes) if routes.columns.contains("agency_id") =>
            f1.updated("routes", remapFk(routes, "agency_id", remap, "agency_id"))
          case _ => f1
        }
      case _ => feed
    }

  // C12 --remove-red-routes (import.sh:86-88)
  def removeRedundantRoutes(feed: Feed): Feed =
    (feed.get("routes"), feed.get("trips")) match {
      case (Some(routes), tripsOpt) =>
        val (deduped, remap) = mergeOn(routes, "route_id")
        val f1 = feed.updated("routes", deduped)
        tripsOpt match {
          case Some(trips) =>
            f1.updated("trips", remapFk(trips, "route_id", remap, "route_id"))
          case None => f1
        }
      case _ => feed
    }

  // C15 --remove-red-stops (import.sh:95-97): equal on location+attrs;
  // remap stop_times, transfers, parent_station self-references.
  def removeRedundantStops(feed: Feed): Feed =
    feed.get("stops") match {
      case Some(stops) =>
        val (deduped, remap) = mergeOn(stops, "stop_id")
        var f = feed.updated("stops",
          if (deduped.columns.contains("parent_station"))
            remapFk(deduped, "parent_station", remap, "stop_id")
          else deduped)
        feed.get("stop_times").foreach { st =>
          f = f.updated("stop_times", remapFk(st, "stop_id", remap, "stop_id"))
        }
        feed.get("transfers").foreach { tr =>
          f = f.updated("transfers",
            remapFk(remapFk(tr, "from_stop_id", remap, "stop_id"),
              "to_stop_id", remap, "stop_id"))
        }
        f
      case None => feed
    }

  /** Canonical per-service date-set signature: ordered distinct dates
    * digest. Groups are bounded by the service's calendar span. */
  private def serviceSignatures(feed: Feed)(implicit spark: SparkSession): DataFrame = {
    val days = Views.serviceDays(feed)
    days.select(col("service_id"), date_format(col("svc_date"), "yyyyMMdd").as("d"))
      .distinct()
      .groupBy("service_id")
      .agg(sha2(array_join(array_sort(collect_list(col("d"))), ","), 256).as("dsig"))
  }

  // C13 --remove-red-services (import.sh:89-91): identical date sets.
  def removeRedundantServices(feed: Feed)(implicit spark: SparkSession): Feed = {
    if (!feed.contains("calendar") && !feed.contains("calendar_dates")) return feed
    val (remap, canon) = canonicalIds(serviceSignatures(feed), "service_id", Seq(col("dsig")))
    val keep = canon.select("service_id")
    var f = feed
    feed.get("calendar").foreach { c =>
      f = f.updated("calendar", c.join(keep, Seq("service_id"), "left_semi"))
    }
    feed.get("calendar_dates").foreach { cd =>
      f = f.updated("calendar_dates", cd.join(keep, Seq("service_id"), "left_semi"))
    }
    feed.get("trips").foreach { t =>
      f = f.updated("trips", remapFk(t, "service_id", remap, "service_id"))
    }
    f
  }

  // C7 --min-shapes (import.sh:71-73): Douglas-Peucker per shape.
  // flatMapGroups over one shape's ordered points — bounded group.
  def minShapes(feed: Feed, epsilonDeg: Double)(implicit spark: SparkSession): Feed =
    feed.get("shapes") match {
      case Some(shapes) =>
        import spark.implicits._
        val simplified = shapes
          .select(col("shape_id"), col("shape_pt_lat"), col("shape_pt_lon"),
            col("shape_pt_sequence"))
          .as[(String, Double, Double, Int)]
          .groupByKey(_._1)
          .flatMapGroups { (sid, it) =>
            val pts = it.map(r => Geo.Pt(r._4, r._2, r._3)).toIndexedSeq.sortBy(_.seq)
            Geo.douglasPeucker(pts, epsilonDeg).zipWithIndex.map { case (p, i) =>
              (sid, p.lat, p.lon, i + 1)
            }
          }
          .toDF("shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence")
        feed.updated("shapes", simplified)
      case None => feed
    }

  /** Ordered polyline signature per shape (bounded per-shape group). */
  private def shapeSignatures(shapes: DataFrame): DataFrame =
    shapes
      .select(col("shape_id"),
        struct(col("shape_pt_sequence"), col("shape_pt_lat"), col("shape_pt_lon")).as("p"))
      .groupBy("shape_id")
      .agg(sha2(array_join(transform(array_sort(collect_list(col("p"))),
        x => concat_ws(",",
          x.getField("shape_pt_lat").cast("string"),
          x.getField("shape_pt_lon").cast("string"))), ";"), 256).as("ssig"))

  // C14 --remove-red-shapes (import.sh:92-94)
  def removeRedundantShapes(feed: Feed): Feed =
    feed.get("shapes") match {
      case Some(shapes) =>
        val (remap, canon) = canonicalIds(shapeSignatures(shapes), "shape_id", Seq(col("ssig")))
        val keep = canon.select("shape_id")
        var f = feed.updated("shapes", shapes.join(keep, Seq("shape_id"), "left_semi"))
        feed.get("trips").foreach { t =>
          f = f.updated("trips", remapFk(t, "shape_id", remap, "shape_id"))
        }
        f
      case None => feed
    }

  /** Relative stop-time signature per trip: (trip_id, t0 = first
    * departure, rsig = digest of the ordered (stop_id, arrival − t0,
    * departure − t0) sequence). Bounded group: stops per trip. */
  private def relativeStopTimes(st: DataFrame): DataFrame =
    st.select(col("trip_id"), col("stop_sequence"), col("stop_id"),
        GtfsTime.toSeconds(col("arrival_time")).as("arr_s"),
        GtfsTime.toSeconds(col("departure_time")).as("dep_s"))
      .groupBy("trip_id")
      .agg(min("dep_s").as("t0"),
        array_sort(collect_list(struct(col("stop_sequence"), col("stop_id"),
          col("arr_s"), col("dep_s")))).as("seq"))
      .select(col("trip_id"), col("t0"),
        sha2(array_join(transform(col("seq"), x => concat_ws(":",
          x.getField("stop_id"),
          (x.getField("arr_s") - col("t0")).cast("string"),
          (x.getField("dep_s") - col("t0")).cast("string"))), "|"), 256).as("rsig"))

  /** Trip signature: route, service, relative stop times and first
    * departure. The absolute t0 is part of it, so time-shifted but
    * otherwise identical trips do NOT merge (matching gtfsclean, which
    * folds those via frequencies instead — C9). */
  private def tripSignatures(feed: Feed): Option[DataFrame] =
    (feed.get("trips"), feed.get("stop_times")) match {
      case (Some(trips), Some(st)) =>
        Some(trips.join(relativeStopTimes(st), Seq("trip_id"), "left")
          .withColumn("tsig", sha2(concat_ws("#",
            coalesce(col("route_id"), lit("")),
            coalesce(col("service_id"), lit("")),
            coalesce(col("rsig"), lit("")),
            coalesce(col("t0").cast("string"), lit(""))), 256))
          .select("trip_id", "tsig"))
      case _ => None
    }

  // C16 --remove-red-trips (import.sh:98-100)
  def removeRedundantTrips(feed: Feed): Feed =
    tripSignatures(feed) match {
      case Some(sig) =>
        val (remap, canon) = canonicalIds(sig, "trip_id", Seq(col("tsig")))
        val keep = canon.select("trip_id")
        var f = feed
        feed.get("trips").foreach { t =>
          f = f.updated("trips", t.join(keep, Seq("trip_id"), "left_semi"))
        }
        feed.get("stop_times").foreach { st =>
          f = f.updated("stop_times", st.join(keep, Seq("trip_id"), "left_semi"))
        }
        feed.get("frequencies").foreach { fr =>
          f = f.updated("frequencies", remapFk(fr, "trip_id", remap, "trip_id")
            .dropDuplicates())
        }
        f
      case None => feed
    }

  // C8 --minimize-services (import.sh:74-76): re-encode each service as
  // the cheaper of (weekly calendar + exceptions) vs (pure
  // calendar_dates). The mask keeps a weekday only when the service
  // runs on EVERY occurrence of it within [min,max] — so the encoding
  // never needs exception_type=2 rows and expansion is exactly
  // preserved (property-tested in CleanSpec). Per-service fan-out is
  // bounded by the calendar span.
  def minimizeServices(feed: Feed)(implicit spark: SparkSession): Feed = {
    if (!feed.contains("calendar") && !feed.contains("calendar_dates")) return feed
    val days = Views.serviceDays(feed).select("service_id", "svc_date")
    // The whole weekly-mask decision folds into ONE aggregation over
    // `days` plus row-level arithmetic:
    //   - per-dow actual counts ride the span agg as 7 conditional
    //     counts;
    //   - the service's distinct date set itself rides the SAME
    //     aggregation (collect_set shares the partial-agg pass), so the
    //     exception-date enumeration below is a row-local explode of
    //     `enc`. Joining `days` back against enc instead would make
    //     `days` a two-consumer subtree whose exchange is pinned and
    //     re-read; this shape runs the days pipeline exactly once.
    //     Per-group state = one service's distinct dates — bounded by
    //     its calendar span (GTFS feeds span ≤ a few years, ≤ ~1500
    //     entries), a dimension bound, never corpus-scale;
    //   - occurrences of weekday dw in [d0, d1] in CLOSED FORM —
    //     first-occurrence offset o = (dw − weekday(d0)) mod 7, then
    //     1 + ⌊(len − 1 − o) / 7⌋ if o < len else 0 — a day-granular
    //     explode would pay a corpus-scale shuffle to count what
    //     arithmetic already knows;
    //   - mask bit dw = (possible_dw > 0 AND actual_dw = possible_dw):
    //     a dow the span never contains stays out of the mask, exactly
    //     the semantics the old dropped-zero-possible rows encoded.
    // collect_set also dedups, but serviceDays already emits distinct
    // (service_id, svc_date) on a service_id partitioning, so the
    // count/na_* aggregates see deduped rows (they must: a duplicate
    // date would skew the coverage counts).
    val dowCounts = (0 to 6).map(dw =>
      count(when(expr(s"weekday(svc_date) = $dw"), 1)).as(s"na_$dw"))
    val span = days.groupBy("service_id")
      .agg(min("svc_date").as("d0"),
        (Seq(max("svc_date").as("d1"), count(lit(1)).as("n_dates"),
          sort_array(collect_set(col("svc_date"))).as("dates")) ++
          dowCounts): _*)
    val len = datediff(col("d1"), col("d0")) + 1
    def nPossible(dw: Int) = {
      val o = (lit(dw) - expr("weekday(d0)") + 7) % 7
      when(o < len, lit(1) + floor((len - 1 - o) / 7)).otherwise(lit(0))
    }
    def inMask(dw: Int) =
      (nPossible(dw) > 0 && col(s"na_$dw") === nPossible(dw)).cast("int")
    // `enc` has TWO consumers (newCalendar, newCalDates) whose pruned
    // subtrees canonicalize differently, so left lazy the mask pipeline
    // would run twice. enc is ONE ROW PER SERVICE — dimension-scale at
    // any corpus size (services ≪ stop_times) — so materialize it:
    // persist + deferred unpersist via ops.Releases (the fixpoint's
    // caller-owns-release pattern; Verify/Bench/Probe/Explain and the
    // import path drain).
    val enc = span
      .select(Seq(col("service_id"), col("d0"), col("d1"), col("n_dates"),
        col("dates")) ++
        (0 to 6).map(dw => inMask(dw).as(s"dow_$dw")) ++
        Seq((0 to 6).map(dw => when(inMask(dw) === 1, col(s"na_$dw"))
          .otherwise(lit(0L))).reduce(_ + _).as("n_covered")): _*)
      .withColumn("mask_arr", array((0 to 6).map(dw => col(s"dow_$dw")): _*))
      .withColumn("cost_cal", lit(1) + (col("n_dates") - col("n_covered")))
      .withColumn("use_calendar",
        col("cost_cal") < col("n_dates") && col("n_covered") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // blocking: runs at drain, post-materialization — memory must be
    // observably freed when drain returns (WarmupSpec pins this)
    graft.ops.Releases.defer(() => { enc.unpersist(true); () })
    val dowNames = Seq("monday", "tuesday", "wednesday", "thursday", "friday",
      "saturday", "sunday")
    val newCalendar = enc.where(col("use_calendar"))
      .select(Seq(col("service_id")) ++
        dowNames.zipWithIndex.map { case (n, i) => col(s"dow_$i").as(n) } ++
        Seq(date_format(col("d0"), "yyyyMMdd").as("start_date"),
          date_format(col("d1"), "yyyyMMdd").as("end_date")): _*)
    val newCalDates = enc
      .select(col("service_id"), col("use_calendar"), col("mask_arr"),
        explode(col("dates")).as("svc_date"))
      .where(!col("use_calendar") ||
        element_at(col("mask_arr"), expr("weekday(svc_date)") + 1) === 0)
      .select(col("service_id"), date_format(col("svc_date"), "yyyyMMdd").as("date"),
        lit(1).as("exception_type"))
    feed.updated("calendar", newCalendar).updated("calendar_dates", newCalDates)
  }

  // C9 --minimize-stoptimes (import.sh:77-79): trips identical up to a
  // time shift that repeat at constant headway fold into
  // frequencies.txt (exact_times=1): islands of constant first-departure
  // delta per (route, service, relative-stop-sequence signature).
  def minimizeStopTimes(feed: Feed)(implicit spark: SparkSession): Feed =
    (feed.get("trips"), feed.get("stop_times")) match {
      case (Some(trips), Some(st)) =>
        val keyed = trips.join(relativeStopTimes(st), Seq("trip_id"))
          .select(col("trip_id"), col("route_id"), col("service_id"),
            col("rsig"), col("t0"))
        val wOrd = Window.partitionBy("route_id", "service_id", "rsig")
          .orderBy("t0", "trip_id")
        val withDelta = keyed
          .withColumn("delta", col("t0") - lag("t0", 1).over(wOrd))
          .withColumn("boundary",
            when(col("delta").isNull || !(col("delta") <=> lag("delta", 1).over(wOrd)) ||
              col("delta") <= 0, 1).otherwise(0))
          .withColumn("run_id", sum("boundary").over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        // Fold runs of >= 3 equally-spaced trips (2+ equal gaps). A run's
        // rows carry the gap to their predecessor, so the run's first
        // TRIP is the row immediately before the run's first gap row —
        // UNLESS that row is itself a gap row of a foldable run (two
        // ADJACENT runs with different headways share their boundary
        // trip; folding it into both would drop run B's exemplar as a
        // member of run A, leaving a dangling frequencies.trip_id).
        // Priority goes to the earlier run; the later run folds without
        // its predecessor only if it still covers >= 3 trips.
        val runKey = Seq("route_id", "service_id", "rsig", "run_id")
        val foldable = withDelta.where(col("delta").isNotNull && col("delta") > 0)
          .groupBy(runKey.map(col): _*)
          .agg(count(lit(1)).as("n_gaps"), min("delta").as("headway_secs"))
          .where(col("n_gaps") >= 2)
        val prevOfRun = withDelta
          .withColumn("next_run", lead("run_id", 1).over(wOrd))
        val members = withDelta.join(foldable.select(runKey.map(col): _*), runKey)
          .select(col("trip_id"), col("route_id"), col("service_id"),
            col("rsig"), col("run_id"), col("t0"))
        val predecessors = prevOfRun
          // exclude predecessors whose OWN run is foldable (overlap case)
          .join(foldable.select(runKey.map(col): _*), runKey, "left_anti")
          .join(foldable.select(col("route_id"), col("service_id"), col("rsig"),
            col("run_id").as("next_run")).distinct(),
            Seq("route_id", "service_id", "rsig", "next_run"))
          .where(col("run_id") =!= col("next_run"))
          .select(col("trip_id"), col("route_id"), col("service_id"),
            col("rsig"), col("next_run").as("run_id"), col("t0"))
        val folded0 = members.unionByName(predecessors)
        val wFold = Window.partitionBy("route_id", "service_id", "rsig", "run_id")
        // folds shrunk below 3 trips by the exclusion stay scheduled
        val folded = folded0
          .withColumn("fold_size", count(lit(1)).over(wFold))
          .where(col("fold_size") >= 3)
          .drop("fold_size")
        val exemplars = folded
          .withColumn("keep_trip", first("trip_id").over(
            wFold.orderBy("t0", "trip_id")
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        val freqRows = exemplars
          .join(foldable, runKey)
          .groupBy(col("keep_trip").as("trip_id"))
          .agg(GtfsTime.toGtfsString(min("t0")).as("start_time"),
            // half-open [start, end): end = last departure + headway
            GtfsTime.toGtfsString(max(col("t0")) + min(col("headway_secs")))
              .as("end_time"),
            min("headway_secs").cast("int").as("headway_secs"),
            lit(1).as("exact_times"))
        val dropTrips = exemplars.where(col("trip_id") =!= col("keep_trip"))
          .select("trip_id").distinct()
        val newTrips = trips.join(dropTrips, Seq("trip_id"), "left_anti")
        val newSt = st.join(dropTrips, Seq("trip_id"), "left_anti")
        val newFreq = feed.get("frequencies") match {
          case Some(fr) => fr.unionByName(freqRows, allowMissingColumns = true)
          case None => freqRows
        }
        feed.updated("trips", newTrips).updated("stop_times", newSt)
          .updated("frequencies", newFreq)
      case _ => feed
    }

  // C10 --delete-orphans (import.sh:80-82): cascade left-semi joins in
  // dependency order; two passes cover GTFS's reference DAG.
  def deleteOrphans(feed: Feed): Feed = {
    var f = feed
    def pass(): Unit = {
      // trips must reference existing routes and services
      for (trips <- f.get("trips")) {
        var t = trips
        f.get("routes").foreach(r =>
          t = t.join(r.select("route_id"), Seq("route_id"), "left_semi"))
        val serviceIds = (f.get("calendar").map(_.select("service_id")).toSeq ++
          f.get("calendar_dates").map(_.select("service_id")).toSeq)
          .reduceOption(_ unionByName _).map(_.distinct())
        serviceIds.foreach(s =>
          t = t.join(s, Seq("service_id"), "left_semi"))
        f = f.updated("trips", t)
      }
      // stop_times must reference existing trips and stops
      for (st <- f.get("stop_times")) {
        var s = st
        f.get("trips").foreach(t =>
          s = s.join(t.select("trip_id"), Seq("trip_id"), "left_semi"))
        f.get("stops").foreach(stp =>
          s = s.join(stp.select("stop_id"), Seq("stop_id"), "left_semi"))
        f = f.updated("stop_times", s)
      }
      // trips without any stop_times are dead
      for (trips <- f.get("trips"); st <- f.get("stop_times"))
        f = f.updated("trips",
          trips.join(st.select("trip_id").distinct(), Seq("trip_id"), "left_semi"))
      // frequencies referencing dropped trips
      for (fr <- f.get("frequencies"); trips <- f.get("trips"))
        f = f.updated("frequencies",
          fr.join(trips.select("trip_id"), Seq("trip_id"), "left_semi"))
      // unreferenced shapes
      for (sh <- f.get("shapes"); trips <- f.get("trips"))
        f = f.updated("shapes", sh.join(
          trips.select("shape_id").where(col("shape_id").isNotNull).distinct(),
          Seq("shape_id"), "left_semi"))
      // unreferenced stops (keep stations referenced via parent_station)
      for (stops <- f.get("stops"); st <- f.get("stop_times")) {
        val referenced = st.select("stop_id").distinct()
          .unionByName(stops.select(col("parent_station").as("stop_id"))
            .where(col("stop_id").isNotNull).distinct())
          .distinct()
        f = f.updated("stops", stops.join(referenced, Seq("stop_id"), "left_semi"))
      }
    }
    pass(); pass()
    f
  }
}
