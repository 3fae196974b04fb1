package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gtfs.Clean
import graft.meta.MetaStore
import graft.pipeline.{Digests, Download, Import, Retention}

/** One real import, `Import.importGtfsAtomically` with the importer's
  * configuration (`ImporterMain` with views on), run in the harness JVM
  * and broken into layers through the program's own hooks:
  *
  *   downloadStage         wraps `Download.download` in a span
  *   determineDbsToRetain  marks the retention decision; the time
  *                         before it, after the download, is the lock
  *                         and the listing
  *   importStage           runs the program's `defaultImportStage`
  *                         (extract, read, load); its `preprocess`
  *                         hook, called with the read feed, forces the
  *                         read and then runs the 14 stages of
  *                         `Clean.apply` one at a time, each behind the
  *                         barrier `Clean.apply` puts between stages in
  *                         local mode (a lazy local checkpoint; its own
  *                         is not public) and forced. Cleaning is
  *                         switched off in the config passed on, so it
  *                         runs once.
  *
  * The steps after the import stage have no hook. They are timed from
  * the Spark jobs they run, told apart by call site: view
  * materialization (`Views.serviceDays`,
  * `Views.materializeArrivalsDepartures`), then postprocessing
  * (`registerViews`, `runPostprocessingDir`), then publish, from the
  * last postprocessing job to the return. The digest is computed between
  * the retention decision and the import stage; it is timed by a second
  * `Digests.compositeFeedDigest` call on the same inputs, and the rest
  * of that gap is the retention pass.
  *
  * Each stage's output is compared with its input (row count, column
  * set and an order-independent content hash per entity), outside the
  * stage's span, so that a stage timed while idle shows. */
object ImportTrace {

  private def stages(cfg: Clean.Config)(implicit spark: SparkSession)
      : Seq[(String, Clean.Feed => Clean.Feed)] = Seq(
    "keep_spec_columns" -> Clean.keepSpecColumns,
    "default_on_errs" -> Clean.defaultOnErrs,
    "drop_errs" -> Clean.dropErrs,
    "check_null_coords" -> Clean.checkNullCoords,
    "remove_red_agencies" -> Clean.removeRedundantAgencies,
    "remove_red_stops" -> Clean.removeRedundantStops,
    "remove_red_routes" -> Clean.removeRedundantRoutes,
    "remove_red_services" -> (f => Clean.removeRedundantServices(f)),
    "minimize_services" -> (f => Clean.minimizeServices(f)),
    "minimize_stoptimes" -> (f => Clean.minimizeStopTimes(f)),
    "min_shapes" -> (f => Clean.minShapes(f, cfg.minShapesEpsilonDeg)),
    "remove_red_shapes" -> Clean.removeRedundantShapes,
    "remove_red_trips" -> Clean.removeRedundantTrips,
    "delete_orphans" -> Clean.deleteOrphans)

  private def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** (columns, rows, content hash) of one entity. */
  private def fingerprint(df: DataFrame): (Seq[String], Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(1000000007L))),
        lit(0L))).head()
    (df.columns.toSeq.sorted, r.getLong(0), r.getLong(1))
  }

  private def rows(feed: Clean.Feed): Long = feed.values.map(_.count()).sum

  def run(o: Map[String, String]): Map[String, Any] = {
    val root = Paths.get(o("store"))
    val tmp = Paths.get(o("tmp"))
    val pp = Paths.get(o("pp"))
    val prefix = o("prefix")
    val (spark, sparkStartS) = Harness.session()
    implicit val s: SparkSession = spark
    val listener = JobListener.register(spark)
    val tracer = new Tracer(spark)
    val changed = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    var rowsIn, rowsOut = 0L
    var policyNs, stageStartNs, stageEndNs, readStartNs, cleanEndNs = 0L
    // work the trace adds to the import besides the forced read: the stage
    // checks and the row counts
    var checkNs = 0L
    def checked[A](body: => A): A = {
      val (a, ns) = Harness.timeNs(body)
      checkNs += ns
      a
    }

    val tracedClean: Clean.Feed => Clean.Feed = { read =>
      readStartNs = System.nanoTime()
      tracer.span("gtfs.read")(read.values.foreach(force))
      rowsIn = checked(rows(read))
      var feed = read
      tracer.span("gtfs.clean") {
        stages(Clean.Config()).foreach { case (name, stage) =>
          val before = feed
          var touched = Seq.empty[String]
          feed = tracer.span(s"gtfs.clean.$name") {
            val out = stage(before)
            touched = out.keys.filter(e => before.get(e).forall(_ ne out(e))).toSeq.sorted
            val pinned = out.map { case (e, df) => e -> df.localCheckpoint(eager = false) }
            pinned.values.foreach(force)
            pinned
          }
          changed(name) = checked(touched.exists(e =>
            before.get(e).forall(b => fingerprint(b) != fingerprint(feed(e)))))
        }
      }
      rowsOut = checked(rows(feed))
      cleanEndNs = System.nanoTime()
      feed
    }

    val cfg = Import.Config(
      feedSource = tmp.resolve("gtfs.zip"),
      storeRoot = root,
      dbPrefix = prefix,
      tmpDir = tmp,
      feedUrl = Some(o("url")),
      userAgent = "perfbench@example.invalid",
      postprocessingDir = Some(pp),
      dsnFilePath = Some(tmp.resolve("dsn.txt")),
      materializeViews = true,
      downloadStage = Some((url: String, dest: Path, ua: String) =>
        tracer.span("pipeline.download")(Download.download(url, dest, ua).path)),
      determineDbsToRetain = (live, all) => {
        policyNs = System.nanoTime()
        Retention.newestTwo(live, all)
      },
      importStage = Some((sp: SparkSession, c: Import.Config, staged: Path, db: Path) => {
        stageStartNs = System.nanoTime()
        val feed = Import.defaultImportStage(sp, c.copy(
          preprocess = Some(tracedClean), cleanConfig = c.cleanConfig.copy(enabled = false)),
          staged, db)
        stageEndNs = System.nanoTime()
        feed
      }))

    val result = tracer.span("import")(Import.importGtfsAtomically(spark, cfg))
    val importSpan = tracer.last("import")
    val (_, digestNs) = Harness.timeNs(
      Digests.compositeFeedDigest(tmp.resolve("gtfs-feed"), Some(pp)))
    val store = MetaStore(root.toString)
    val (_, listNs) = Harness.timeNs((1 to 50).foreach(_ => store.listImports(prefix)))
    val v2Rows = result.newImport.map(r => spark.read.parquet(
      store.databasePath(r.dbName).resolve("arrivals_departures").toString).count()).getOrElse(0L)
    JobListener.drain(spark)

    // The steps without a hook run in a fixed order: the import_metadata
    // write, the views, postprocessing, publish. Most of their jobs run
    // on Spark's own threads and carry no call site of the importer, so
    // the steps are split at the bounds of the jobs that do: the
    // metadata write (called from importGtfsAtomically itself) and the
    // postprocessing jobs (registerViews, runPostprocessingDir).
    val download = tracer.last("pipeline.download")
    val after = listener.jobsSince(stageEndNs).filter(_.startNs <= importSpan.end)
    def from(frames: String*)(j: JobListener.Job) = j.callSite.linesIterator
      .find(_.startsWith("graft.")).exists(f => frames.exists(f.contains))
    val post = after.filter(from("registerViews", "runPostprocessingDir"))
    val postStart = post.headOption.fold(importSpan.end)(_.startNs)
    val viewsStart = after.takeWhile(_.startNs < postStart)
      .find(from("Import$.importGtfsAtomically")).fold(stageEndNs)(_.endNs)
    val postEnd = post.lastOption.fold(postStart)(_.endNs)
    val viewsJobs = after.count(j => j.startNs >= viewsStart && j.startNs < postStart)
    val digestEnd = math.max(policyNs, stageStartNs - digestNs)
    val parent = importSpan.id
    tracer.add("meta.lock_list", parent, download.end, policyNs)
    tracer.add("meta.retention", parent, policyNs, digestEnd)
    tracer.add("pipeline.digest", parent, digestEnd, stageStartNs)
    tracer.add("pipeline.extract", parent, stageStartNs, readStartNs)
    tracer.add("gtfs.load", parent, cleanEndNs, stageEndNs)
    tracer.add("gtfs.load", parent, stageEndNs, viewsStart)
    tracer.add("gtfs.views.materialize", parent, viewsStart, postStart)
    tracer.add("pipeline.postprocess", parent, postStart, postEnd)
    tracer.add("meta.publish", parent, postEnd, importSpan.end)
    spark.stop()

    val self = tracer.selfSeconds
    val layers = Map(
      "pipeline.spark_start_s" -> sparkStartS,
      "pipeline.download_s" -> tracer.seconds("pipeline.download"),
      "pipeline.extract_s" -> tracer.seconds("pipeline.extract"),
      "pipeline.digest_s" -> tracer.seconds("pipeline.digest"),
      "pipeline.postprocess_s" -> tracer.seconds("pipeline.postprocess"),
      "meta.lock_list_s" -> tracer.seconds("meta.lock_list"),
      "meta.publish_s" -> tracer.seconds("meta.publish"),
      "meta.retention_s" -> tracer.seconds("meta.retention"),
      "meta.dbs_dropped" -> result.deletedDatabases.length.toDouble,
      "meta.list_imports_ms" -> listNs / 1e6 / 50,
      "gtfs.read_s" -> tracer.seconds("gtfs.read"),
      "gtfs.clean_s" -> tracer.seconds("gtfs.clean"),
      "gtfs.clean.rows_in" -> rowsIn.toDouble,
      "gtfs.clean.rows_out" -> rowsOut.toDouble,
      "gtfs.load_s" -> tracer.seconds("gtfs.load"),
      "gtfs.views.materialize_s" -> tracer.seconds("gtfs.views.materialize"),
      "gtfs.views.v2_rows" -> v2Rows.toDouble,
      "self.import_s" -> self.getOrElse("import", 0.0),
      "self.gtfs.clean_s" -> self.getOrElse("gtfs.clean", 0.0),
      "trace.listener_s" -> listener.callbackNs / 1e9,
      "trace.overhead_pct" -> 100 * ((listener.callbackNs + checkNs) / 1e9 +
        tracer.seconds("gtfs.read")) / tracer.seconds("import")) ++
      changed.keys.map(n => s"gtfs.clean.${n}_s" -> tracer.seconds(s"gtfs.clean.$n")) ++
      listener.sparkMetrics()
    Map("layers" -> layers, "stage_changed" -> changed.toMap, "spans" -> tracer.toJson,
      "result" -> Map("importSkipped" -> result.importSkipped,
        "newDb" -> result.newImport.map(_.dbName).getOrElse(""),
        "deletedDatabases" -> result.deletedDatabases),
      "views_jobs" -> viewsJobs, "postprocess_jobs" -> post.length)
  }
}
