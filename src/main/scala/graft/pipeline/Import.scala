package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.gtfs.{Clean, Schemas, Views}
import graft.meta.{MetaStore, SuccessfulImport}

/** The atomic import pipeline — the Spark-native
  * `importGtfsAtomically` (/root/reference/import.js:38-324; lifecycle
  * walked in SURVEY.md §3.1). Each import lands in a FRESH per-import
  * database directory and is published by a single atomic meta-table
  * rename — readers never see partial state (T5); aborted imports leave
  * orphan dirs that the next run's retention pass reaps (T3/T6).
  */
object Import {

  /** A wholesale import-stage override (GTFS_IMPORT_SCRIPT analog,
    * import.js:64-65): given (session, config, staged feed, fresh db
    * dir), produce and persist the feed, returning it for the
    * view-materialization/postprocessing steps. */
  type ImportStage = (SparkSession, Config, Path, Path) => Clean.Feed

  /** Config mirror of import.js:57-77 (cfg > env > default merge is the
    * caller's concern; this is the merged result). */
  final case class Config(
      feedSource: Path,                       // zip file or extracted dir (S1 output)
      storeRoot: Path,                        // MetaStore root
      dbPrefix: String,                       // GTFS_IMPORTER_DB_PREFIX + "_"
      tmpDir: Path,
      feedUrl: Option[String] = None,         // S1: mirror-download first if set
      userAgent: String = "",                 // mandatory when feedUrl is set
      postprocessingDir: Option[Path] = None, // hashed into digest (H3) AND executed (§2.11)
      preprocess: Option[Clean.Feed => Clean.Feed] = None, // C19 hook
      // C19 shell-out analog of /etc/gtfs/preprocess.sh
      // (/root/reference/import.sh:32-35): an executable run over the
      // extracted CSV dir BEFORE cleaning, so a reference deployment's
      // preprocess.sh migrates unchanged. Hashed into the feed digest
      // (like postprocessing.d) so editing the script defeats
      // skip-if-unchanged.
      preprocessScript: Option[Path] = None,
      cleanConfig: Clean.Config = Clean.Config(),
      determineDbsToRetain: Retention.Policy = Retention.newestTwo,
      continueOnDeleteFailure: Boolean = false, // GTFS_IMPORTED_CONTINUE_ON_FAILURE_DELETING_OLD_DB
      dsnFilePath: Option[Path] = None,       // K4 PgBouncer routing file
      defaultTz: String = "UTC",
      materializeViews: Boolean = false,      // write V1/V2 into the import (gtfs-via-postgres materialized views)
      // K1: also bulk-load entities into a relational DB, one schema per
      // import (named after the import db); publish stays with the meta
      // transaction, retention drops the schema with the directory.
      jdbcTarget: Option[graft.sinks.JdbcSink.JdbcTarget] = None,
      // GTFS_DOWNLOAD_SCRIPT analog (import.js:64-65): replace the
      // download stage wholesale — (url, destination, userAgent) => file.
      downloadStage: Option[(String, Path, String) => Path] = None,
      // GTFS_IMPORT_SCRIPT analog: replace extract→clean→load wholesale.
      importStage: Option[ImportStage] = None,
      now: () => Long = () => System.currentTimeMillis() / 1000)

  /** K6: the structured result object (import.js:83-90). */
  final case class Result(
      downloadDurationMs: Long,
      deletedDatabases: Seq[String],
      retainedDatabases: Seq[String],
      importSkipped: Boolean,
      newImport: Option[SuccessfulImport],
      importDurationMs: Long)

  /** The full atomic import. Mirrors the step order of import.js:38-324. */
  def importGtfsAtomically(spark: SparkSession, cfg: Config): Result = {
    val store = MetaStore(cfg.storeRoot.toString)
    val t0 = System.nanoTime()

    // S1: download/stage the feed into the tmp dir (driver-side; the
    // reference shells out to curl-mirror, download.sh:25-29). With a
    // feedUrl the mirror fetch (conditional, UA-mandatory) runs first.
    Files.createDirectories(cfg.tmpDir)
    val source = cfg.feedUrl match {
      case Some(url) =>
        val dest = cfg.tmpDir.resolve("gtfs.zip")
        cfg.downloadStage match {
          case Some(dl) => dl(url, dest, cfg.userAgent) // stage override
          case None => Download.download(url, dest, cfg.userAgent).path
        }
      case None => cfg.feedSource
    }
    val staged = cfg.tmpDir.resolve("gtfs-feed")
    stageFeed(source, staged)
    val downloadMs = (System.nanoTime() - t0) / 1000000

    store.acquireLockNowait() // T1 (import.js:128-132)
    // A failure past this point publishes nothing (ROLLBACK): a fresh db
    // dir already created stays as an orphan that the next run's
    // retention pass reaps (T3/T6).
    try {
      val tImport = System.nanoTime()
      val recorded = store.listImports(cfg.dbPrefix)
      val allDbs = store.listDatabases(cfg.dbPrefix)

      // P3: reconcile dangling pointers — recorded imports whose DB is
      // gone are dropped with a warning (import.js:149-158).
      val live = recorded.filter(r => allDbs.contains(r.dbName))
      val dangling = recorded.filterNot(r => allDbs.contains(r.dbName))
      dangling.foreach(d => System.err.println(
        s"[import] warning: recorded import ${d.dbName} has no database — dropping record"))

      // T4: retention — drop everything not retained, including orphan
      // dirs from aborted imports (import.js:160-198). Dbs pinned by an
      // unexpired reader lease are spared (T5+ versioned manifest): in
      // file mode that lease is the analog of the MVCC snapshot a
      // JDBC-mode reader holds mid-query.
      val retained = cfg.determineDbsToRetain(live, allDbs)
      val pinned = store.pinnedDbNames(cfg.now())
      val victims = allDbs.filterNot(retained.contains).filterNot(pinned.contains)
      val deleted = victims.flatMap { v =>
        try {
          store.dropDatabase(v)
          // drop the import's JDBC schema with its directory (T4)
          cfg.jdbcTarget.foreach(t => graft.sinks.JdbcSink.dropSchema(t, v))
          Some(v)
        }
        catch {
          case NonFatal(e) if cfg.continueOnDeleteFailure =>
            System.err.println(s"[import] warning: failed deleting $v: ${e.getMessage}")
            None
        }
      }

      // H3/P6: composite digest of feed + preprocess + postprocessing
      // scripts — any script edit changes the digest and defeats P5.
      val feedDigest = Digests.compositeFeedDigest(
        feedArchiveOrDirDigestSource(staged), cfg.postprocessingDir,
        cfg.preprocessScript)

      // persist the reconciliation + retention effects, then decide skip
      val latest = live.filter(i => retained.contains(i.dbName))
        .sortBy(-_.importedAt).headOption

      // P5: skip-if-unchanged (import.js:235-239).
      if (latest.exists(_.feedDigest == feedDigest)) {
        store.transact { _ =>
          (live.filterNot(r => deleted.contains(r.dbName)).toVector, ())
        }
        return Result(downloadMs, deleted, retained, importSkipped = true,
          None, (System.nanoTime() - tImport) / 1000000)
      }

      // H4/K5: fresh DB (import.js:246-247) on the DDL "connection".
      val importedAt = cfg.now()
      val dbName = Digests.formatDbName(cfg.dbPrefix, importedAt, feedDigest)
      val dbPath = store.createDatabase(dbName)

      // S2/S3 → C1-C16 → K1, or the caller's wholesale stage override
      // (GTFS_IMPORT_SCRIPT analog, import.js:64-65).
      val feed = cfg.importStage.getOrElse(defaultImportStage _)(
        spark, cfg, staged, dbPath)
      // C18: per-import cleaning log artifact — the reference tees
      // gtfsclean output to `tidied.gtfs.gtfstidy-log.txt`
      // (import.sh:105-109); ours records the stages applied.
      writeCleanLog(spark, cfg, feed, dbPath, feedDigest, importedAt)
      // K1 over JDBC: bulk-load the entities into one schema per
      // import — the gtfs-to-sql|psql stage (import.sh:124-132), with
      // the per-import PG database mapped to a per-import schema.
      cfg.jdbcTarget.foreach(t =>
        graft.sinks.JdbcSink.loadFeedIntoSchema(feed, t, dbName))
      // L4: import metadata
      Views.importMetadata(spark, feedDigest, importedAt, cfg.dbPrefix)
        .write.mode("overwrite").parquet(dbPath.resolve("import_metadata").toString)
      // materialized consumer views (gtfs-via-postgres materializes
      // service_days; arrivals_departures partitioned by service date
      // gives date-ranged departure boards partition pruning)
      if (cfg.materializeViews) {
        Views.serviceDays(feed).write.mode("overwrite")
          .parquet(dbPath.resolve("service_days").toString)
        Views.materializeArrivalsDepartures(feed,
          dbPath.resolve("arrivals_departures").toString, cfg.defaultTz)
      }
      // §2.11 postprocessing: the postprocessing.d directory
      // (import.sh:134-148) — *.sql files via spark.sql against the
      // registered entity views and non-.sql executables via
      // ProcessBuilder, in filename order, dotfiles excluded (they are
      // excluded from the digest too, P6).
      if (cfg.postprocessingDir.exists(Files.isDirectory(_))) {
        registerViews(spark, dbPath)
        // executables get the gtfs DIR as argv[1] (reference contract,
        // import.sh:140-145): the default stage's extraction dir when
        // it ran; with an importStage override (which need not extract
        // anything, and whose tmpDir/extracted could be stale from a
        // previous run) the staged feed is used — extracting it first
        // when it is a zip FILE, so scripts always receive a directory
        val gtfsDirForScripts =
          if (cfg.importStage.isEmpty) cfg.tmpDir.resolve("extracted")
          else if (Files.isDirectory(staged)) staged
          else {
            val dir = cfg.tmpDir.resolve("extracted")
            extractFeed(staged, dir)
            dir
          }
        runPostprocessingDir(spark, cfg.postprocessingDir,
          gtfsDirForScripts, dbPath)
      }

      // K2 + K4 + T5: stage the commit record, write the DSN file,
      // publish atomically (import.js:279-311).
      val rec = SuccessfulImport(dbName, importedAt, feedDigest)
      cfg.dsnFilePath.foreach(p => store.writeDsnFile(p, dbName))
      store.transact { _ =>
        val next = live.filterNot(r => deleted.contains(r.dbName)).toVector :+ rec
        (next, ())
      }
      Result(downloadMs, deleted, retained :+ dbName, importSkipped = false,
        Some(rec), (System.nanoTime() - tImport) / 1000000)
    } finally {
      // every entity is materialized (parquet written) or abandoned by
      // here, so blocks pinned by the cleaning stages (e.g. C8's
      // per-service encoding cache) can be released with the lock
      graft.ops.Releases.drain()
      store.releaseLock()
    }
  }

  /** Consumer path (SURVEY.md §3.3): resolve the newest import and
    * register its entity tables + views under stable names — the "DSN
    * swap" as a view re-registration.
    *
    * RELEASE CONTRACT (caller-owns-release): some query surfaces built
    * over these views run eager fixpoints (connected components,
    * multi-pass IVF) that back their lazy result with localCheckpoint
    * blocks and defer the block release to [[graft.ops.Releases]] —
    * only the caller knows when the result has been materialized. A
    * long-lived service session must therefore call
    * `graft.ops.Releases.drain()` after each query action (Verify/
    * Bench/Probe/Explain already do), or checkpoint blocks accumulate
    * for the life of the session. `openLatestImport` itself drains
    * before (re-)registering: whatever the previous cycle left pending
    * is released at the swap boundary, so a drain-less caller's leak is
    * bounded by ONE cycle instead of growing without bound. */
  def openLatestImport(spark: SparkSession, storeRoot: Path, dbPrefix: String): Option[String] = {
    val store = MetaStore(storeRoot.toString)
    store.listImports(dbPrefix).headOption.map { latest =>
      // swap boundary: release blocks pinned by the previous import's
      // query cycle before the new views go live
      graft.ops.Releases.drain()
      registerViews(spark, store.databasePath(latest.dbName))
      latest.dbName
    }
  }

  // ---- helpers ------------------------------------------------------

  /** The default import stage (what GTFS_IMPORT_SCRIPT would replace):
    * unzip + schema'd CSV scan (S2/S3), C19 preprocess hook, C1-C16
    * cleaning, K1 parquet load into the fresh db dir. */
  def defaultImportStage(spark: SparkSession, cfg: Config, staged: Path,
      dbPath: Path): Clean.Feed = {
    val extractDir = cfg.tmpDir.resolve("extracted")
    extractFeed(staged, extractDir)
    // preprocess.sh analog (import.sh:32-35): mutate the extracted CSVs
    // in place before any of them are read
    cfg.preprocessScript.filter(Files.isRegularFile(_)).foreach { script =>
      if (!Files.isExecutable(script)) throw new IllegalStateException(
        s"preprocess script ${script.getFileName} is not executable — chmod +x it")
      runScript(script, extractDir, dbPath)
    }
    implicit val s: SparkSession = spark
    var feed = readFeed(spark, extractDir)
    feed = lowerLangCodes(feed)           // L2 (import.sh:125)
    feed = cfg.preprocess.map(_(feed)).getOrElse(feed)
    feed = Clean(feed, cfg.cleanConfig)
    writeFeed(feed, dbPath)
    feed
  }

  /** Execute user SQL without materializing result rows on the driver:
    * commands (DDL, views) run eagerly inside spark.sql; anything that
    * produces rows is drained through the noop sink — a fact-scale
    * SELECT under `.collect()` would OOM the driver; only the side
    * effects matter here. */
  private def execSql(spark: SparkSession, stmt: String): Unit = {
    val df = spark.sql(stmt)
    if (df.schema.nonEmpty) df.write.mode("overwrite").format("noop").save()
  }

  /** §2.11: execute a postprocessing.d directory
    * (/root/reference/import.sh:134-148). `*.sql` files run
    * statement-by-statement via spark.sql against the registered entity
    * views (the psql -b -1 analog; statements split quote-aware — see
    * [[splitSqlStatements]]); any other executable file runs via
    * ProcessBuilder with the gtfs dir as argv[1] (reference parity) and
    * the import db dir as argv[2] (our PGDATABASE analog, also exported
    * as GRAFT_DB_PATH). Filename order; dotfiles excluded, mirroring the
    * digest's P6 rule. */
  private[pipeline] def runPostprocessingDir(spark: SparkSession,
      dirOpt: Option[Path], gtfsDir: Path, dbPath: Path): Unit =
    dirOpt.filter(Files.isDirectory(_)).foreach { dir =>
      val entries = Using.resource(Files.list(dir)) {
        _.iterator().asScala.toSeq
          .filter(Files.isRegularFile(_))
          .filterNot(_.getFileName.toString.startsWith(".")) // P6
          .sortBy(_.getFileName.toString)
      }
      entries.foreach { f =>
        if (f.getFileName.toString.endsWith(".sql"))
          splitSqlStatements(Files.readString(f)).foreach(execSql(spark, _))
        else if (Files.isExecutable(f))
          runScript(f, gtfsDir, dbPath)
        else
          // fail LOUDLY: the file's content is already part of the feed
          // digest (H3/P6), so silently skipping it would both lose the
          // postprocessing and — because chmod +x changes no content —
          // make the fix invisible to skip-if-unchanged forever
          throw new IllegalStateException(
            s"postprocessing.d entry ${f.getFileName} is neither *.sql " +
              "nor executable — chmod +x it or rename it *.sql")
      }
    }

  /** Shell out to a user script with the gtfs dir as argv[1] and the
    * import db dir as argv[2] (reference executable contract,
    * import.sh:140-145 and preprocess.sh at import.sh:32-35). Output is
    * captured and surfaced on failure; a non-zero exit aborts the import
    * (the orphan dir is reaped by the next run's retention pass). */
  private def runScript(script: Path, gtfsDir: Path, dbPath: Path): Unit = {
    val pb = new ProcessBuilder(script.toAbsolutePath.toString,
      gtfsDir.toString, dbPath.toString)
    pb.environment().put("GRAFT_DB_PATH", dbPath.toString)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes())
    val code = proc.waitFor()
    if (code != 0) throw new IllegalStateException(
      s"script ${script.getFileName} exited $code:\n$out")
  }

  /** Split a SQL script into statements on `;`, but quote- and
    * comment-aware — the psql behavior (the reference feeds whole files
    * to psql, import.sh:142, so a `';'` inside a string literal must
    * not split). Handles: single-quoted strings with `''` escapes,
    * double-quoted identifiers, `--` line comments, nested slash-star
    * block comments, and PostgreSQL `$tag$ … $tag$` dollar quoting.
    * Comments are preserved inside the statement text (Spark's
    * parser accepts them); empty statements are dropped. */
  private[pipeline] def splitSqlStatements(sql: String): Seq[String] = {
    val stmts = Vector.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    val n = sql.length
    // a segment holding only comments/whitespace (e.g. a trailing
    // "-- end of file" after the last ';') is not a statement —
    // spark.sql would throw PARSE_EMPTY_STATEMENT on it
    def isOnlyComments(s: String): Boolean = {
      var j = 0
      val m = s.length
      while (j < m) {
        val c = s.charAt(j)
        if (c.isWhitespace) j += 1
        else if (c == '-' && j + 1 < m && s.charAt(j + 1) == '-') {
          while (j < m && s.charAt(j) != '\n') j += 1
        } else if (c == '/' && j + 1 < m && s.charAt(j + 1) == '*') {
          var depth = 1; j += 2
          while (j < m && depth > 0) {
            if (j + 1 < m && s.charAt(j) == '/' && s.charAt(j + 1) == '*') { depth += 1; j += 2 }
            else if (j + 1 < m && s.charAt(j) == '*' && s.charAt(j + 1) == '/') { depth -= 1; j += 2 }
            else j += 1
          }
        } else return false
      }
      true
    }
    def flush(): Unit = {
      val s = cur.toString.trim
      if (s.nonEmpty && !isOnlyComments(s)) stmts += s
      cur.clear()
    }
    while (i < n) {
      val c = sql.charAt(i)
      c match {
        case ';' => flush(); i += 1
        case '\'' => // single-quoted literal; '' is an escaped quote
          val start = i; i += 1
          var done = false
          while (i < n && !done) {
            if (sql.charAt(i) == '\'') {
              if (i + 1 < n && sql.charAt(i + 1) == '\'') i += 2
              else { i += 1; done = true }
            } else i += 1
          }
          cur.append(sql.substring(start, i))
        case '"' => // double-quoted identifier; "" is an escaped quote
          val start = i; i += 1
          var done = false
          while (i < n && !done) {
            if (sql.charAt(i) == '"') {
              if (i + 1 < n && sql.charAt(i + 1) == '"') i += 2
              else { i += 1; done = true }
            } else i += 1
          }
          cur.append(sql.substring(start, i))
        case '-' if i + 1 < n && sql.charAt(i + 1) == '-' => // line comment
          val start = i
          while (i < n && sql.charAt(i) != '\n') i += 1
          cur.append(sql.substring(start, i))
        case '/' if i + 1 < n && sql.charAt(i + 1) == '*' => // block comment (nested, PG-style)
          val start = i; i += 2
          var depth = 1
          while (i < n && depth > 0) {
            if (i + 1 < n && sql.charAt(i) == '/' && sql.charAt(i + 1) == '*') { depth += 1; i += 2 }
            else if (i + 1 < n && sql.charAt(i) == '*' && sql.charAt(i + 1) == '/') { depth -= 1; i += 2 }
            else i += 1
          }
          cur.append(sql.substring(start, i))
        case '$' => // possible dollar-quote opener: $tag$ — PG's lexer
          // requires the tag to START with a letter or underscore
          // (digits allowed after); accepting digit-first tags would
          // misread `$1$ ... $2$` (two positional params with text
          // ending in $ between them) as a quote and swallow any ';'
          // inside
          var j = i + 1
          if (j < n && (sql.charAt(j).isLetter || sql.charAt(j) == '_')) {
            while (j < n && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
          }
          if (j < n && sql.charAt(j) == '$') {
            val tag = sql.substring(i, j + 1) // includes both '$'s
            val close = sql.indexOf(tag, j + 1)
            val end = if (close < 0) n else close + tag.length
            cur.append(sql.substring(i, end))
            i = end
          } else { cur.append(c); i += 1 }
        case _ => cur.append(c); i += 1
      }
    }
    flush()
    stmts.result()
  }

  /** C18: persist the cleaning log alongside the import (the
    * `tidied.gtfs.gtfstidy-log.txt` artifact, import.sh:105-109). */
  private def writeCleanLog(spark: SparkSession, cfg: Config, feed: Clean.Feed,
      dbPath: Path, digest: String, importedAt: Long): Unit = {
    val enabled = cfg.cleanConfig.enabled
    val state = if (enabled) "on" else "off"
    val lines = Seq(
      s"feed_digest\t$digest", s"imported_at\t$importedAt",
      s"cleaning_enabled\t$enabled",
      s"entities\t${feed.keys.toSeq.sorted.mkString(",")}") ++
      Clean.stages(spark).map { case (name, _) => s"stage\t$name\t$state" }
    Files.write(dbPath.resolve("clean-log.txt"), lines.asJava)
  }

  private def stageFeed(src: Path, dst: Path): Unit = {
    if (Files.exists(dst)) deleteRecursively(dst)
    if (Files.isDirectory(src)) copyRecursively(src, dst)
    else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  /** For digesting: a zip digests as the file; a directory digests as
    * the concatenation of its entry digests via a synthetic listing
    * file (deterministic). */
  private def feedArchiveOrDirDigestSource(staged: Path): Path =
    if (!Files.isDirectory(staged)) staged
    else {
      val listing = staged.resolveSibling(staged.getFileName.toString + ".digest-listing")
      val entries = Using.resource(Files.list(staged)) {
        _.iterator().asScala.toSeq.filter(Files.isRegularFile(_))
          .sortBy(_.getFileName.toString)
      }
      val content = entries.map(p =>
        s"${p.getFileName}\t${Digests.digestFile(p)}").mkString("\n")
      Files.writeString(listing, content)
      listing
    }

  private def extractFeed(staged: Path, dst: Path): Unit = {
    if (Files.exists(dst)) deleteRecursively(dst) // rm -rf first (import.sh:20)
    Files.createDirectories(dst)
    if (Files.isDirectory(staged)) copyRecursively(staged, dst)
    else Using.resource(new ZipFile(staged.toFile)) { zf =>
      zf.entries().asScala.filterNot(_.isDirectory).foreach { e =>
        val out = dst.resolve(Paths.get(e.getName).getFileName.toString)
        Using.resource(zf.getInputStream(e)) { in =>
          Files.copy(in, out, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
  }

  /** S3: read every present entity with its declared schema. */
  def readFeed(spark: SparkSession, dir: Path): Clean.Feed =
    Schemas.all.keys.toSeq.sorted.flatMap { entity =>
      val f = dir.resolve(s"$entity.txt")
      if (Files.exists(f)) Some(entity -> Schemas.readEntity(spark, dir.toString, entity))
      else None
    }.toMap

  /** L2 --lower-case-lang-codes (import.sh:125). */
  def lowerLangCodes(feed: Clean.Feed): Clean.Feed =
    feed.map {
      case ("feed_info", df) if df.columns.contains("feed_lang") =>
        "feed_info" -> df.withColumn("feed_lang", lower(col("feed_lang")))
      case ("translations", df) if df.columns.contains("language") =>
        "translations" -> df.withColumn("language", lower(col("language")))
      case ("agency", df) if df.columns.contains("agency_lang") =>
        "agency" -> df.withColumn("agency_lang", lower(col("agency_lang")))
      case (n, df) => n -> df
    }

  /** K1: bulk load — parquet per entity into the fresh DB dir. The
    * write-staging-then-publish split is the `sponge` materialization
    * barrier analog (import.sh:131). */
  private def writeFeed(feed: Clean.Feed, dbPath: Path): Unit =
    feed.foreach { case (entity, df) =>
      df.write.mode("overwrite").parquet(dbPath.resolve(entity).toString)
    }

  private def registerViews(spark: SparkSession, dbPath: Path): Unit = {
    val entities = Using.resource(Files.list(dbPath)) {
      _.iterator().asScala.filter(Files.isDirectory(_)).map { p =>
        val name = p.getFileName.toString
        spark.read.parquet(p.toString).createOrReplaceTempView(name)
        name
      }.toSet
    }
    // V8 translations integration: alongside each raw entity view,
    // register the translated flavor for every translatable (table,
    // field) pair present — the gtfs-via-postgres consumer surface
    // (import.sh:124-129), not just stops/stop_name.
    if (entities.contains("translations")) {
      val feed: graft.gtfs.Clean.Feed =
        entities.iterator.map(n => n -> spark.table(n)).toMap
      Seq(("stops", "stop_name"), ("routes", "route_long_name"),
          ("trips", "trip_headsign")).foreach { case (table, field) =>
        if (entities.contains(table) && feed(table).columns.contains(field))
          Views.translateField(feed, table, field)
            .createOrReplaceTempView(s"${table}_translated")
      }
    }
  }

  private def deleteRecursively(p: Path): Unit =
    Using.resource(Files.walk(p)) { w =>
      w.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
    }

  private def copyRecursively(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    Using.resource(Files.list(src)) {
      _.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        Files.copy(f, dst.resolve(f.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}
