package graft.meta

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** One recorded successful import — the bookkeeping row of
  * `latest_successful_imports` (/root/reference/index.js:155-161). */
final case class SuccessfulImport(dbName: String, importedAt: Long, feedDigest: String)

/** File-mode analog of the reference's PostgreSQL bookkeeping layer,
  * preserving its concurrency semantics (SURVEY.md §2.10):
  *
  *  - T1 exclusive lock NOWAIT: an OS file-region lock (FileChannel
  *    tryLock) that dies with the process, like the reference's Postgres
  *    EXCLUSIVE lock — a second importer fails fast instead of queueing,
  *    and a crashed holder never wedges later runs (import.js:128-132);
  *  - T2/T5 transaction envelope + atomic publish: all bookkeeping
  *    mutations are staged in memory and committed by a single atomic
  *    rename of the meta file — the only publication point
  *    (import.js:126, 279-311);
  *  - T3 two-connection DDL isolation: create/drop of per-import
  *    database DIRECTORIES happens outside the staged transaction
  *    (direct FS ops), so an aborted import leaves an orphan dir that
  *    the next run's retention pass reaps (import.js:115-118, 160-198).
  *
  * Layout: root/meta/latest_successful_imports.tsv (the table),
  * root/meta/.import.lock (T1), root/dbs/<dbName>/ (per-import DBs).
  */
final class MetaStore(root: Path) {

  val metaDir: Path = root.resolve("meta")
  val dbsDir: Path = root.resolve("dbs")
  private val tableFile = metaDir.resolve("latest_successful_imports.tsv")
  private val lockFile = metaDir.resolve(".import.lock")
  private val versionsDir = metaDir.resolve("versions")
  private val leasesDir = metaDir.resolve("leases")
  private val currentFile = versionsDir.resolve("CURRENT")

  Files.createDirectories(metaDir)
  Files.createDirectories(dbsDir)
  Files.createDirectories(versionsDir)
  Files.createDirectories(leasesDir)

  // ---- T1: exclusive lock, NOWAIT ----------------------------------
  // An OS-level file-region lock, not an O_CREAT|O_EXCL marker file: the
  // reference's Postgres EXCLUSIVE table lock (import.js:128-132)
  // auto-releases when the holder's connection dies, so a crashed
  // importer (kill -9, OOM) never wedges the next run. FileChannel locks
  // have the same property — the OS releases them on process death —
  // where a marker file would persist forever and fail every subsequent
  // import.
  private var lockChannel: java.nio.channels.FileChannel = _
  private var heldLock: java.nio.channels.FileLock = _

  def acquireLockNowait(): Unit = {
    val ch = java.nio.channels.FileChannel.open(lockFile,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val lock =
      try ch.tryLock()
      catch {
        // same-JVM second importer: tryLock throws instead of returning null
        case _: java.nio.channels.OverlappingFileLockException =>
          ch.close(); null
      }
    if (lock == null) {
      if (ch.isOpen) ch.close()
      throw new IllegalStateException(
        s"another importer holds the lock ($lockFile) — failing fast (NOWAIT)")
    }
    lockChannel = ch
    heldLock = lock
  }

  /** Release is a no-op unless THIS store holds the lock; the lockfile
    * itself is never deleted (existence is not the lock — the OS region
    * lock is), so a non-holder can't unlock a concurrent holder. */
  def releaseLock(): Unit = {
    if (heldLock != null && heldLock.isValid) heldLock.release()
    if (lockChannel != null && lockChannel.isOpen) lockChannel.close()
    heldLock = null
    lockChannel = null
  }

  // ---- S4: bookkeeping scan (ORDER BY imported_at DESC) ------------
  // P2 prefix predicate + sort desc (index.js:183-198); dbName breaks
  // imported_at ties so "latest" is deterministic
  def listImports(prefix: String): Seq[SuccessfulImport] =
    readRows(tableFile).filter(_.dbName.startsWith(prefix))
      .sortBy(r => (-r.importedAt, r.dbName))

  // ---- S5: catalog scan (ORDER BY name ASC, self-excluded) ---------
  def listDatabases(prefix: String): Seq[String] =
    Using.resource(Files.list(dbsDir)) { stream =>
      stream.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filter(_.startsWith(prefix))   // P2
        .toSeq.sorted                   // ORDER BY datname ASC (index.js:214)
    }

  // ---- K5: create/drop database (outside the staged txn — T3) ------
  def createDatabase(name: String): Path = {
    val p = dbsDir.resolve(name)
    Files.createDirectories(p)
    p
  }

  def dropDatabase(name: String): Unit = {
    val p = dbsDir.resolve(name)
    if (Files.exists(p))
      Using.resource(Files.walk(p)) { w =>
        w.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.delete)
      }
  }

  def databasePath(name: String): Path = dbsDir.resolve(name)

  // ---- T2/T5: staged transaction committed by atomic rename --------
  /** Run `body` against a staged copy of the table rows; the returned
    * rows are written to a temp file and atomically renamed over the
    * table IF body completes — the single commit point. On exception
    * nothing is published (ROLLBACK, import.js:310-316). */
  def transact[A](body: Vector[SuccessfulImport] => (Vector[SuccessfulImport], A)): A = {
    val (next, result) = body(readRows(tableFile))
    val tmp = metaDir.resolve(s".latest_successful_imports.tmp")
    val lines = next.map(r => s"${r.dbName}\t${r.importedAt}\t${r.feedDigest}")
    Files.write(tmp, lines.asJava,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, tableFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    publishVersion(lines)
    result
  }

  // ---- T5+: versioned manifest (Delta-commit-log-style) ------------
  // In JDBC mode a reader mid-query holds MVCC snapshots, so the
  // reference's retention never yanks data out from under it; pure file
  // mode had no equivalent — retention could delete a db directory a
  // long-running reader was still scanning. The fix is the commit-log
  // pattern: every transact also writes an IMMUTABLE snapshot file
  // (versions/v%012d.tsv) and atomically repoints versions/CURRENT at
  // it; a reader that needs repeatable reads pins the current version
  // with an expiring lease file, and the retention pass spares every
  // db named by CURRENT or any unexpired lease. Writers never modify a
  // published version file, so a pinned reader's view is frozen.
  //
  // Leases are expiry-based (no heartbeat): a crashed reader's lease
  // ages out instead of pinning storage forever — the same tradeoff as
  // Delta's vacuum retention window. The inherent race (a reader
  // pinning between retention's lease scan and its deletes) is bounded
  // by one retention pass and closed the usual way: pin FIRST, then
  // resolve paths from the pinned snapshot, and size ttlSecs to the
  // longest query.

  /** A pinned manifest version; [[release]] is idempotent. */
  final class Lease private[MetaStore] (val version: Long, file: Path) {
    def release(): Unit = Files.deleteIfExists(file)
  }

  private def versionFile(v: Long): Path =
    versionsDir.resolve(f"v$v%012d.tsv")

  /** The newest published manifest version (0 = nothing published). */
  def currentVersion(): Long =
    if (Files.exists(currentFile)) Files.readString(currentFile).trim.toLong
    else 0L

  /** The import rows frozen in manifest version `v` (empty for v0 or a
    * pruned version). */
  def listImportsAt(v: Long): Seq[SuccessfulImport] =
    if (v == 0L) Seq.empty else readRows(versionFile(v))

  /** The import rows of a table or version file, one
    * `dbName\timportedAt\tfeedDigest` line each (empty if absent). */
  private def readRows(f: Path): Vector[SuccessfulImport] =
    if (!Files.exists(f)) Vector.empty
    else Files.readAllLines(f).asScala.toVector.filter(_.nonEmpty).map { l =>
      val Array(n, ts, dg) = l.split("\t", 3)
      SuccessfulImport(n, ts.toLong, dg)
    }

  private def publishVersion(lines: Seq[String]): Unit = {
    val v = currentVersion() + 1
    val tmp = versionsDir.resolve(s".v$v.tmp")
    Files.write(tmp, lines.asJava,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, versionFile(v), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    val ctmp = versionsDir.resolve(".CURRENT.tmp")
    Files.writeString(ctmp, v.toString)
    Files.move(ctmp, currentFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // prune old snapshots: keep the newest 8 plus anything ANY lease
    // file names — expiry is NOT judged here (the caller's clock is
    // injectable, import.Config.now; only pinnedDbNames, which gets
    // that clock, reaps). The files are a few hundred bytes — the
    // 8-version margin is for readers racing the pointer, not disk.
    val keep = (math.max(1, v - 7) to v).toSet ++
      leaseVersions(reapBefore = None).map(_._2)
    Using.resource(Files.list(versionsDir)) { s =>
      s.iterator().asScala
        .filter(_.getFileName.toString.matches("v\\d{12}\\.tsv"))
        .filterNot(p => keep.contains(
          p.getFileName.toString.stripPrefix("v").stripSuffix(".tsv").toLong))
        .foreach(Files.deleteIfExists(_))
    }
  }

  /** Pin the current manifest version for `ttlSecs`. `now` is epoch
    * seconds (injectable for tests, like Import.Config.now). */
  def pinCurrent(ttlSecs: Long,
      now: () => Long = () => System.currentTimeMillis() / 1000): Lease = {
    val v = currentVersion()
    val f = leasesDir.resolve(
      s"${java.util.UUID.randomUUID().toString.take(8)}.lease")
    Files.writeString(f, s"$v\t${now() + ttlSecs}")
    new Lease(v, f)
  }

  /** (leaseFile, version) per lease file. With `reapBefore = Some(t)`,
    * leases expiring before `t` are deleted and excluded; with None,
    * every lease file counts (no expiry judgment — used where the
    * caller's clock is not available). */
  private def leaseVersions(reapBefore: Option[Long]): Seq[(Path, Long)] =
    Using.resource(Files.list(leasesDir)) { s =>
      s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".lease"))
        .flatMap { f =>
          try {
            val Array(v, exp) = Files.readString(f).trim.split("\t", 2)
            reapBefore match {
              case Some(now) if exp.toLong < now =>
                Files.deleteIfExists(f); None
              case _ => Some(f -> v.toLong)
            }
          } catch { case _: Exception => None } // torn write: skip, not fail
        }.toSeq
    }

  /** Every db name frozen in a version some unexpired lease pins —
    * the set the retention pass must spare. Expired leases are reaped
    * on the way through (`nowSecs` is the caller's clock). */
  def pinnedDbNames(nowSecs: Long): Set[String] =
    leaseVersions(reapBefore = Some(nowSecs)).map(_._2).distinct
      .flatMap(listImportsAt(_).map(_.dbName)).toSet

  // ---- K4: DSN file write (atomic tmp+rename; import.js:289-308) ---
  def writeDsnFile(target: Path, dbName: String, host: String = "localhost",
      port: Int = 5432, user: String = "gtfs"): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp,
      s"gtfs=host=$host port=$port dbname=$dbName user=$user\n")
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

object MetaStore {
  def apply(root: String): MetaStore = new MetaStore(Paths.get(root))
}
