package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession

import graft.meta.{MetaStore, SuccessfulImport}
import graft.pipeline.Digests

/** Entry point: `Harness <mode> key=value...`. Prints one JSON object
  * as its last stdout line; `perfbench/run.py` turns it into metrics.
  *
  *   reads         consumer reads over the newest published import
  *   import-trace  one import through Import.importGtfsAtomically in this
  *                 JVM, broken into per-layer spans
  *   add-older     record a copy of the newest import, `hours` older
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val result = args.headOption match {
      case Some("reads") => Reads.run(opts)
      case Some("import-trace") => ImportTrace.run(opts)
      case Some("add-older") => addOlder(opts)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    println(Json.render(result))
  }

  /** Copy the newest published import to a database `hours` older,
    * recorded through the importer's bookkeeping API, so that a store
    * holds more imports than newest-2 retention keeps. */
  def addOlder(o: Map[String, String]): Map[String, Any] = {
    val store = MetaStore(o("store"))
    val prefix = o("prefix")
    val newest = store.listImports(prefix).head
    val at = newest.importedAt - 3600 * o("hours").toLong
    val digest = Digests.digestString(s"older:$at:" + newest.feedDigest)
    val older = SuccessfulImport(Digests.formatDbName(prefix, at, digest), at, digest)
    val src = store.databasePath(newest.dbName)
    val dst = store.createDatabase(older.dbName)
    Using.resource(Files.walk(src)) { paths =>
      paths.iterator().asScala.foreach { p =>
        val q = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
    }
    store.transact(cur => (older +: cur, ()))
    Map("older" -> older.dbName, "newest" -> newest.dbName)
  }

  /** A local session on every core, configured like the importer's
    * (UTC, no UI). Returns the session and the seconds from JVM start
    * until it was ready. */
  def session(): (SparkSession, Double) = {
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startedMs = ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - startedMs) / 1e3)
  }

  def timeNs[A](body: => A): (A, Long) = {
    val t = System.nanoTime()
    val a = body
    (a, System.nanoTime() - t)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** JSON rendering for the harness's results: maps, sequences, strings,
  * booleans and numbers. */
object Json {
  def render(v: Any): String = v match {
    case s: String => graft.ops.JsonOut.q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => graft.ops.JsonOut.q(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => graft.ops.JsonOut.q(other.toString)
  }
}
