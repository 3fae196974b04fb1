package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the harness's calls into each layer. They are
  * kept in memory and written out once, when the run ends. Each span
  * also names the Spark job group, so [[JobListener]] can attribute
  * jobs and tasks to the innermost open span. */
final class Tracer(spark: SparkSession) {
  import Tracer.Span

  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  private def setGroup(): Unit = open.headOption match {
    case Some(s) => spark.sparkContext.setJobGroup(s.name, s.name)
    case None => spark.sparkContext.clearJobGroup()
  }

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), 0L)
    spans += s
    open ::= s
    setGroup()
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      setGroup()
    }
  }

  /** Record a span measured without [[span]]: from `start` to `end`
    * (`System.nanoTime`), under the span with id `parent`. */
  def add(name: String, parent: Int, start: Long, end: Long): Unit =
    spans += Span(spans.length, name, parent, start, math.max(start, end))

  /** The most recent span called `name`. */
  def last(name: String): Span = spans.findLast(_.name == name).getOrElse(
    throw new NoSuchElementException(s"no span $name"))

  /** Total seconds spent in spans called `name`. */
  def seconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum

  /** Seconds per span name minus the time covered by its children. The
    * harness is single-threaded, so children never overlap. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - childNs.getOrElse(s.id, 0L)).sum / 1e9 }
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("name" -> s.name, "parent" -> s.parent, "id" -> s.id,
      "start_ms" -> (s.start - origin) / 1e6, "end_ms" -> (s.end - origin) / 1e6)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)
}

/** Job, task, shuffle, spill and GC totals per Spark job group, plus the
  * time every successful query spent in analyzer and optimizer rules.
  * Registered by the harness on its own session. Each job's start, end
  * and call site (the long form: the stack from the first frame outside
  * Spark) are kept, to attribute jobs run inside the importer, where no
  * span can be opened. `callbackNs` is the listener's own cost. */
final class JobListener extends SparkListener with QueryExecutionListener {
  import JobListener.Job
  final class Acc {
    var jobs = 0L; var tasks = 0L; var taskMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var gcMs = 0L
  }

  private val byGroup = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  // event times are wall-clock milliseconds; spans use System.nanoTime
  private val nanoMinusMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanos(ms: Long): Long = ms * 1000000L + nanoMinusMs
  @volatile var planningNs = 0L
  @volatile var callbackNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untraced")
    byGroup.getOrElseUpdate(g, new Acc).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = Job(nanos(e.time), nanos(e.time), site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endNs = nanos(e.time)))
  }

  /** Jobs started at or after `startNs` (`System.nanoTime`), in start order. */
  def jobsSince(startNs: Long): Seq[Job] = synchronized {
    jobs.values.filter(_.startNs >= startNs).toSeq.sortBy(_.startNs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val a = byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "untraced"), new Acc)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed { planningNs += qe.tracker.rules.values.map(_.totalTimeNs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Totals over the groups whose name satisfies `keep`. */
  def total(keep: String => Boolean = _ => true): Acc = synchronized {
    val t = new Acc
    byGroup.foreach { case (g, a) if keep(g) =>
      t.jobs += a.jobs; t.tasks += a.tasks; t.taskMs += a.taskMs
      t.shuffleBytes += a.shuffleBytes; t.spillBytes += a.spillBytes; t.gcMs += a.gcMs
    case _ => ()
    }
    t
  }

  def sparkMetrics(keep: String => Boolean = _ => true): Map[String, Double] = {
    val t = total(keep)
    Map("spark.jobs" -> t.jobs.toDouble, "spark.tasks" -> t.tasks.toDouble,
      "spark.task_s" -> t.taskMs / 1e3, "spark.planning_s" -> planningNs / 1e9,
      "spark.shuffle_bytes" -> t.shuffleBytes.toDouble,
      "spark.spill_bytes" -> t.spillBytes.toDouble, "spark.gc_s" -> t.gcMs / 1e3)
  }
}

object JobListener {
  final case class Job(startNs: Long, endNs: Long, callSite: String)

  def register(spark: SparkSession): JobListener = {
    val l = new JobListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  /** Deliver every queued event before the statistics are read. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
