package e2ebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.TableStore

/** One recorded interval. Times are epoch milliseconds (fractional);
  * `parent` is the id of the enclosing span on the same driver thread,
  * 0 for roots and for Spark events (those are placed in a cycle by
  * time when the spans are analysed). */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, attrs: Map[String, Any])

/** In-memory span recorder plus the Spark listeners of the traced mode.
  * Nothing is written until [[write]] runs at the end of the run. */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Open a span on this thread; close it with [[end]]. */
  def begin(): (Long, Long, Double) = {
    val id = ids.getAndIncrement()
    val parent = current.get().longValue()
    current.set(id)
    (id, parent, nowMs)
  }

  def end(open: (Long, Long, Double), name: String, attrs: Map[String, Any]): Unit =
    endAt(open, name, nowMs, attrs)

  /** Close a span at an end time taken earlier, so attributes gathered
    * after the timed interval can still be attached to it. */
  def endAt(open: (Long, Long, Double), name: String, endMs: Double,
      attrs: Map[String, Any]): Unit = {
    val (id, parent, start) = open
    current.set(parent)
    spans.add(Span(id, name, start, endMs, parent, attrs))
  }

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(f: => T): T =
    spanWith(name)(f)(_ => attrs)

  /** A span whose attributes are computed from the body's result. */
  def spanWith[T](name: String)(f: => T)(attrs: T => Map[String, Any]): T = {
    val open = begin()
    var out: Option[T] = None
    try { out = Some(f); out.get }
    finally end(open, name, out.map(attrs).getOrElse(Map("failed" -> true)))
  }

  /** A Spark event: an interval with no driver-thread parent. */
  def event(name: String, start: Double, end: Double, attrs: Map[String, Any]): Unit =
    spans.add(Span(ids.getAndIncrement(), name, start, end, 0L, attrs))

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      w.println(Json.obj("id" -> s.id, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "run" -> runId, "attrs" -> s.attrs))
    } finally w.close()
  }

  /** Register the stage/task/job listener and the query-planning
    * listener on `spark`. */
  def listen(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new StageListener(this))
    spark.listenerManager.register(new PlanListener(this))
  }
}

/** Stage intervals with their aggregated task metrics, task scheduler
  * delay and failures, and job submissions. A stage's `site` is the call
  * site of the SQL execution (the user-code action) its job ran for, so
  * broadcast and subquery jobs started from Spark's own thread pools are
  * charged to the action that needed them. */
final class StageListener(tr: Tracer) extends SparkListener {
  private final class Acc { var schedMs = 0L; var failed = 0L; var tasks = 0L }
  private val acc = new ConcurrentHashMap[(Int, Int), Acc]()
  private val execSite = new ConcurrentHashMap[String, String]()
  private val stageSite = new ConcurrentHashMap[Int, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId.toString, s.description)
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Acc)
    val info = e.taskInfo
    val m = e.taskMetrics
    val delay =
      if (m == null) 0L
      else {
        val getting = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - getting)
      }
    a.synchronized {
      a.tasks += 1
      a.schedMs += delay
      if (e.reason != Success) a.failed += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val a = Option(acc.remove((si.stageId, si.attemptNumber()))).getOrElse(new Acc)
    val m = si.taskMetrics
    val start = si.submissionTime.getOrElse(0L).toDouble
    val end = si.completionTime.getOrElse(start.toLong).toDouble
    val site = Option(stageSite.remove(si.stageId)).getOrElse(si.name)
    val base = Map[String, Any]("stage" -> si.stageId, "site" -> site,
      "tasks" -> a.tasks, "failed_tasks" -> a.failed, "sched_delay_ms" -> a.schedMs,
      "stage_failed" -> si.failureReason.isDefined)
    val metrics =
      if (m == null) Map.empty[String, Any]
      else Map(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_write_ns" -> m.shuffleWriteMetrics.writeTime,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_records" -> m.outputMetrics.recordsWritten)
    tr.event("spark.stage", start, end, base ++ metrics)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSite.get(id)))
    site.foreach(s => e.stageIds.foreach(stageSite.put(_, s)))
    tr.event("spark.job", e.time.toDouble, e.time.toDouble, Map("job" -> e.jobId))
  }
}

/** Driver-side planning time per executed query, from the query's
  * QueryPlanningTracker (analysis + optimization + planning phases). */
final class PlanListener(tr: Tracer) extends QueryExecutionListener {
  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      tr.event("spark.query", phases.values.map(_.startTimeMs).min.toDouble,
        phases.values.map(_.endTimeMs).max.toDouble,
        Map("func" -> func, "plan_ms" -> planMs, "ok" -> ok))
    }
  }
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, ok = true)
  override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit =
    record(func, qe, ok = false)
}

/** Timing decorator over a [[TableStore]]: one `sources.write_swap` span
  * per write, carrying the table, the written version's path and its
  * size on disk. Reads pass straight through. */
final class TimedStore(inner: TableStore, @transient tr: Tracer) extends TableStore {
  override def table(spark: SparkSession, name: String): DataFrame = inner.table(spark, name)

  override def writeSwap(spark: SparkSession, name: String, df: DataFrame): DataFrame =
    tr.spanWith("sources.write_swap")(inner.writeSwap(spark, name, df)) { out =>
      val files = out.inputFiles.map(f => new java.io.File(new java.net.URI(f)))
      Map("table" -> name, "bytes" -> files.map(_.length).sum,
        "path" -> files.headOption.map(_.getParent).getOrElse(""))
    }
}
