package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark counts recorded from outside the program.
  *
  * A span is opened by the harness around each call into a layer; its
  * name is `<layer>.<step>` (`gdx.merge`, `ingest.land`, ...). Spans
  * live in memory and are written out at exit with their self time (the
  * part of the span no child span covers).
  *
  * The Spark side comes from listeners the harness registers: a
  * `SparkListener` for the job timeline (jobs, stages, tasks, task time,
  * records read) and a `QueryExecutionListener` for actions and the
  * Catalyst phase totals. Listener events arrive on Spark's bus after the
  * fact, so the listeners record everything and nothing is attributed
  * while running: at exit every job and every phase is given to the
  * innermost span open at its start time, and what falls in no span is
  * dropped.
  *
  * When `enabled` is false, `span` only runs its body. */
final class Trace(spark: SparkSession) {
  @volatile var enabled = false
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  final class Span(val id: Int, val name: String, val parent: Int,
                   val run: String, val start: Double) {
    var end: Double = Double.NaN
    def dur: Double = end - start
  }
  final class Job(val id: Int, val start: Double, val stages: Int) {
    @volatile var end: Double = Double.NaN
    var tasks = 0
    var taskMs = 0L
    var recordsRead = 0L
    var bytesRead = 0L
  }
  final class Action(val phases: Seq[(String, Double, Double)])

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  var run = "setup"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        run, nowMs)
      spans += s
      open = s :: open
      try body
      finally { s.end = nowMs; open = open.tail }
    }

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val actions = new ConcurrentLinkedQueue[Action]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new Job(e.jobId, e.time.toDouble, e.stageInfos.size)
      jobs.put(e.jobId, j)
      e.stageInfos.foreach(si => stageJob.put(si.stageId, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time.toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      if (j != null && e.taskInfo != null) j.synchronized {
        j.tasks += 1
        j.taskMs += e.taskInfo.duration
        if (e.taskMetrics != null) {
          j.recordsRead += e.taskMetrics.inputMetrics.recordsRead
          j.bytesRead += e.taskMetrics.inputMetrics.bytesRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.toSeq.map { case (n, s) =>
        (n, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      }
      actions.add(new Action(ph))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  /** Per-span counts, once every listener event has been delivered. */
  final class Counts {
    var actions = 0; var jobs = 0; var stages = 0; var tasks = 0
    var taskMs = 0L; var recordsRead = 0L; var bytesRead = 0L
    var analysisMs = 0.0; var optimizationMs = 0.0; var planningMs = 0.0
    var jobCoveredMs = 0.0
  }

  def counts(): Map[Int, Counts] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val byStart = spans.sortBy(_.start)
    // innermost span open at time t: the latest-starting span covering it
    def owner(t: Double): Option[Span] =
      byStart.reverseIterator.find(s => s.start <= t && t <= s.end)
    val out = mutable.HashMap.empty[Int, Counts]
    def c(s: Span) = out.getOrElseUpdate(s.id, new Counts)
    jobs.values.asScala.foreach { j =>
      owner(j.start).foreach { s =>
        val k = c(s)
        k.jobs += 1; k.stages += j.stages; k.tasks += j.tasks
        k.taskMs += j.taskMs; k.recordsRead += j.recordsRead
        k.bytesRead += j.bytesRead
      }
      // job-covered wall time, credited to every span the job overlaps
      if (!j.end.isNaN) spans.foreach { s =>
        val lo = math.max(s.start, j.start); val hi = math.min(s.end, j.end)
        if (hi > lo) c(s).jobCoveredMs += hi - lo
      }
    }
    actions.asScala.foreach { a =>
      // an action is planned when its execution starts: give it to the
      // span open at its planning phase, and each phase to the span open
      // when that phase started (analysis often runs when a DataFrame is
      // built, well before its action)
      val at = a.phases.find(_._1 == "planning").orElse(a.phases.lastOption)
      at.flatMap(p => owner(p._2)).foreach(s => c(s).actions += 1)
      a.phases.foreach { case (n, st, en) =>
        owner(st).foreach { s =>
          val k = c(s)
          n match {
            case "analysis" => k.analysisMs += en - st
            case "optimization" => k.optimizationMs += en - st
            case "planning" => k.planningMs += en - st
            case _ => ()
          }
        }
      }
    }
    out.toMap
  }

  /** Self time: span duration minus the union of its children. */
  def selfMs(): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
      var covered = 0.0; var hi = Double.NegativeInfinity
      iv.foreach { case (a, b) =>
        val lo = math.max(a, hi)
        if (b > lo) covered += b - lo
        hi = math.max(hi, b)
      }
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** One JSON object per span, with its self time and Spark counts. */
  def writeSpans(path: String): Unit = {
    val cs = counts(); val self = selfMs()
    val pw = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val k = cs.getOrElse(s.id, new Counts)
      pw.println(Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id),
        "actions" -> k.actions, "jobs" -> k.jobs, "stages" -> k.stages,
        "tasks" -> k.tasks, "task_ms" -> k.taskMs,
        "records_read" -> k.recordsRead, "bytes_read" -> k.bytesRead,
        "analysis_ms" -> k.analysisMs, "optimization_ms" -> k.optimizationMs,
        "planning_ms" -> k.planningMs,
        "driver_gap_ms" -> math.max(0.0, s.dur - k.jobCoveredMs)))
    } finally pw.close()
  }
}
