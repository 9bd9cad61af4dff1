package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as the times Spark stamps on listener events. */
object Clock {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def ms(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
}

/** One timed region of the client thread. `req` groups the spans of one
  * request (a session step, a query, a micro-batch). */
final case class Span(id: Int, name: String, req: String, parent: Int,
    start: Double, var end: Double = Double.NaN) {
  def secs: Double = (end - start) / 1e3
  def contains(t: Double): Boolean = start <= t && t <= end
}

/** Spans recorded around the benchmark's calls into the program. Kept in
  * memory and written out when the run ends. With `enabled = false`
  * (untimed end-to-end runs) `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val all = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.size, name, if (req.nonEmpty) req
        else stack.headOption.map(_.req).getOrElse(""),
        stack.headOption.map(_.id).getOrElse(-1), Clock.ms())
      all += s
      stack = s :: stack
      try body
      finally { s.end = Clock.ms(); stack = stack.tail }
    }

  def spans: Seq[Span] = all.toSeq

  /** Innermost span open at time `t` (spans nest on one thread, so the
    * latest-started span containing `t` is the innermost one). */
  def at(t: Double): Option[Span] = {
    var best: Span = null
    all.foreach(s => if (s.contains(t) && (best == null || s.start >= best.start)) best = s)
    Option(best)
  }

  /** Self time per span name: duration minus the time covered by direct
    * children (children run on the same thread, so they do not overlap). */
  def selfSecs: Map[String, Double] = {
    val childSecs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.secs).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.secs - childSecs.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Per-stage task aggregates. */
final class StageAgg {
  var tasks = 0L
  val durations = mutable.ArrayBuffer[Long]()
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** A job, its call site, and the physical plan of the SQL execution it
  * belongs to ("" for jobs outside one). */
final case class JobRec(id: Int, start: Double, site: String,
    stages: Seq[Int], plan: String) {
  @volatile var end: Double = Double.NaN
  /** Source file Spark records as the job's call site ("x at F.scala:12"). */
  def file: String = JobRec.fileOf(site)
  def secs: Double = if (end.isNaN) 0.0 else (end - start) / 1e3
}
object JobRec {
  private val FileRe = """ at ([A-Za-z0-9_$]+)\.(?:scala|java)\b""".r
  def fileOf(site: String): String = FileRe.findFirstMatchIn(site).map(_.group(1)).getOrElse("?")
  /** Call sites that name a JDK thread-pool frame, not the caller: jobs
    * submitted from pool threads (adaptive query stages). */
  val pooled: Set[String] = Set("CompletableFuture", "ThreadPoolExecutor", "ForkJoinTask",
    "ForkJoinWorkerThread", "FutureTask", "Thread", "?")
}

/** Catalyst phase times of one executed query (QueryExecution.tracker). */
final case class PlanRec(start: Double, analysis: Double, optimization: Double,
    planning: Double)

/** The benchmark's one SparkListener: jobs (with call site), stages and
  * task metrics. Attribution to spans happens after the run, by job
  * start time, so concurrent jobs fired from pool threads inside a span
  * are attributed to it too. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  /** SQL execution id -> (call site, physical plan description). */
  private val execs = new ConcurrentHashMap[Long, (String, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, (s.description, s.physicalPlanDescription))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execs.get(id.toLong)))
    val own = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("?")
    // a job submitted from a pool thread carries the pool's frame as
    // its call site; its SQL execution recorded the caller's
    val site = exec.map(_._1).filter(_ => JobRec.pooled(JobRec.fileOf(own)))
      .getOrElse(own)
    jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, site, e.stageIds, exec.map(_._2).getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.durations += e.taskInfo.duration
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def stagesOf(j: JobRec): Seq[StageAgg] = j.stages.flatMap(s => Option(stages.get(s)))
}

final class PlanListener extends QueryExecutionListener {
  val recs = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def d(p: String): Double = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
    recs.add(PlanRec(start, d("analysis"), d("optimization"), d("planning")))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Listener counts aggregated over a set of jobs. */
final case class SparkCounts(jobs: Int, stages: Int, tasks: Long, taskSecs: Double,
    gcSecs: Double, shuffleBytes: Long, spillBytes: Long, inputBytes: Long,
    outputBytes: Long, taskSkew: Double, jobSecs: Double) {
  def fields: Seq[(String, Any)] = Seq("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_s" -> taskSecs, "gc_s" -> gcSecs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "task_skew" -> taskSkew, "job_s" -> jobSecs)
}

object SparkCounts {
  def of(l: JobListener, js: Seq[JobRec]): SparkCounts = {
    val ss = js.flatMap(l.stagesOf)
    val skews = ss.filter(_.durations.size >= 2).map { s =>
      val ds = s.synchronized(s.durations.toVector)
      ds.max.toDouble / math.max(1.0, Stats.median(ds.map(_.toDouble)))
    }
    SparkCounts(js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.runMs).sum / 1e3,
      ss.map(_.gcMs).sum / 1e3, ss.map(s => s.shuffleRead + s.shuffleWrite).sum,
      ss.map(_.spill).sum, ss.map(_.input).sum, ss.map(_.output).sum,
      if (skews.isEmpty) 1.0 else Stats.median(skews), js.map(_.secs).sum)
  }
}
