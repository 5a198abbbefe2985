package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters, read from outside the program through Spark's
  * public listener interfaces.  Work is attributed to a *scope*: the
  * benchmark names the scope of every call it makes with a thread-local
  * Spark property, jobs carry that property, and stages and tasks are
  * mapped back to the scope through their job.  A query execution's
  * planning phases go to the scope of the job started last: its end
  * event travels the same listener queue right behind its own jobs. */
final class Probe(spark: SparkSession) {
  import Probe._

  private val scopeOfStage = mutable.Map[Int, String]()
  private var lastScope = "other"
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val counters = mutable.LinkedHashMap[String, Counters]()
  /** per stage: task run times, for the skew ratio */
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val progress = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private def of(scope: String): Counters =
    counters.getOrElseUpdate(scope, new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val scope = Option(e.properties).flatMap(p => Option(p.getProperty(ScopeKey)))
        .getOrElse("other")
      e.stageIds.foreach(scopeOfStage(_) = scope)
      jobStart(e.jobId) = (scope, e.time)
      of(scope).jobs += 1
      lastScope = scope
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (scope, t0) =>
        of(scope).jobSpans += ((t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val scope = scopeOfStage.getOrElse(e.stageInfo.stageId, "other")
      val c = of(scope)
      c.stages += 1
      stageTasks.remove(e.stageInfo.stageId).foreach { ts =>
        if (ts.size >= 2) {
          val sorted = ts.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          c.skew = math.max(c.skew, sorted.last.toDouble / med)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = of(scopeOfStage.getOrElse(e.stageId, "other"))
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.scanBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    of(lastScope).planMs += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
  }
  private val execListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { if (e.progress.numInputRows > 0) progress += e.progress }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events are delivered asynchronously; wait until the bus
    * has delivered everything posted so far (a job posted after this
    * marker job proves the queue ahead of it was drained). */
  def settle(): Unit = {
    val marker = s"settle-${System.nanoTime}"
    withScope(spark, marker)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime + 10_000_000_000L
    while (synchronized(!counters.get(marker).exists(_.stages > 0)) &&
           System.nanoTime < deadline) Thread.sleep(5)
    synchronized(counters.remove(marker))
  }

  def snapshot(): Map[String, Counters] = synchronized(counters.map { case (k, v) => k -> v.copy() }.toMap)
  def reset(): Unit = synchronized { counters.clear(); progress.clear() }
}

object Probe {
  val ScopeKey = "perfbench.scope"

  def withScope[T](spark: SparkSession, scope: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    try body finally sc.setLocalProperty(ScopeKey, prev)
  }

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var taskMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0; var planMs = 0.0
    var scanBytes = 0.0; var shuffleReadBytes = 0.0; var shuffleWriteBytes = 0.0
    var spillBytes = 0.0; var skew = 0.0
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()

    /** wall time covered by at least one running job, in ms */
    def jobBusyMs: Double = {
      var busy = 0L; var end = Long.MinValue
      jobSpans.sortBy(_._1).foreach { case (s, e) =>
        if (s >= end) { busy += e - s; end = e }
        else if (e > end) { busy += e - end; end = e }
      }
      busy.toDouble
    }

    def copy(): Counters = {
      val c = new Counters
      c.jobs = jobs; c.stages = stages; c.tasks = tasks; c.failedTasks = failedTasks
      c.taskMs = taskMs; c.cpuMs = cpuMs; c.gcMs = gcMs; c.planMs = planMs
      c.scanBytes = scanBytes; c.shuffleReadBytes = shuffleReadBytes
      c.shuffleWriteBytes = shuffleWriteBytes; c.spillBytes = spillBytes; c.skew = skew
      c.jobSpans ++= jobSpans
      c
    }

    def toJson: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
      "task_ms" -> taskMs, "cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "plan_ms" -> planMs,
      "scan_bytes" -> scanBytes, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
      "task_skew" -> skew, "job_busy_ms" -> jobBusyMs)
  }
}
