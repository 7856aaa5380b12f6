package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task, as the listener saw it. */
final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                         readBytes: Long, readRows: Long, writeBytes: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long,
                         failed: Boolean)

/** One job: its group (= the span that submitted it), stages and times. */
final class JobRec(val id: Int, val group: String, val startMs: Long,
                   val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** A finished SQL execution and its Catalyst time (analysis +
  * optimization + planning, from the query's planning tracker). */
final case class SqlRec(span: String, catalystMs: Long)

/** Counts every job and keeps the peak task execution memory; with
  * `detailed` on, also keeps each job, task and SQL execution for
  * per-span attribution. Registered by the benchmark; nothing in the
  * program knows about it. */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile var detailed = false
  @volatile var currentSpan: String = ""
  val jobCount = new AtomicLong
  val peakTaskMem = new AtomicLong
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val sqls = new ConcurrentLinkedQueue[SqlRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobCount.incrementAndGet()
    if (detailed) {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new JobRec(e.jobId, group, e.time, e.stageInfos.map(_.stageId))
      jobById.put(e.jobId, j)
      jobs.add(j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      peakTaskMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
      if (detailed) tasks.add(TaskRec(e.stageId, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, !e.taskInfo.successful))
    } else if (detailed) {
      tasks.add(TaskRec(e.stageId, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true))
    }
  }

  private def record(qe: QueryExecution): Unit = if (detailed) {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    sqls.add(SqlRec(currentSpan, ms))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def clear(): Unit = { jobs.clear(); tasks.clear(); sqls.clear(); jobById.clear() }
}

/** A span: a named interval around one public call, with its parent. */
final case class Span(id: String, name: String, parent: String, runId: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the program. With tracing
  * off, [[span]] only runs its body. With tracing on, each span becomes
  * the job group of the jobs it submits, and the listener bus is
  * drained at both edges so SQL executions land in the right span. */
final class Tracer(spark: SparkSession, val recorder: Recorder, val runId: String) {
  private val sc = spark.sparkContext
  private val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private var stack: List[String] = Nil
  private var next = 0
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** A listener timestamp (epoch ms) on the spans' `System.nanoTime` clock. */
  def toNs(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L

  def enabled: Boolean = recorder.detailed

  def all: Seq[Span] = spans.toSeq

  def add(s: Span): Unit = spans += s

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    ListenerBridge.waitUntilListenerBusEmpty(sc)
    next += 1
    val id = s"$runId/$next"
    val parent = stack.headOption.getOrElse("")
    stack = id :: stack
    sc.setJobGroup(id, name, interruptOnCancel = false)
    recorder.currentSpan = id
    val t0 = System.nanoTime()
    try body
    finally {
      ListenerBridge.waitUntilListenerBusEmpty(sc)
      spans += Span(id, name, parent, runId, t0, System.nanoTime())
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p, name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      recorder.currentSpan = stack.headOption.getOrElse("")
    }
  }

  /** Spans under (and including) `root`. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == root.id).toSeq
    root +: kids.flatMap(subtree)
  }

  /** Self time: the span minus the union of its children's intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    s.seconds - Stats.unionLength(kids) / 1e9
  }
}

/** Execution figures of a set of spans, from the recorder's jobs and
  * tasks attributed by job group. */
final case class ExecFigures(jobs: Seq[JobRec], tasks: Seq[TaskRec], sqls: Seq[SqlRec]) {
  def execSeconds: Double =
    Stats.unionLength(jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))) / 1e3
  def stages: Int = tasks.map(_.stageId).distinct.size
  def taskRunS: Double = tasks.map(_.runMs).sum / 1e3
  def taskCpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def singleTaskJobs: Int = {
    val perStage = tasks.groupBy(_.stageId).map { case (k, v) => k -> v.size }
    jobs.count(j => j.stageIds.flatMap(perStage.get).sum == 1)
  }
  /** The stage with the most task CPU: (tasks, cpu seconds, max ÷ median task time). */
  def hotStage: (Int, Double, Double) =
    if (tasks.isEmpty) (0, 0.0, 0.0)
    else {
      val (_, ts) = tasks.groupBy(_.stageId).maxBy(_._2.map(_.cpuNs).sum)
      val runs = ts.map(_.runMs.toDouble)
      val med = Stats.median(runs)
      (ts.size, ts.map(_.cpuNs).sum / 1e9, if (med > 0) runs.max / med else 1.0)
    }
}

object ExecFigures {
  def of(rec: Recorder, spanIds: Set[String]): ExecFigures = {
    val js = rec.jobs.asScala.filter(j => spanIds.contains(j.group)).toSeq
    val stageIds = js.flatMap(_.stageIds).toSet
    ExecFigures(js, rec.tasks.asScala.filter(t => stageIds.contains(t.stageId)).toSeq,
      rec.sqls.asScala.filter(s => spanIds.contains(s.span)).toSeq)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Total length covered by a set of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
