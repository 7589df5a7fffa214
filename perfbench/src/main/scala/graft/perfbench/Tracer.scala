package graft.perfbench

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the public engine calls the benchmark makes, with
  * Spark jobs, tasks, Catalyst phase times and Hadoop filesystem
  * bytes written attributed to them.
  *
  * There is ONE global span stack: a streaming `foreachBatch` body
  * runs on the stream thread while the driver thread waits inside
  * the ingest call, so spans opened there nest under the ingest span.
  * Listener events arrive asynchronously, so attribution is done after
  * the fact by time: each job (by its submission time) and each
  * Catalyst phase (by its start time) belongs to the innermost span
  * whose interval contains that time. Spans stay in memory until
  * [[report]].
  *
  * When no session is attached (the timed run), [[span]] only runs
  * its body.
  */
object Tracer {

  final class Span(val id: Int, val name: String, val parent: Int, val depth: Int,
                   val startMs: Long, val startNs: Long, val fsBytes0: Long) {
    var endMs: Long = -1L
    var endNs: Long = -1L
    var fsBytes1: Long = 0L
    var extras: Seq[(String, Double)] = Nil
    def durNs: Long = endNs - startNs
    def fsBytes: Long = fsBytes1 - fsBytes0
  }

  final case class Job(id: Int, startMs: Long, stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }

  /** Per-job task totals. */
  final class TaskAgg {
    var tasks = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var cpuNs = 0L
  }

  final case class Phase(name: String, startMs: Long, durMs: Long)

  private val lock = new Object
  private val stack = mutable.ArrayBuffer.empty[Span]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobTasks = mutable.HashMap.empty[Int, TaskAgg]
  private val phases = mutable.ArrayBuffer.empty[Phase]
  @volatile private var attached: Option[SparkSession] = None

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val a = jobTasks.getOrElseUpdate(j, new TaskAgg)
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
          a.cpuNs += m.executorCpuTime
        }
      }
    }
  }

  private object QueryListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.map { case (n, p) => Phase(n, p.startTimeMs, p.durationMs) }
      lock.synchronized { phases ++= ps }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  /** Hadoop filesystem bytes written over every scheme. (The local
    * filesystem does not count write operations, only bytes.)
    */
  private def fsBytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(JobListener)
    spark.listenerManager.register(QueryListener)
    attached = Some(spark)
  }

  /** Wait for every queued listener event, then stop listening. */
  def detach(): Unit = attached.foreach { spark =>
    org.apache.spark.perfbench.ListenerBusShim.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(JobListener)
    spark.listenerManager.unregister(QueryListener)
    attached = None
  }

  /** Run `body` inside span `name`. */
  def span[T](name: String)(body: => T): T = spanWith(name, (_: T) => Nil)(body)

  /** [[span]] whose `extras` derives per-call values (rows rewritten,
    * files kept) from the result.
    */
  def spanWith[T](name: String, extras: T => Seq[(String, Double)])(body: => T): T = {
    if (attached.isEmpty) return body
    val s = open(name)
    try {
      val out = body
      s.extras = extras(out)
      out
    } finally close(s)
  }

  private def open(name: String): Span = {
    val b = fsBytesWritten()
    lock.synchronized {
      val parent = stack.lastOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        parent.map(_.depth + 1).getOrElse(0),
        System.currentTimeMillis(), System.nanoTime(), b)
      stack += s
      spans += s
      s
    }
  }

  private def close(s: Span): Unit = {
    val b = fsBytesWritten()
    lock.synchronized {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.fsBytes1 = b
      val i = stack.lastIndexWhere(_ eq s)
      if (i >= 0) stack.remove(i)
    }
  }

  /** Drop every recorded span and event. */
  def reset(): Unit = lock.synchronized {
    stack.clear(); spans.clear(); jobs.clear(); stageJob.clear()
    jobTasks.clear(); phases.clear()
  }

  // ---- attribution (pure, unit-tested) ----

  final case class Interval(id: Int, depth: Int, startMs: Long, endMs: Long)

  /** The innermost span open at time `t`: the deepest interval
    * containing `t`, the later-started one on a tie.
    */
  def innermost(intervals: Seq[Interval], t: Long): Option[Int] =
    intervals.filter(i => i.startMs <= t && t <= i.endMs)
      .sortBy(i => (i.depth, i.startMs, i.id))
      .lastOption.map(_.id)

  /** Total length of the union of intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd != Long.MinValue) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd != Long.MinValue) total += curEnd - curStart
    total
  }

  /** Self time of every span: its duration minus its direct
    * children's durations (children never outlive their parent).
    */
  def selfNs(spans: Seq[(Int, Int, Long)]): Map[Int, Long] = {
    // (id, parent, durNs)
    val childSum = spans.groupBy(_._2).map { case (p, cs) => p -> cs.map(_._3).sum }
    spans.map { case (id, _, d) => id -> math.max(0L, d - childSum.getOrElse(id, 0L)) }.toMap
  }

  /** Per-span-name totals over every closed span. */
  final class NameAgg(val name: String) {
    var calls = 0L
    var selfNs = 0L
    var jobs = 0L
    var tasks = 0L
    var gapNs = 0L
    var analysisMs = 0L
    var planMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var cpuNs = 0L
    var fsBytes = 0L
    val extras = mutable.LinkedHashMap.empty[String, Double]
  }

  /** Attribute every job and phase to its innermost span and total
    * them per span name. Call after [[detach]].
    */
  def report(): Seq[NameAgg] = lock.synchronized {
    val closed = spans.filter(_.endNs >= 0).toSeq
    val intervals = closed.map(s => Interval(s.id, s.depth, s.startMs, s.endMs))
    val self = selfNs(closed.map(s => (s.id, s.parent, s.durNs)))
    val childFs = closed.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.fsBytes).sum }
    val jobsOf = jobs.values.toSeq.groupBy(j => innermost(intervals, j.startMs))
    val phasesOf = phases.toSeq.groupBy(p => innermost(intervals, p.startMs))
    val byName = mutable.LinkedHashMap.empty[String, NameAgg]
    closed.foreach { s =>
      val a = byName.getOrElseUpdate(s.name, new NameAgg(s.name))
      val own = jobsOf.getOrElse(Some(s.id), Nil)
      val ownPhases = phasesOf.getOrElse(Some(s.id), Nil)
      val selfS = self(s.id)
      val busyMs = unionLength(own.map(j =>
        (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
      a.calls += 1
      a.selfNs += selfS
      a.jobs += own.size
      a.gapNs += math.max(0L, selfS - busyMs * 1000000L)
      own.flatMap(j => jobTasks.get(j.id)).foreach { t =>
        a.tasks += t.tasks; a.shuffleBytes += t.shuffleBytes
        a.spillBytes += t.spillBytes; a.cpuNs += t.cpuNs
      }
      ownPhases.foreach { p =>
        if (p.name == "analysis") a.analysisMs += p.durMs
        else if (p.name == "optimization" || p.name == "planning") a.planMs += p.durMs
      }
      a.fsBytes += math.max(0L, s.fsBytes - childFs.getOrElse(s.id, 0L))
      s.extras.foreach { case (k, v) => a.extras(k) = a.extras.getOrElse(k, 0.0) + v }
    }
    byName.values.toSeq
  }

  /** Every closed span as (id, name, parent, startMs, durMs) — the
    * raw timeline written beside the per-name totals.
    */
  def timeline(): Seq[(Int, String, Int, Long, Double)] = lock.synchronized {
    spans.filter(_.endNs >= 0).map(s => (s.id, s.name, s.parent, s.startMs, s.durNs / 1e6)).toSeq
  }
}
