package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Wall clock in epoch nanoseconds with nanoTime resolution, so the
  * benchmark's own spans and Spark's millisecond event times share one
  * axis.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def now(): Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)
  def ms(t: Long): Long = t * 1000000L
}

/** A timed call into one layer. Times are epoch nanoseconds; `attrs`
  * carries the counters measured at the same boundary.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, job: Int, attrs: Map[String, Double])

/** One Spark job as the listener saw it, with its tasks' metrics. */
final class SparkJobRec(val id: Int, val start: Long) {
  @volatile var end: Long = -1L
  val stages = mutable.Set.empty[Int]
  var tasks, tasksFailed = 0L
  var taskNs, cpuNs, gcNs, shuffleWrite, shuffleRead, spill, input = 0L
}

/** Spans recorded from the benchmark's own files: around each call
  * into a layer, plus Spark jobs (SparkListener) and planning phases
  * (QueryExecutionListener). Spans stay in memory until the run ends.
  * When `on` is false nothing is recorded, so traced and untraced
  * passes can alternate in one session.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = mutable.Stack.empty[Int]
  private var job = -1

  def beginJob(jobId: Int): Unit = { job = jobId; stack.clear() }

  def span[T](name: String, attrs: => Map[String, Double] = Map.empty)(f: => T): T = {
    if (!on) return f
    val id = nextId; nextId += 1
    val parent = if (stack.isEmpty) -1 else stack.top
    stack.push(id)
    val t0 = Clock.now()
    try f
    finally {
      stack.pop()
      spans += Span(id, name, t0, Clock.now(), parent, job, attrs)
    }
  }

  // ── Spark side (listener bus thread) ──────────────────────────────
  val jobs = new ConcurrentHashMap[Int, SparkJobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** stage id -> its tasks' durations (ms) */
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  val blocksDropped = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val r = new SparkJobRec(e.jobId, Clock.ms(e.time))
    e.stageIds.foreach { s => r.stages += s; stageJob.put(s, e.jobId) }
    jobs.put(e.jobId, r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = Clock.ms(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    val r = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    r.foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (!e.taskInfo.successful) r.tasksFailed += 1
        val m = e.taskMetrics
        if (m != null) {
          r.taskNs += m.executorRunTime * 1000000L
          r.cpuNs += m.executorCpuTime
          r.gcNs += m.jvmGCTime * 1000000L
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.spill += m.diskBytesSpilled
          r.input += m.inputMetrics.bytesRead
        }
      }
      stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        .synchronized { stageTasks.get(e.stageId) += e.taskInfo.duration }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (on && e.blockUpdatedInfo.storageLevel == StorageLevel.NONE)
      blocksDropped.incrementAndGet()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPhases(qe)

  private def addPhases(qe: QueryExecution): Unit = if (on)
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add((name, Clock.ms(p.startTimeMs), Clock.ms(p.endTimeMs)))
    }

  /** Slowest stage of a Spark job: its max task time over its median. */
  def skew(r: SparkJobRec): Double = {
    val perStage = r.stages.toSeq.flatMap(s => Option(stageTasks.get(s)))
      .map(b => b.synchronized(b.sorted.toVector)).filter(_.nonEmpty)
    if (perStage.isEmpty) 0.0
    else {
      val slow = perStage.maxBy(_.sum)
      val med = slow(slow.size / 2).toDouble
      if (med <= 0) 1.0 else slow.last / med
    }
  }

  /** Move the Spark jobs and planning phases seen since the last call
    * into spans under the innermost benchmark span that contains them.
    */
  def absorb(): Unit = {
    val open = spans.filter(_.job == job).toVector
    val root = open.find(_.parent < 0).map(_.id).getOrElse(-1)
    // Spark reports whole milliseconds, so an interval may begin just
    // before the span that caused it: such intervals go to the job root
    def parentOf(t: Long): Int = {
      val inside = open.filter(s => s.start <= t && t <= s.end)
      if (inside.isEmpty) root else inside.maxBy(_.start).id
    }
    jobs.values.asScala.toSeq.sortBy(_.start).foreach { r =>
      val end = if (r.end < 0) Clock.now() else r.end
      spans += Span(nextId, "exec.job", r.start, end, parentOf(r.start), job,
        Map("spark_job" -> r.id.toDouble, "tasks" -> r.tasks.toDouble,
          "tasks_failed" -> r.tasksFailed.toDouble, "task_s" -> r.taskNs / 1e9,
          "task_cpu_s" -> r.cpuNs / 1e9, "gc_s" -> r.gcNs / 1e9,
          "shuffle_write_mb" -> r.shuffleWrite / 1e6,
          "shuffle_read_mb" -> r.shuffleRead / 1e6, "spill_mb" -> r.spill / 1e6,
          "input_mb" -> r.input / 1e6, "task_skew" -> skew(r)))
      nextId += 1
    }
    jobs.clear(); stageJob.clear(); stageTasks.clear()
    val seen = mutable.Set.empty[(String, Long, Long)]
    var p = phases.poll()
    while (p != null) {
      // a Dataset acted on twice reports its analysis phase twice
      if (seen.add(p)) {
        val (name, s, e) = p
        val layer = name match {
          case "analysis" => "plans.analyze"
          case "optimization" => "plans.optimize"
          case "planning" => "plans.physical"
          case other => s"plans.$other"
        }
        spans += Span(nextId, layer, s, e, parentOf(s), job, Map.empty)
        nextId += 1
      }
      p = phases.poll()
    }
  }
}
