package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same epoch as Spark's listener timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `depth` orders nesting: a deeper span that is
  * active at an instant owns that instant in the wall-time attribution.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      reqId: String, startMs: Double, endMs: Double,
                      depth: Int) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store. Disabled recorders drop everything, so the
  * untraced runs pay one branch per call site.
  */
final class Recorder(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def add(parent: Long, name: String, layer: String, reqId: String,
          startMs: Double, endMs: Double, depth: Int): Long = {
    if (!enabled) return -1L
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, name, layer, reqId, startMs, endMs, depth))
    id
  }

  /** Times `f` as a span; the span is recorded even when `f` throws. */
  def span[A](parent: Long, name: String, layer: String, reqId: String,
              depth: Int)(f: Long => A): A = {
    val id = if (enabled) ids.incrementAndGet() else -1L
    val t0 = Clock.nowMs
    try f(id)
    finally if (enabled)
      spans.add(Span(id, parent, name, layer, reqId, t0, Clock.nowMs, depth))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
}

object Attribution {

  /** Splits the root window's wall time over layers: each instant goes to
    * the deepest spans active at it, shared equally when several are
    * equally deep (parallel tasks). The result sums to the root's
    * duration, so the per-layer self times account for the wall time by
    * construction; the root layer's share is the part no child covers.
    */
  def selfTimes(spans: Seq[Span], rootStart: Double,
                rootEnd: Double, rootLayer: String): Map[String, Double] = {
    val inWin = spans.filter(s => s.endMs > rootStart && s.startMs < rootEnd)
      .map(s => s.copy(startMs = math.max(s.startMs, rootStart),
                       endMs = math.min(s.endMs, rootEnd)))
      .filter(_.durMs > 0)
    val cuts = (inWin.flatMap(s => Seq(s.startMs, s.endMs)) ++
      Seq(rootStart, rootEnd)).distinct.sorted.toArray
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val byStart = inWin.sortBy(_.startMs).toArray
    var i = 0
    while (i < cuts.length - 1) {
      val a = cuts(i); val b = cuts(i + 1)
      val active = byStart.iterator.takeWhile(_.startMs <= a)
        .filter(_.endMs >= b).toSeq
      if (active.isEmpty) out(rootLayer) += b - a
      else {
        val d = active.map(_.depth).max
        val top = active.filter(_.depth == d)
        top.foreach(s => out(s.layer) += (b - a) / top.size)
      }
      i += 1
    }
    out.toMap
  }

  /** Length of the union of `[s, e)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Double, Double)], lo: Double,
              hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** What the Spark listener saw of one job, with its stages' totals. */
final case class JobRecord(jobId: Int, startMs: Double, var endMs: Double,
                           stageIds: Seq[Int], executionId: Option[Long])

final class StageRecord(val stageId: Int, val attempt: Int) {
  var submitMs = 0.0; var doneMs = 0.0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spillBytes = 0L; var peakExecMem = 0L; var schedDelayMs = 0L
}

/** Spark listener for the traced runs: jobs (with the physical plan of
  * their SQL execution, which attributes them to a program function),
  * stages with their task metrics, and block-store bytes written by
  * persist / localCheckpoint. Records the time spent in its own
  * callbacks (`bench.listener_callback_pct`: one part of the tracing cost).
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRecord]()
  val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRecord]()
  val materializedBytes = new AtomicLong(0)
  val callbackNs = new AtomicLong(0)
  private val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      timed(plans.put(x.executionId, x.physicalPlanDescription.take(65536)))
    case _ =>
  }

  /** Physical plan of the SQL execution that ran `j` ("" if none). */
  def planOf(j: JobRecord): String =
    j.executionId.flatMap(id => Option(plans.get(id))).getOrElse("")

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private def stage(id: Int, attempt: Int): StageRecord =
    stages.computeIfAbsent((id, attempt), _ => new StageRecord(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs.add(JobRecord(e.jobId, e.time.toDouble, Double.NaN, e.stageIds, exec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.asScala.find(_.jobId == e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.synchronized {
      s.submitMs = i.submissionTime.getOrElse(0L).toDouble
      s.doneMs = i.completionTime.getOrElse(0L).toDouble
      s.tasks = i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        s.runMs = m.executorRunTime
        s.cpuNs = m.executorCpuTime
        s.gcMs = m.jvmGCTime
        s.inputBytes = m.inputMetrics.bytesRead
        s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        s.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      val delay = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      s.synchronized {
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        s.schedDelayMs += math.max(0L, delay)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      materializedBytes.addAndGet(b.memSize + b.diskSize)
  }

  def jobsIn(lo: Double, hi: Double): Seq[JobRecord] =
    jobs.asScala.toSeq.filter(j => j.startMs >= lo && j.startMs < hi)
      .sortBy(_.startMs)

  def stagesOf(j: JobRecord): Seq[StageRecord] =
    stages.asScala.values.filter(s => j.stageIds.contains(s.stageId) &&
      s.doneMs > 0).toSeq

  /** Records job spans (and their stages beneath) under `parent`; each
    * job's (layer, function name) comes from `layerOf`.
    */
  def emitSpans(rec: Recorder, parent: Long, reqId: String, depth: Int,
                lo: Double, hi: Double,
                layerOf: JobRecord => (String, String)): Unit =
    jobsIn(lo, hi).foreach { j =>
      val end = if (j.endMs.isNaN) hi else j.endMs
      val (layer, fn) = layerOf(j)
      val id = rec.add(parent, s"job${j.jobId} $fn".trim, layer, reqId,
        j.startMs, end, depth)
      // a stage does its job's work, so it belongs to the job's layer
      stagesOf(j).foreach { s =>
        rec.add(id, s"stage${s.stageId}", layer, reqId, s.submitMs,
          s.doneMs, depth + 1)
      }
    }
}
