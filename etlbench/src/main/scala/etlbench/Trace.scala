package etlbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span tracer for the traced run.
  *
  * Spans nest by call structure (cycle → enqueue / batch, pass → query →
  * build / output). Each span tags the Spark jobs it starts through the
  * local property [[SpanKey]]; a listener collects jobs, stages, tasks,
  * executor CPU, GC, shuffle bytes and storage memory per job, and a
  * [[QueryExecutionListener]] collects Catalyst phase times. Planning
  * phases carry wall-clock bounds, so each is charged to the innermost
  * span that was open when it started.
  *
  * Until [[enable]], [[span]] only runs its body: the untraced timing
  * path has no listener and no bookkeeping.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val executions = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, planningMs)
  private val blocks = mutable.Map.empty[String, Long]
  private var storageNow, storagePeak = 0L

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      val j = Job(e.jobId, span.getOrElse(-1), e.time)
      j.stages = e.stageIds.size
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).foreach { j =>
        val m = si.taskMetrics
        j.tasks += si.numTasks
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      val b = e.blockUpdatedInfo
      val prev = blocks.getOrElse(b.blockId.name, 0L)
      val now = if (b.storageLevel.isValid) b.memSize else 0L
      blocks(b.blockId.name) = now
      storageNow += now - prev
      storagePeak = math.max(storagePeak, storageNow)
    }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ps = qe.tracker.phases.values
      if (ps.nonEmpty) executions += ((ps.map(_.startTimeMs).min, ps.map(_.durationMs).sum))
    }
  }

  @volatile private var on = false

  /** Start tracing: register the listeners; spans record from now on. */
  def enable(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Stop tracing; what was recorded stays for [[report]]. */
  def disable(): Unit = if (on) {
    settle()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Run `body` as a child span of the innermost open span. */
  def span[T](name: String, kind: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, kind)
      spans += s
      stack = s :: stack
      val prevProp = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      s.fsStart = CountingFileSystem.snapshot
      s.startMs = System.currentTimeMillis(); s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        s.fsEnd = CountingFileSystem.snapshot
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** Wait until the listener bus has delivered every event so far. */
  def settle(): Unit = if (on) {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def storagePeakBytes: Long = synchronized(storagePeak)

  /** Per-span rollup over the spans recorded so far. */
  def report(): Seq[SpanStats] = synchronized {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).toSeq.flatMap(subtree)
    val jobsBySpan = jobs.values.groupBy(_.span)
    spans.toSeq.map { s =>
      val ids = subtree(s).map(_.id).toSet
      val js = ids.toSeq.flatMap(jobsBySpan.getOrElse(_, Nil))
      val wall = (s.endNs - s.startNs) / 1e9
      val childWall = children.getOrElse(s.id, Nil).map(c => (c.endNs - c.startNs) / 1e9).sum
      val mine = executions.filter { case (st, _) => innermost(st).exists(ids) }
      val planningMs = mine.map(_._2).sum
      val jobS = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      SpanStats(s.id, s.parent, s.name, s.kind, wall, wall - childWall,
        jobs = js.size, stages = js.map(_.stages).sum, tasks = js.map(_.tasks).sum,
        jobS = jobS, planningS = planningMs / 1e3,
        cpuS = js.map(_.cpuNs).sum / 1e9, gcS = js.map(_.gcMs).sum / 1e3,
        shuffleBytes = js.map(_.shuffleBytes).sum,
        actions = mine.size,
        fs = s.fsEnd.zip(s.fsStart).map { case (a, b) => a - b })
    }
  }

  /** Innermost span open at wall-clock `ms`. */
  private def innermost(ms: Long): Option[Int] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).lastOption.map(_.id)
}

object Trace {
  val SpanKey = "etlbench.span"

  final case class Span(id: Int, parent: Int, name: String, kind: String) {
    var startNs, endNs, startMs, endMs = 0L
    var fsStart, fsEnd: Seq[Long] = Nil
  }

  final case class Job(id: Int, span: Int, start: Long) {
    var end = start
    var stages, tasks = 0
    var cpuNs, gcMs, shuffleBytes = 0L
  }

  final case class SpanStats(id: Int, parent: Int, name: String, kind: String,
      wallS: Double, selfS: Double, jobs: Int, stages: Int, tasks: Int,
      jobS: Double, planningS: Double, cpuS: Double, gcS: Double,
      shuffleBytes: Long, actions: Int, fs: Seq[Long]) {
    def driverGapS: Double = wallS - jobS - planningS
  }
}
