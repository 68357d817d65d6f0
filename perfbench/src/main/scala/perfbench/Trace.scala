package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A finished span: `layer` names the module whose public function the
  * harness called (`memo`), or `harness` for the operation's own span,
  * `name` the call; times are System.nanoTime. `group` is the Spark job
  * group the span's jobs ran under (top-level operation spans only). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long, group: Option[String]) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest per thread and are recorded only
  * inside [[on]] on an enabled tracer; nothing is written until the run
  * ends. Elsewhere a span runs its body and records nothing, so untraced
  * operations pay one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val active = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Record the spans `body` opens on this thread. */
  def on[T](body: => T): T = {
    val prev = active.get
    active.set(true)
    try body finally active.set(prev)
  }

  def span[T](layer: String, name: String, group: Option[String] = None)(body: => T): T =
    if (!enabled || !active.get) body
    else {
      val id = seq.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        done.add(Span(id, parent, layer, name, t0, t1, group))
      }
    }

  def spans: Vector[Span] = done.asScala.toVector
}

object Tracer {
  /** Self time per span: its duration minus its direct children's
    * durations (children run inside the parent, on the parent's thread). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** The spans whose root span carries one of `groups`. */
  def under(spans: Seq[Span], groups: Set[String]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = byId.get(s.parent).map(root).getOrElse(s)
    spans.filter(s => root(s).group.exists(groups))
  }

  /** Length of the union of [start, end) intervals clipped to [lo, hi). */
  def unionWithin(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Per-job and per-stage runtime facts, keyed by the job group the
  * submitting thread had set. Times are wall-clock millis, as the
  * scheduler reports them. */
final class JobRecorder extends SparkListener {
  import JobRecorder._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageFacts]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = Job(g, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val facts =
      if (m == null) StageFacts(si.numTasks, 0, 0, 0, 0, Vector.empty)
      else StageFacts(si.numTasks, m.executorCpuTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        taskMs.remove(si.stageId).map(_.toVector).getOrElse(Vector.empty))
    stages(si.stageId) = facts
  }

  def jobsOf(group: String): Seq[Job] = synchronized {
    jobs.values.filter(_.group.contains(group)).toVector
  }
  def stageFacts(ids: Seq[Int]): Seq[StageFacts] = synchronized {
    ids.flatMap(stages.get)
  }
}

object JobRecorder {
  final case class Job(group: Option[String], startMs: Long, var endMs: Long,
      stages: Seq[Int])
  final case class StageFacts(tasks: Int, cpuNs: Long, inputBytes: Long,
      shuffleBytes: Long, spillBytes: Long, taskMs: Vector[Long])
}
