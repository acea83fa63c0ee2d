package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` groups the spans of one benchmark
  * operation (a query, a live window, a serving call); `parent` is the
  * enclosing span (0 = none). Times are milliseconds on one clock shared
  * with the Spark listener's job timestamps. */
final case class Span(id: Long, op: Long, parent: Long, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spark work attributed to one span. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var inputRows = 0L
}

object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with nanoTime resolution. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** Times benchmark calls. With tracing on it also records one [[Span]]
  * per call and tags the calling thread so the [[JobListener]] can
  * attribute Spark jobs to the innermost open span; with tracing off it
  * only reads the clock, so the end-to-end runs carry no listener. */
final class Tracer(val sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, Long)]] { // (span, op)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) }
    else None

  /** Run `body` as a span; returns its result and its wall milliseconds.
    * `newOp` starts a new operation id instead of inheriting the
    * enclosing span's. */
  def span[T](name: String, newOp: Boolean = false)(body: => T): (T, Double) = {
    val stack = open.get()
    val id = ids.incrementAndGet()
    val op = if (newOp || stack.isEmpty) id else stack.head._2
    val parent = stack.headOption.fold(0L)(_._1)
    if (enabled) {
      open.set((id, op) :: stack)
      sc.setLocalProperty(JobListener.SpanKey, id.toString)
    }
    val t0 = Clock.nowMs
    try {
      val r = body
      (r, Clock.nowMs - t0)
    } finally {
      val t1 = Clock.nowMs
      if (enabled) {
        spans.add(Span(id, op, parent, name, t0, t1))
        open.set(stack)
        sc.setLocalProperty(JobListener.SpanKey,
          stack.headOption.map(_._1.toString).orNull)
      }
    }
  }

  /** Every recorded span, Spark jobs included as child spans named
    * `job: <short call site>` (their work is folded into the report). */
  def allSpans(): Seq[Span] = {
    listener.foreach(_ => org.apache.spark.ListenerBusAccess.drain(sc))
    val own = spans.asScala.toSeq
    val byId = own.map(s => s.id -> s).toMap
    val jobs = listener.toSeq.flatMap(_.jobs.asScala.toSeq.sortBy(_._1)).flatMap {
      case (jobId, j) if j.endMs > 0 =>
        val parent = byId.get(j.span)
        Some(Span(-jobId - 1, parent.fold(0L)(_.op), j.span,
          s"job: ${j.callSite}", j.startMs, j.endMs))
      case _ => None
    }
    (own ++ jobs).sortBy(_.startMs)
  }

  /** Spark work attributed to each span id (direct jobs only). */
  def workBySpan(): Map[Long, Work] = {
    listener.foreach(_ => org.apache.spark.ListenerBusAccess.drain(sc))
    listener.fold(Map.empty[Long, Work])(_.work.asScala.toMap)
  }
}

object JobListener {
  val SpanKey = "perfbench.span"
  final class JobRec(val span: Long, val callSite: String, val startMs: Double) {
    @volatile var endMs: Double = 0
  }
}

/** Collects job spans and task metrics for a traced run: per-span work
  * (tasks, executor run time, shuffle, rows read), the run time and spill
  * of each finished task (for the measured phase's busy fraction), and
  * each stage's wait between submission and its first task launch. */
final class JobListener extends SparkListener {
  import JobListener._
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val work = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  /** (stage submitted ms, first task launch ms) per stage. */
  val stageWait = new ConcurrentLinkedQueue[(Long, Long)]()
  /** (task end ms, executor run ms, spilled bytes, span) per finished task. */
  val taskRun = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()

  private def workOf(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).fold(0L)(_.toLong)
    // the result stage is named after the job's short call site
    val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
    jobs.put(e.jobId, new JobRec(span, site, e.time.toDouble))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val w = workOf(span)
    w.synchronized { w.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageSubmitted.remove(e.stageId)).foreach { sub =>
      stageWait.add((sub.longValue, e.taskInfo.launchTime))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val span = Option(stageSpan.get(e.stageId)).fold(0L)(_.longValue)
    val w = workOf(span)
    w.synchronized {
      w.tasks += 1
      w.runMs += m.executorRunTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.inputRows += m.inputMetrics.recordsRead
    }
    taskRun.add((e.taskInfo.finishTime, m.executorRunTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, span))
  }

  /** Executor run milliseconds, the part of them run for a job of some
    * span, and spilled bytes of the tasks that finished inside [t0, t1]. */
  def tasksBetween(t0: Double, t1: Double): (Long, Long, Long) = {
    val ts = taskRun.asScala.filter(t => t._1 >= t0 && t._1 <= t1)
    (ts.iterator.map(_._2).sum, ts.iterator.filter(_._4 != 0).map(_._2).sum,
      ts.iterator.map(_._3).sum)
  }

  /** Jobs started inside [t0, t1]. */
  def jobsBetween(t0: Double, t1: Double): Int =
    jobs.values.asScala.count(j => j.startMs >= t0 && j.startMs <= t1)

  /** Summed submission-to-first-task wait of stages submitted in [t0, t1]. */
  def stageWaitMsBetween(t0: Double, t1: Double): (Long, Int) = {
    val ws = stageWait.asScala.filter(w => w._1 >= t0 && w._1 <= t1)
    (ws.iterator.map(w => math.max(0L, w._2 - w._1)).sum, ws.size)
  }
}
