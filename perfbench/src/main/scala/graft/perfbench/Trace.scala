package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. Times are epoch microseconds, the
  * axis Spark's listener events use (at millisecond resolution).
  * `derived` spans are reconstructed by the benchmark from callbacks
  * it observes (e.g. "the first output job started") rather than
  * wrapped around a call; Spark jobs are attributed to them by time.
  */
final case class Span(id: Long, parent: Long, name: String, request: Long,
                      startUs: Long, endUs: Long, derived: Boolean = false) {
  def layer: String = name.takeWhile(_ != '.')
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written to a side file. While a span is open its id rides on the
  * Spark local property [[Tracer.SpanProp]], so the listener can
  * attribute each Spark job to the innermost open span.
  *
  * Tracing is switched on per step (`on`), so a traced run can time
  * alternate steps with and without it and report the overhead.
  */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  @volatile var request = 0L

  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]
  private val open = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val offsetNs = System.currentTimeMillis * 1000000L - System.nanoTime

  def nowUs: Long = (System.nanoTime + offsetNs) / 1000L

  def currentId: Long = open.get

  /** Run `body` as a span named `layer.call`; `parent` overrides the
    * calling thread's open span (for work handed to another thread).
    */
  def span[A](name: String, parent: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val par = if (parent >= 0) parent else open.get.longValue
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      val prevOpen = open.get
      open.set(id)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = nowUs
      try body
      finally {
        done.add(Span(id, par, name, request, t0, nowUs))
        open.set(prevOpen)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }

  def derived(name: String, parent: Long, startUs: Long, endUs: Long): Unit =
    if (on && endUs > startUs)
      done.add(Span(ids.incrementAndGet(), parent, name, request, startUs, endUs, derived = true))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startUs)
}

object Tracer {
  val SpanProp = "graft.perfbench.span"
}

/** Spark counters of one job, attributed to the span open when it was
  * submitted (0 when none was).
  */
final class JobRec(val span: Long, val startUs: Long) {
  var endUs: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var taskUs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Counts jobs, stages and tasks per job. Events arrive on Spark's
  * listener-bus thread; read the records only after [[drain]].
  */
final class Counters extends SparkListener {
  val jobs = TrieMap.empty[Int, JobRec]
  private val stageJob = TrieMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    val rec = new JobRec(span, e.time * 1000L)
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endUs = e.time * 1000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      if (e.reason != Success) r.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.taskUs += m.executorRunTime * 1000L
        r.bytesRead += m.inputMetrics.bytesRead
        r.recordsRead += m.inputMetrics.recordsRead
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Wait until every posted event has reached this listener. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/** Interval arithmetic over spans and job records. */
final class TraceView(val spans: Seq[Span], jobRecs: Iterable[JobRec]) {
  private val children = spans.groupBy(_.parent)
  private val jobsBySpan = jobRecs.filter(_.endUs >= 0).groupBy(_.span)

  /** Total length covered by the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Jobs a span accounts for: its subtree's jobs, or, for a derived
    * span, its parent's own jobs that fall inside its interval.
    */
  def jobsOf(s: Span): Seq[JobRec] =
    if (s.derived)
      jobsBySpan.getOrElse(s.parent, Nil).filter(j => j.startUs >= s.startUs && j.startUs < s.endUs).toSeq
    else subtree(s).flatMap(x => jobsBySpan.getOrElse(x.id, Nil))

  /** Wall time minus the union of its Spark job intervals. */
  def driverOnlyUs(s: Span): Long =
    s.durUs - covered(jobsOf(s).map(j => (j.startUs, j.endUs)), s.startUs, s.endUs)

  /** Duration minus the part its child spans cover. */
  def selfUs(s: Span): Long =
    s.durUs - covered(children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs)), s.startUs, s.endUs)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def allJobs: Seq[JobRec] = spans.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
}
