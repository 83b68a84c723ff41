package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed client call into a layer. The client makes one call at a
  * time, so spans never overlap. Times are milliseconds on one clock
  * shared with the Spark listener events. */
final case class Span(id: Int, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Work Spark reported, stamped with when it happened. */
final case class JobEvent(start: Double, end: Double, tasks: Int, shuffleBytes: Long)
final case class PlanEvent(start: Double, dur: Double)

/** What one span accounts for once events are attributed to it. `selfMs`
  * is the span's time outside every job and planning interval in it. */
final case class Attributed(
    jobs: Int, tasks: Long, jobMs: Double, shuffleBytes: Long, planMs: Double, selfMs: Double)

object Trace {

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  /** Wall-clock milliseconds, the clock Spark stamps its events with,
    * with the monotonic clock's resolution. */
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that the
    * intervals of the work inside it cover. */
  def selfMs(span: Span, inside: Seq[(Double, Double)]): Double =
    span.dur - covered(span.start, span.end, inside)

  /** Attribute every event to the span open when it started. Job time is
    * the union of the span's job intervals, so jobs that run concurrently
    * do not count twice; self time leaves out jobs and planning alike. */
  def attribute(spans: Seq[Span], jobs: Seq[JobEvent], plans: Seq[PlanEvent]): Map[Int, Attributed] = {
    def in(s: Span, t: Double) = s.start <= t && t <= s.end
    spans.map { s =>
      val js = jobs.filter(j => in(s, j.start))
      val ps = plans.filter(p => in(s, p.start))
      val jobIv = js.map(j => (j.start, j.end))
      s.id -> Attributed(js.size, js.map(_.tasks.toLong).sum, covered(s.start, s.end, jobIv),
        js.map(_.shuffleBytes).sum, ps.map(_.dur).sum, selfMs(s, jobIv ++ ps.map(p => (p.start, p.start + p.dur))))
    }.toMap
  }
}

/** Records spans in memory and listens to Spark. Disabled, it does
  * nothing but run the body, so untraced runs pay no tracing cost. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = Trace.nowMs()
      try body
      finally spans += Span(spans.size, name, t0, Trace.nowMs())
    }

  def recorded: Seq[Span] = spans.toSeq

  private val jobStart = new ConcurrentHashMap[Int, Double]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  private val jobTasks = new ConcurrentHashMap[Int, Int]()
  private val jobShuffle = new ConcurrentHashMap[Int, Long]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobEvent]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanEvent]()

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time.toDouble)
      e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(jobOfStage.get(e.stageId)).foreach { j =>
        jobTasks.merge(j, 1, (a: Int, b: Int) => a + b)
        val m = e.taskMetrics
        if (m != null) jobShuffle.merge(j, m.shuffleWriteMetrics.bytesWritten, (a: Long, b: Long) => a + b)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { t0 =>
        jobs.add(JobEvent(t0, e.time.toDouble,
          Option(jobTasks.remove(e.jobId)).getOrElse(0),
          Option(jobShuffle.remove(e.jobId)).getOrElse(0L)))
      }
  }

  private object planListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add(PlanEvent(phases.map(_.startTimeMs).min.toDouble, phases.map(_.durationMs).sum.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  /** Waits for Spark's listener bus to deliver every event posted so far. */
  def drain(spark: SparkSession): Unit = if (enabled) {
    // the bus is private to spark; a marker job whose end we wait for
    // works the same: events are delivered in order
    val marker = Trace.nowMs()
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.currentTimeMillis() + 10000L
    while (!jobs.asScala.exists(_.start >= marker - 1.0) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  def jobEvents: Seq[JobEvent] = jobs.asScala.toSeq
  def planEvents: Seq[PlanEvent] = plans.asScala.toSeq

  def clearEvents(): Unit = { jobs.clear(); plans.clear(); spans.clear() }
}
