package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counters fed by Spark's public listener interfaces. */
final class SparkCounters(spark: SparkSession) {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  /** Jobs outside any SQL execution (schema inference, file listing). */
  val untaggedJobs = new AtomicLong
  /** Executed queries over one event's payload view — the per-event
    * filter/transform path, also where a micro-batch falls back to it.
    */
  val perEventQueries = new AtomicLong
  /** Analysis + optimization + planning time of executed queries. */
  val planMs = new DoubleAdder

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      // SQL executions tag their jobs; the per-event path's only
      // untagged jobs are schema inference (`spark.read.json`)
      if (e.properties == null ||
        e.properties.getProperty("spark.sql.execution.id") == null)
        untaggedJobs.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskMetrics != null) taskMs.addAndGet(e.taskMetrics.executorRunTime)
    }
  })
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = note(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = note(qe)
  })

  private def note(qe: QueryExecution): Unit = {
    planMs.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    // the per-event path queries a `payload_*` view of one payload; the
    // micro-batch channel's `payload_*` view carries `__graft_eid`
    if (qe.analyzed.exists {
        case a: SubqueryAlias => a.identifier.name.startsWith("payload_") &&
          !a.output.exists(_.name == "__graft_eid")
        case _ => false
      }) perEventQueries.incrementAndGet()
  }

  /** Delivers every pending listener event, then reads the counters. */
  def snapshot(): Counts = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    Counts(jobs.get, tasks.get, taskMs.get, untaggedJobs.get,
      perEventQueries.get, planMs.sum)
  }
}

final case class Counts(jobs: Long, tasks: Long, taskMs: Long,
    untaggedJobs: Long, perEventQueries: Long, planMs: Double) {
  private def zip(o: Counts, f: (Double, Double) => Double): Counts =
    Counts(f(jobs, o.jobs).toLong, f(tasks, o.tasks).toLong,
      f(taskMs, o.taskMs).toLong, f(untaggedJobs, o.untaggedJobs).toLong,
      f(perEventQueries, o.perEventQueries).toLong, f(planMs, o.planMs))
  def -(o: Counts): Counts = zip(o, _ - _)
  def +(o: Counts): Counts = zip(o, _ + _)
}

object Counts { val Zero: Counts = Counts(0, 0, 0, 0, 0, 0.0) }

/** One traced call: name, trace id (the event, read or batch it belongs
  * to), parent span, wall interval in ms, the part of that interval
  * spent on tracing itself, and the Spark work the call caused.
  */
final case class Span(id: Int, trace: String, name: String, parent: Int,
    startMs: Double, endMs: Double, tracingMs: Double, counts: Counts) {
  /** Wall time without the tracer's own work. */
  def ms: Double = endMs - startMs - tracingMs
}

/** In-memory span recorder. Calls are traced from outside the program:
  * each wraps one public function of a layer. Spark counts are
  * attributed by draining the listener bus after every leaf call, so
  * the traced replay runs one call at a time. A drain lies outside its
  * leaf and inside the parent, where it is booked as tracing time.
  */
final class Tracer(counters: SparkCounters) {
  val spans = new ArrayBuffer[Span]()
  private val t0 = System.nanoTime()
  private var nextId = 0
  var drainMs = 0.0

  def now(): Double = (System.nanoTime() - t0) / 1e6

  /** Runs `body` as a leaf span under `parent`. */
  def leaf[T](trace: String, name: String, parent: Int)(body: => T): T = {
    val d0 = now()
    val before = counters.snapshot()
    val s = now()
    drainMs += s - d0
    try body
    finally {
      val e = now()
      val after = counters.snapshot()
      drainMs += now() - e
      nextId += 1
      spans += Span(nextId, trace, name, parent, s, e, 0.0, after - before)
    }
  }

  /** Runs `body` as a parent span; `body` receives the span id for its
    * children. A parent's counts are the sum of its leaves.
    */
  def root[T](trace: String, name: String)(body: Int => T): T = {
    nextId += 1
    val id = nextId
    val drain0 = drainMs
    val s = now()
    try body(id)
    finally {
      val e = now()
      val kids = spans.filter(_.parent == id)
      val total = kids.map(_.counts).foldLeft(Counts.Zero)(_ + _)
      spans += Span(id, trace, name, -1, s, e, drainMs - drain0, total)
    }
  }

  def children(span: Span): Seq[Span] = spans.filter(_.parent == span.id).toSeq

  /** Self time: the span's own wall time minus what its children cover. */
  def selfMs(span: Span): Double =
    Stats.selfTime(Stats.Interval(span.startMs, span.endMs),
      children(span).map(k => Stats.Interval(k.startMs, k.endMs))) -
      span.tracingMs

  def byName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}
