package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds with nanoTime resolution, so span
  * times line up with Spark's epoch-millisecond event times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def micros(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
  def millis(): Long = micros() / 1000L
  def secondsSince(startNs: Long): Double = (System.nanoTime() - startNs) / 1e9
}

/** In-memory span recorder. A span is (id, parent, name, start, end) in
  * epoch microseconds; spans are written once, when the run ends. While
  * a span is open on a thread, the thread's Spark local property
  * `perfbench.span` names it, so every job the span launches is
  * attributed to it by [[JobStats]].
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)

  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def current: Long = stack.get.headOption.getOrElse(0L)

  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, start: Long, end: Long): Unit =
    if (on) spans.synchronized(spans += Span(id, parent, name, start, end))

  /** Run `f` with span `id` as the thread's job-attribution property —
    * threads started inside `f` (stream executions) inherit it. */
  def attributing[A](id: Long)(f: => A): A = {
    if (!on) return f
    val prior = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    try f finally sc.setLocalProperty(Tracer.SpanProp, prior)
  }

  /** Run `f` inside a span named `name`; returns `f`'s value. */
  def span[A](name: String)(f: => A): A = {
    if (!on) return f
    val id = ids.incrementAndGet()
    val parent = current
    val prior = sc.getLocalProperty(Tracer.SpanProp)
    stack.set(id :: stack.get)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val start = Clock.micros()
    try f finally {
      val end = Clock.micros()
      stack.set(stack.get.tail)
      sc.setLocalProperty(Tracer.SpanProp, prior)
      spans.synchronized(spans += Span(id, parent, name, start, end))
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_us":${s.start},"end_us":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val PhaseProp = "perfbench.phase"
}

/** Job, task, shuffle, spill and GC totals from a `SparkListener`, kept
  * per phase (the `perfbench.phase` local property of the thread that
  * submitted the job), plus every job's interval and span for
  * attribution.
  */
final class JobStats extends SparkListener {
  final case class Job(id: Int, span: Long, phase: String, start: Long, var end: Long)
  final class Totals {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var shuffleBytes = 0L
    var spillBytes = 0L; var gcMs = 0L; var taskFailures = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()

  private def totalsFor(phase: String): Totals = totals.computeIfAbsent(phase, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)
    val phase = p.flatMap(x => Option(x.getProperty(Tracer.PhaseProp))).getOrElse("none")
    jobs.put(e.jobId, Job(e.jobId, span, phase, e.time, -1L))
    e.stageIds.foreach(s => stagePhase.put(s, phase))
    val t = totalsFor(phase)
    t.synchronized(t.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = totalsFor(Option(stagePhase.get(e.stageId)).getOrElse("none"))
    val m = Option(e.taskMetrics)
    t.synchronized {
      t.tasks += 1
      if (e.reason != Success) t.taskFailures += 1
      m.foreach { tm =>
        t.runMs += tm.executorRunTime
        t.shuffleBytes += tm.shuffleReadMetrics.totalBytesRead + tm.shuffleWriteMetrics.bytesWritten
        t.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        t.gcMs += tm.jvmGCTime
      }
    }
  }

  def phase(name: String): Totals = totalsFor(name)
  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Catalyst optimisation and physical planning time of every executed
  * query, from its `QueryPlanningTracker`, with the optimisation start
  * time so callers can window them.
  */
final class PlanningStats extends QueryExecutionListener {
  final case class Entry(startMs: Long, optimizeMs: Long, planMs: Long)
  private val entries = ArrayBuffer.empty[Entry]

  private def add(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val opt = ph.get("optimization")
    val plan = ph.get("planning")
    val start = opt.orElse(plan).map(_.startTimeMs).getOrElse(0L)
    entries.synchronized(entries += Entry(start,
      opt.map(_.durationMs).getOrElse(0L), plan.map(_.durationMs).getOrElse(0L)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  /** (optimize seconds, plan seconds) of queries that started in [from, to] ms. */
  def within(from: Long, to: Long): (Double, Double) = entries.synchronized {
    val in = entries.filter(e => e.startMs >= from && e.startMs <= to)
    (in.map(_.optimizeMs).sum / 1e3, in.map(_.planMs).sum / 1e3)
  }
}

/** Every `StreamingQueryProgress`, in arrival order; `forRun` selects
  * one run (one start) of a query.
  * Always installed: the vote-to-result latency is computed from these
  * events whether or not tracing is on.
  */
final class StreamStats extends StreamingQueryListener {
  private val events = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.synchronized(events += e.progress)

  def forRun(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    events.synchronized(events.filter(_.runId == runId).toList)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (numpy "linear"; Python's
    * statistics.quantiles method="inclusive"). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
