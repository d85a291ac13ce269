package fintxbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in fractional epoch milliseconds: one base reading of
  * currentTimeMillis advanced by nanoTime, so span ends, landing-file
  * renames and Spark's own event times share one scale.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Long, name: String, trace: String, parent: Long,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spans around the benchmark's own calls into each program layer, kept
  * in memory and written out at exit. Off, `span` is a plain call.
  *
  * Each span also tags the Spark jobs its thread launches (local property
  * `fintx.span`), which is how the job listener splits a write into its
  * jobs and the commit work that follows the last one.
  */
final class Tracer(val on: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val current = new ThreadLocal[Span]
  /** Nanoseconds spent in tracing bookkeeping on any thread. */
  val overheadNs = new LongAdder

  def span[T](name: String, trace: String)(body: => T): T =
    if (!on) body
    else {
      val o0 = System.nanoTime()
      val parent = current.get
      val s0 = Span(ids.incrementAndGet(), name, trace,
        if (parent == null) 0L else parent.id, Clock.nowMs, 0)
      current.set(s0)
      val sc = SparkSession.getActiveSession.map(_.sparkContext)
        .orElse(SparkSession.getDefaultSession.map(_.sparkContext))
      val prevTag = sc.map(_.getLocalProperty("fintx.span")).orNull
      sc.foreach(_.setLocalProperty("fintx.span", s"${s0.id}"))
      overheadNs.add(System.nanoTime() - o0)
      try body
      finally {
        val o1 = System.nanoTime()
        spans.add(s0.copy(end = Clock.nowMs))
        current.set(parent)
        sc.foreach(_.setLocalProperty("fintx.span", prevTag))
        overheadNs.add(System.nanoTime() - o1)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String, from: Double, to: Double): Seq[Span] =
    all.filter(s => s.name == name && s.end >= from && s.start <= to)
}

/** Job, stage and task counters plus task-time sums, and the end time of
  * the last job each span launched.
  */
final class JobListener(overheadNs: LongAdder) extends SparkListener {
  val jobs, stages, tasks = new LongAdder
  val taskRunMs, taskCpuNs, schedDelayMs = new LongAdder
  private val jobTag = new ConcurrentHashMap[Int, String]()
  val lastJobEnd = new ConcurrentHashMap[String, java.lang.Double]()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime(); body; overheadNs.add(System.nanoTime() - t0)
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs.increment()
    Option(e.properties).flatMap(p => Option(p.getProperty("fintx.span")))
      .foreach(jobTag.put(e.jobId, _))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobTag.remove(e.jobId)).foreach { tag =>
      lastJobEnd.merge(tag, e.time.toDouble, (a, b) => java.lang.Double.valueOf(math.max(a, b)))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed(stages.increment())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      val i = e.taskInfo
      schedDelayMs.add(math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime))
    }
  }
}

/** Catalyst phase totals of every action the session ran. */
final class PhaseListener(overheadNs: LongAdder) extends QueryExecutionListener {
  val analysisMs, optimizationMs, planningMs = new LongAdder
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t0 = System.nanoTime()
    val p = qe.tracker.phases
    p.get("analysis").foreach(x => analysisMs.add(x.durationMs))
    p.get("optimization").foreach(x => optimizationMs.add(x.durationMs))
    p.get("planning").foreach(x => planningMs.add(x.durationMs))
    overheadNs.add(System.nanoTime() - t0)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** One micro-batch's progress, as the stream reported it. */
final case class Progress(startMs: Double, rows: Long, phases: Map[String, Long]) {
  def ms(p: String): Long = phases.getOrElse(p, 0L)
}

final class ProgressListener(overheadNs: LongAdder) extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    val p = e.progress
    if (p.numInputRows > 0) progress.add(Progress(
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    overheadNs.add(System.nanoTime() - t0)
  }
}

/** Process-wide JIT, GC and janino counters, read as deltas over a window. */
final case class JvmCounters(jitMs: Long, gcMs: Long, janinoCompiles: Long, janinoNs: Long) {
  def -(o: JvmCounters): JvmCounters = JvmCounters(jitMs - o.jitMs, gcMs - o.gcMs,
    janinoCompiles - o.janinoCompiles, janinoNs - o.janinoNs)
}
object JvmCounters {
  def now(): JvmCounters = JvmCounters(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}

/** Everything a traced run listens with. */
final class Listeners(spark: SparkSession, tracer: Tracer) {
  val jobs = new JobListener(tracer.overheadNs)
  val phases = new PhaseListener(tracer.overheadNs)
  val stream = new ProgressListener(tracer.overheadNs)
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(phases)
  spark.streams.addListener(stream)

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.FintxBenchAccess.drainListenerBus(spark.sparkContext)
}
