package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into a layer. `op` ties the spans
  * of one request, landing or registry row together.
  */
final case class Span(id: Long, parent: Long, name: String, op: Long,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Benchmark-side spans, kept in memory and written out when the run
  * ends. Off by default: the untraced phases record nothing.
  */
final class Tracer {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, op, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def ms(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    val _ = java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Counters from Spark's public listeners. Registered only for the
  * traced phases, so the untraced phases run with the session exactly as
  * the program configures it.
  */
final class Counters extends SparkListener {
  val jobs, stages, tasks, jobMs = new AtomicLong
  val taskRunMs, taskCpuNs, scanBytes, shuffleWrite, shuffleRead, spill = new AtomicLong
  val analysisMs, optimizerMs, planningMs, executions = new AtomicLong
  val streamDurations = new ConcurrentLinkedQueue[java.util.Map[String, java.lang.Long]]
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t0 => jobMs.addAndGet(e.time - t0))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val _ = stages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      scanBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      analysisMs.addAndGet(ms("analysis"))
      optimizerMs.addAndGet(ms("optimization"))
      planningMs.addAndGet(ms("planning"))
      val _ = executions.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) { val _ = streamDurations.add(e.progress.durationMs) }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "job_ms" -> jobMs.get, "task_run_ms" -> taskRunMs.get,
    "task_cpu_ms" -> taskCpuNs.get / 1000000, "scan_bytes" -> scanBytes.get,
    "shuffle_write_bytes" -> shuffleWrite.get,
    "shuffle_read_bytes" -> shuffleRead.get, "spill_bytes" -> spill.get,
    "analysis_ms" -> analysisMs.get, "optimizer_ms" -> optimizerMs.get,
    "planning_ms" -> planningMs.get, "executions" -> executions.get)
}

/** Everything the traced run reads: the benchmark's spans, the listener
  * counters, codegen metrics and the JVM's own MXBeans.
  */
final class Probe(spark: SparkSession, val traced: Boolean) {
  val tracer = new Tracer
  val counters = new Counters
  private val attached = new AtomicBoolean

  /** Traced runs: register the listeners and record spans from now on. */
  def traceOn(): Unit =
    if (traced && !attached.getAndSet(true)) {
      tracer.enabled = true
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters.queryListener)
      spark.streams.addListener(counters.streamListener)
    }

  /** Counter values after every event posted so far has been delivered. */
  def counts(): Map[String, Long] = {
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    counters.snapshot
  }

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a(k)) }
}

object Jvm {
  private def beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = beans.map(_.getCollectionTime).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def compileN: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileMs: Double = CodeGenerator.compileTime / 1e6
  /** Heap in use after a full collection. */
  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  /** Nearest-rank percentile, q in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(q * s.size).toInt - 1))
    }
  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
