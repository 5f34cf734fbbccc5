package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Output checks of one run: every checked operation is attempted once
  * and failed at most once; the first few failures are kept verbatim.
  */
final class Checks {
  private val attemptedN = new AtomicInteger
  private val failedN = new AtomicInteger
  private val messages = new ConcurrentLinkedQueue[String]

  def apply(ok: Boolean, what: => String): Boolean = {
    attemptedN.incrementAndGet()
    if (!ok) {
      failedN.incrementAndGet()
      if (messages.size < 20) messages.add(what)
    }
    ok
  }
  def attempted: Int = attemptedN.get
  def failed: Int = failedN.get
  def errors: Seq[String] = messages.asScala.toSeq
}

/** What one run shares across its phases. `sessionS` is the time from
  * JVM start until the session was ready.
  */
final class Ctx(val spark: SparkSession, val probe: Probe, val checks: Checks,
                val seed: Long, val seconds: Double, val cpus: Int,
                val work: Path, val data: Path, val registry: Path,
                val record: Boolean, val sessionS: Double) {
  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
  def span[T](name: String, op: Long)(body: => T): T = probe.tracer.span(name, op)(body)
}

/** Latencies (ms) of the operations one measured phase completed, its
  * wall time and the process CPU time it used.
  */
final case class Phase(latMs: Seq[Double], ops: Int, wallS: Double, cpuS: Double) {
  def p50: Double = Stats.median(latMs)
  def e2e(setupS: Double): Map[String, Double] = Map(
    "setup_s" -> setupS, "p50_ms" -> p50, "ops_per_s" -> ops / wallS,
    "cpu_ms_per_op" -> 1000 * cpuS / ops)
  /** Tail latency: a diagnostic, too few samples per run to gate on. */
  def tail: Map[String, Double] = Map("tail.p90_ms" -> Stats.pct(latMs, 0.9))
}

object Phase {
  /** Run `body`, which returns (latencies, ops), as one measured phase. */
  def measure(body: => (Seq[Double], Int)): Phase = {
    val t0 = System.nanoTime(); val c0 = Jvm.cpuS
    val (lat, ops) = body
    Phase(lat, ops, Time.secondsSince(t0), Jvm.cpuS - c0)
  }
}

/** A run's result before its JSON is written. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
                         samples: Seq[Double] = Nil)

object Setup {
  /** setup_s is the session time, the median staging and the warm-up. */
  def log(ctx: Ctx, stagings: Seq[Double], warmS: Double): Unit =
    System.err.println(f"[perfbench] setup: session ${ctx.sessionS}%.2f s, stagings " +
      stagings.map(s => f"$s%.2f").mkString("[", ", ", "]") + f" s, warm-up $warmS%.2f s")
}

object Time {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secondsSince(t0))
  }
}

/** Per-layer metrics every workload reports from Spark's listeners,
  * normalised per operation of the traced phase.
  */
object SparkLayers {
  def apply(d: Map[String, Long], ops: Int): Map[String, Double] = {
    def per(k: String): Double = d(k).toDouble / math.max(ops, 1)
    Map(
      "plan.analysis_ms" -> per("analysis_ms"),
      "plan.optimizer_ms" -> per("optimizer_ms"),
      "plan.planning_ms" -> per("planning_ms"),
      "sched.jobs" -> per("jobs"),
      "sched.stages" -> per("stages"),
      "sched.tasks" -> per("tasks"),
      "exec.action_ms" -> per("job_ms"),
      "exec.task_run_ms" -> per("task_run_ms"),
      "exec.task_cpu_ms" -> per("task_cpu_ms"),
      "exec.scan_bytes" -> per("scan_bytes"),
      "exec.shuffle_write_bytes" -> per("shuffle_write_bytes"),
      "exec.shuffle_read_bytes" -> per("shuffle_read_bytes"),
      "exec.spill_bytes" -> per("spill_bytes"))
  }
}
