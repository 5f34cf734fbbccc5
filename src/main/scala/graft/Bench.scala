package graft
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import JsonLines.quote

/** Per-query JVM state snapshot, so a timing anomaly carries its own
  * diagnosis (r4: a contiguous band of 12 queries ran 10-600x steady
  * state with no per-plan explanation — the suspects are all JVM-level:
  * JIT/code-cache pressure, GC storms, codegen-cache churn).
  */
object JvmStats {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
  private val comp = Option(ManagementFactory.getCompilationMXBean)
  private val mem = ManagementFactory.getMemoryMXBean

  def gcTimeMs: Long = gcBeans.map(_.getCollectionTime).sum
  def gcCount: Long = gcBeans.map(_.getCollectionCount).sum
  /** Cumulative CPU nanoseconds consumed by THIS process (all threads).
    * The starvation discriminator: a query whose wall time balloons
    * while its cpu delta stays flat was waiting on the host (external
    * load, cgroup throttling), not executing slowly.
    */
  def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }
  /** 1-minute system load average (runnable tasks host-wide). */
  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  /** Cumulative JIT compilation wall time (all compiler threads). */
  def jitTimeMs: Long = comp.map(_.getTotalCompilationTime).getOrElse(-1L)
  /** ms since JVM start — the SAME clock `-XX:+PrintCompilation` stamps
    * its lines with, so an anomalous query's window can be grepped out
    * of a compilation log directly.
    */
  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
  /** (user ticks, kernel ticks, minor faults, major faults) of this
    * process from /proc/self/stat — splits a CPU burn into "our code" vs
    * "the kernel", and counts the page faults that explain kernel time
    * (this host's VM layer services cold-frame faults at a rate that
    * varies ~40x with host load — see BENCHNOTES). Linux-only.
    */
  def procStat: (Long, Long, Long, Long) =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")))
      // comm (field 2) may contain spaces — fields resume after last ')'
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      // 1-based /proc fields 10 minflt, 12 majflt, 14 utime, 15 stime
      (rest(11).toLong, rest(12).toLong, rest(7).toLong, rest(9).toLong)
    } catch { case _: Throwable => (-1L, -1L, -1L, -1L) }
  /** Bytes used across the code-cache pools (CodeHeap segments on 17). */
  def codeCacheUsed: Long =
    pools.filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum
  def heapUsed: Long = mem.getHeapMemoryUsage.getUsed
  def heapCommitted: Long = mem.getHeapMemoryUsage.getCommitted
  /** Cumulative PSI stall totals (microseconds) from
    * `/proc/pressure/{cpu,memory,io}` — the HOST-level pressure record
    * the r15 crash post-mortem lacked: a query whose wall balloons
    * while the host's `some` stall total jumps was starved by
    * co-tenants, readable straight off the artifact with no rerun.
    * Returns (cpu_some, mem_some, mem_full, io_some, io_full); -1 when
    * the psi interface is absent (non-Linux / CONFIG_PSI=n).
    */
  def psiTotalsUs: (Long, Long, Long, Long, Long) = {
    def read(kind: String): (Long, Long) =
      try {
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(s"/proc/pressure/$kind")).asScala
        def total(prefix: String): Long =
          lines.find(_.startsWith(prefix))
            .flatMap(_.split(" ").find(_.startsWith("total=")))
            .map(_.stripPrefix("total=").toLong).getOrElse(-1L)
        (total("some"), total("full"))
      } catch { case _: Throwable => (-1L, -1L) }
    val (cs, _) = read("cpu"); val (ms, mf) = read("memory")
    val (is, ifl) = read("io")
    (cs, ms, mf, is, ifl)
  }
}

/** The per-row cost ledger. Jobs, stages and task metrics come from the
  * SparkContext's bus (`addSparkListener`); analysis, optimizer and
  * planning time from the phase tracker of each `QueryExecution` that
  * runs an action (the session's `listenerManager`), so a builder's
  * eager analysis of a frame it never runs shows only in `build_ms`.
  * Attribution is serial: [[take]] returns everything delivered since
  * the previous `take`, so draining the bus and taking before and after
  * a row ([[Bench.measure]]) yields that row's work when nothing else
  * runs on the context. Task CPU is kept apart from process CPU: a burn
  * inside tasks would recur on a cluster, one outside them (driver,
  * JIT, listeners) is a local-harness artifact.
  */
final class Ledger extends SparkListener with QueryExecutionListener {
  private val jobs, tasks, taskCpuNs, taskRunMs, shuffleRead, shuffleWrite, spill,
    analysisMs, optimizerMs, planningMs = new LongAdder
  private val stages = new ConcurrentLinkedQueue[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val _ = stages.add(s"""{"id":${si.stageId},"tasks":${si.numTasks},""" +
      s""""cpu_s":${Bench.r3(m.executorCpuTime / 1e9)},"run_s":${Bench.r3(m.executorRunTime / 1e3)},""" +
      s""""sh_r_bytes":${m.shuffleReadMetrics.totalBytesRead},""" +
      s""""sh_w_bytes":${m.shuffleWriteMetrics.bytesWritten},""" +
      s""""name":${quote(si.name.takeWhile(_ != '\n').take(90))}}""")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.increment()
      taskCpuNs.add(m.executorCpuTime)
      taskRunMs.add(m.executorRunTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs.add(ms("analysis"))
    optimizerMs.add(ms("optimization"))
    planningMs.add(ms("planning"))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Everything delivered since the previous call; resets the ledger. */
  def take(): Ledger.Counts = Ledger.Counts(
    jobs.sumThenReset(), tasks.sumThenReset(), taskCpuNs.sumThenReset(),
    taskRunMs.sumThenReset(), shuffleRead.sumThenReset(), shuffleWrite.sumThenReset(),
    spill.sumThenReset(), analysisMs.sumThenReset(), optimizerMs.sumThenReset(),
    planningMs.sumThenReset(),
    Iterator.continually(stages.poll()).takeWhile(_ != null).toVector)
}

object Ledger {
  /** One row's counts. `stages` holds one JSON object per completed
    * stage: `{id, tasks, cpu_s, run_s, sh_r_bytes, sh_w_bytes, name}`.
    */
  final case class Counts(jobs: Long, tasks: Long, taskCpuNs: Long, taskRunMs: Long,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
                          analysisMs: Long, optimizerMs: Long, planningMs: Long,
                          stages: Seq[String])
}

/** The one main that times registry rows:
  * `runMain graft.Bench [name,name2,...] [reps]` (sfDir from
  * SPARK_GRAFT_SF_DIR, threads from SPARK_GRAFT_CPUS). With no argument
  * it times every record once, the suite the driver runs. A name filter
  * narrows the rows and their warm-ups; with `reps` each row runs back
  * to back and every summary figure reads the last (steady-state) rep.
  * `--list` prints the registry names without starting Spark;
  * SPARK_GRAFT_EXPLAIN=1 prints each row's formatted plan after its
  * last rep. Every rep is one `bench_rows.jsonl` line (its wall split,
  * [[Ledger]] counts, stage list, codegen counts and [[JvmStats]]
  * snapshot) and one stderr line `[bench] <name> rep<r> <sec>s jobs=..
  * stages=.. janino=..`, so a slow row explains itself without a rerun.
  */
object Bench {
  private[graft] def r3(x: Double): Double = math.round(x * 1000) / 1000.0

  /** One timed row. `stats` is its `jvm_stats` entry in
    * bench_full.json: every field of `json` except the stage list.
    */
  final case class Row(name: String, rep: Int, sec: Double, ok: Boolean,
                       buildMs: Double, execMs: Double, janinoN: Long, janinoMs: Double,
                       counts: Ledger.Counts, jvm: String) {
    def taskCpuS: Double = counts.taskCpuNs / 1e9
    private def fields: String =
      s""""build_ms":$buildMs,"exec_ms":$execMs,"n_jobs":${counts.jobs},""" +
        s""""n_stages":${counts.stages.size},"shuffle_read_bytes":${counts.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${counts.shuffleWriteBytes},"spill_bytes":${counts.spillBytes},""" +
        s""""janino_n":$janinoN,"janino_ms":$janinoMs,"analysis_ms":${counts.analysisMs},""" +
        s""""optimizer_ms":${counts.optimizerMs},"planning_ms":${counts.planningMs}"""
    def json: String =
      s"""{"q":${quote(name)},"rep":$rep,"sec":${r3(sec)},"task_cpu_s":${r3(taskCpuS)},""" +
        s""""ok":$ok,$fields,"stages":${counts.stages.mkString("[", ",", "]")},"jvm":$jvm}"""
    def stats: String = "{" + fields + "," + jvm.drop(1)
  }

  private def drain(spark: SparkSession): Unit =
    try ListenerBridge.drain(spark.sparkContext) catch { case _: Throwable => () }

  /** Times one row: `body` builds the query's DataFrame (`build_ms`:
    * table opens, analysis, any job the builder runs itself) and a
    * `noop` write executes it (`exec_ms`). The noop write runs the
    * DECLARED plan end to end; a bare `.count()` would let the optimizer
    * delete top-level sorts, so every orderBy query's final sort would
    * go unmeasured. Work finished before the call is no row's: the bus
    * is drained and the ledger taken first. Never throws: a crashing row
    * must be LOUD (stderr, `ok = false`), never a suspiciously fast
    * success that lowers the suite total.
    */
  def measure(spark: SparkSession, ledger: Ledger, name: String, rep: Int)(
      body: => DataFrame): Row = {
    drain(spark)
    val _ = ledger.take()
    val gc0 = JvmStats.gcTimeMs; val gcN0 = JvmStats.gcCount
    val jit0 = JvmStats.jitTimeMs; val cpu0 = JvmStats.processCpuNs
    val jan0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val janNs0 = CodeGenerator.compileTime
    val (usr0, sys0, minf0, majf0) = JvmStats.procStat
    val (pc0, pms0, pmf0, pio0, piof0) = JvmStats.psiTotalsUs
    val up0 = JvmStats.uptimeMs
    val t0 = System.nanoTime()
    var built = -1L
    val ok =
      try {
        val df = body
        built = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED $name: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
        false
      }
    val t1 = System.nanoTime()
    if (built < 0) built = t1
    val sec = (t1 - t0) / 1e9
    val cpuSec = (JvmStats.processCpuNs - cpu0) / 1e9
    // task-end and execution-end events are posted async — flush first
    drain(spark)
    val c = ledger.take()
    val (usr1, sys1, minf1, majf1) = JvmStats.procStat
    val (pc1, pms1, pmf1, pio1, piof1) = JvmStats.psiTotalsUs
    val hz = 100.0 // USER_HZ; fine for a diagnostic ratio
    // psi deltas in ms; -1 (interface absent) stays -1, not a bogus delta
    def psiD(a: Long, b: Long): Long = if (a < 0 || b < 0) -1L else (b - a) / 1000
    val jvm = s"""{"gc_ms":${JvmStats.gcTimeMs - gc0},"gc_n":${JvmStats.gcCount - gcN0},""" +
      s""""jit_ms":${JvmStats.jitTimeMs - jit0},"cpu_s":${r3(cpuSec)},""" +
      s""""usr_s":${math.round((usr1 - usr0) / hz * 100) / 100.0},""" +
      s""""sys_s":${math.round((sys1 - sys0) / hz * 100) / 100.0},""" +
      s""""minflt":${minf1 - minf0},"majflt":${majf1 - majf0},""" +
      s""""task_cpu_s":${r3(c.taskCpuNs / 1e9)},""" +
      s""""task_run_s":${math.round(c.taskRunMs / 10.0) / 100.0},""" +
      s""""n_tasks":${c.tasks},""" +
      s""""t0_ms":$up0,"t1_ms":${JvmStats.uptimeMs},""" +
      s""""load":${math.round(JvmStats.loadAvg * 10) / 10.0},""" +
      s""""psi_cpu_ms":${psiD(pc0, pc1)},"psi_mem_ms":${psiD(pms0, pms1)},""" +
      s""""psi_mem_full_ms":${psiD(pmf0, pmf1)},"psi_io_ms":${psiD(pio0, pio1)},""" +
      s""""psi_io_full_ms":${psiD(piof0, piof1)},""" +
      s""""cc_mb":${JvmStats.codeCacheUsed / (1 << 20)},""" +
      s""""heap_mb":${JvmStats.heapUsed / (1 << 20)},""" +
      s""""heap_comm_mb":${JvmStats.heapCommitted / (1 << 20)}}"""
    val row = Row(name, rep, sec, ok,
      buildMs = math.round((built - t0) / 1e5) / 10.0,
      execMs = math.round((t1 - built) / 1e5) / 10.0,
      janinoN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - jan0,
      janinoMs = math.round((CodeGenerator.compileTime - janNs0) / 1e5) / 10.0,
      c, jvm)
    System.err.println(f"[bench] $name rep$rep $sec%.3fs jobs=${c.jobs} " +
      f"stages=${c.stages.size} janino=${row.janinoN}")
    row
  }

  def main(args: Array[String]): Unit = {
    // ms from JVM start to main — with -XX:+AlwaysPreTouch this absorbs
    // the whole-heap fault-in, so a host-pressure window shows up HERE
    // (a big t_main_ms) instead of inside some query's wall time
    val tMainMs = JvmStats.uptimeMs
    if (args.headOption.contains("--list")) { // for sweep scripts; no Spark
      SparkEntry.registry.map(_.name).sorted.foreach(println)
      return
    }
    val only = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val reps = if (args.length > 1) args(1).toInt else 1
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val selected = SparkEntry.registry.filter(q => only.forall(_.contains(q.name)))
    only.foreach { names =>
      val unknown = names -- selected.map(_.name)
      require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ledger = new Ledger
    // one adjacency materialization for the whole graph family (the
    // real-pipeline posture; the first graph query to run pays the
    // build, the rest reuse it). Standalone per-query numbers:
    // SPARK_GRAFT_CACHE_EDGES=false, as tools/scalecheck.sh runs.
    def buildSession(): SparkSession = {
      val s = Sessions.local(sys.env.get("SPARK_GRAFT_CACHE_EDGES").fold(true)(_.toBoolean))
      s.sparkContext.addSparkListener(ledger)
      s.listenerManager.register(ledger)
      s
    }
    var spark = buildSession()
    // one death costs one query, not the suite: a stopped context
    // (executor OOM, harness-level stop — anything short of a hard JVM
    // exit) is detected before the next query and the session rebuilt.
    var rebuilds = 0
    def ensureLive(): SparkSession = {
      if (spark.sparkContext.isStopped) {
        rebuilds += 1
        System.err.println(s"[bench] SparkContext stopped — rebuilding session (rebuild #$rebuilds)")
        graft.queries.GraphQueries.clearEdgeCache()
        spark = buildSession()
      }
      spark
    }
    // A failed warm-up costs warmth, not the suite: it is logged and the
    // bench goes on (the timed run of the same query then fails loudly).
    def warm(name: String)(body: => Unit): Unit =
      try body
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm $name failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
      }
    // warmup: pay JVM/codegen/parquet-footer/noop-writer startup outside
    // the timings — a representative scan+agg+sort pipeline through the
    // same write path the timed queries use, so the alphabetically-first
    // query doesn't absorb the whole-stage-codegen infrastructure cost
    warm("generic") {
      import org.apache.spark.sql.functions._
      Tables.load(spark, sfDir, "lineitem")
        .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("q"))
        .orderBy(col("q"))
        .write.format("noop").mode("overwrite").save()
    }
    // Per-query warm-ups, as each registry record declares
    // (SparkEntry.Warm): SmallSf rows at the sf0.001 sibling (the timed
    // dir when there is none), then TimedSf rows at the timed dir.
    // Contract: results are discarded, and every carried intermediate —
    // the edge cache and all persisted checkpoint blocks — is dropped
    // below, so the timed rows recompute everything from the parquet
    // inputs; the only thing that survives is compiled code.
    val smallDir = {
      val sib = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
      if (java.nio.file.Files.isDirectory(sib)) sib.toString else sfDir
    }
    def warmAll(kind: SparkEntry.Warm, dir: String): Unit =
      for (q <- selected.filter(_.warm == kind))
        warm(q.name) {
          q.build(spark, dir).write.format("noop").mode("overwrite").save()
        }
    warmAll(SparkEntry.Warm.SmallSf, smallDir)
    warmAll(SparkEntry.Warm.TimedSf, sfDir)
    graft.queries.GraphQueries.clearEdgeCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    val stats = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Incremental per-row record (r15 lesson: the bench printed its
    // JSON only at suite end, so a mid-suite JVM death left the round
    // with ZERO evidence for the queries that had completed).
    val rows = new JsonLines(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "target/bench_rows.jsonl")))
    def run(name: String, rep: Int)(build: (SparkSession, String) => DataFrame): Row = {
      val s = ensureLive()
      val row = measure(s, ledger, name, rep)(build(s, sfDir))
      rows.emit(row.json)
      stats(name) = row.stats
      row
    }
    // the shared-adjacency cache build as its OWN timed row, so the
    // alphabetically-first graph query's wall is plan cost, not
    // plan + family cache build (r11 verdict item 2). Counted in the
    // suite total (it is real suite work) but not in n_queries. The
    // build is the row's build; its exec writes an empty frame.
    val cacheRows =
      if (spark.conf.get(graft.queries.GraphQueries.CacheEdgesKey, "false").toBoolean &&
          selected.exists(_.name.startsWith("graph_")))
        Seq(run("_graph_cache_build", 1) { (s, dir) =>
          graft.queries.GraphQueries.warmEdgeCaches(s, dir)
          s.emptyDataFrame
        })
      else Seq.empty
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    // heap discipline (r15: end-of-suite heap sat at 13.1-13.6 GB of
    // 16 GB — <=20% headroom before the GC death spiral that fed the
    // heartbeat self-kill). The one deliberately suite-lived allocation
    // is the graph family's checkpointed edge cache; clearEdgeCache()
    // only drops the map refs, the lineage-free checkpoint BLOCKS stay
    // pinned in the block manager until unpersisted — so after the last
    // graph_* query, explicitly unpersist every persistent RDD (at that
    // boundary the edge frames are the only ones) and clear the map.
    val ordered = selected.sortBy(_.name)
    val lastGraph = ordered.lastIndexWhere(_.name.startsWith("graph_"))
    val results = cacheRows ++
      ordered.zipWithIndex.map { case (q, i) =>
        val last = (1 to reps).map(run(q.name, _)(q.build)).last
        if (explain && last.ok) {
          println(s"==== PLAN ${q.name} ====")
          q.build(ensureLive(), sfDir).explain("formatted")
        }
        if (i == lastGraph && !spark.sparkContext.isStopped) {
          graft.queries.GraphQueries.clearEdgeCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          System.err.println("[bench] graph family done — edge cache released")
        }
        last
      }
    val qs = results.map(r => quote(r.name) + ":" + r.sec).mkString("{", ",", "}")
    // headline total counts only successful queries: a crashing query's
    // (typically fast) elapsed time must not lower the suite total
    val total = results.filter(_.ok).map(_.sec).sum
    // Stall guard (r14 lesson: one kernel-reclaim window put a 289.7 s
    // graph_triangles — 20.8 s task-CPU, 2.2 s calm — into the round's
    // public artifact). Wall ≫ in-task CPU is the idle-wall fingerprint
    // of a host stall, computable in-process: re-measure those queries
    // once and report BOTH observations, plus a stall-adjusted total
    // using the min wall, so one transient stall can't masquerade as a
    // plan regression. The threshold is deliberately coarse (>5 s AND
    // >5× task CPU): driver-side-recursion queries have low task CPU
    // but sub-5 s walls, so a calm run re-measures nothing.
    // A CPU-contention stall inflates task CPU along with wall, so this
    // trigger cannot see it; each row reads it off its own jvm record
    // instead (`psi_cpu_ms`, the host's CPU-pressure stall time over the
    // row, and `load`), with no reference from another run. Cap: a
    // globally stalled window re-measures at most the 12 slowest
    // suspects (~3% of suite wall).
    val stallSuspects = results.filter { r =>
      r.ok && !r.name.startsWith("_") &&
        r.sec > 5.0 && r.sec > 5.0 * math.max(r.taskCpuS, 0.01)
    }.sortBy(-_.sec).take(12)
    val remeasured = stallSuspects.map { r =>
      (r, run(r.name + "__remeasure", 1)(SparkEntry.queries(r.name)))
    }
    val remeasuredJson = remeasured.map { case (r1, r2) =>
      quote(r1.name) + ":{\"wall\":" + math.round(r1.sec * 100) / 100.0 +
        ",\"task_cpu_s\":" + math.round(r1.taskCpuS * 100) / 100.0 +
        ",\"wall2\":" + math.round(r2.sec * 100) / 100.0 +
        ",\"task_cpu2_s\":" + math.round(r2.taskCpuS * 100) / 100.0 +
        ",\"ok2\":" + r2.ok + "}"
    }.mkString("{", ",", "}")
    // DIAGNOSTIC ONLY: the rerun executes with warm page cache and JIT,
    // so wall2 is systematically a little lower even absent a stall —
    // total_stall_adjusted carries that optimistic bias by construction.
    // The headline the tooling quotes stays the raw "value"; readers
    // separate warm-cache speedup from a genuine stall via the recorded
    // task_cpu_s/task_cpu2_s ratios in the remeasured blob (a stall has
    // wall >> task CPU on run 1 and wall ≈ task CPU on run 2; a warm
    // cache merely shaves wall with a similar CPU both runs).
    val totalAdjusted = total - remeasured.collect {
      case (r1, r2) if r2.ok && r2.sec < r1.sec => r1.sec - r2.sec
    }.sum
    // a rerun failure is recorded in its ok2 field, not in the failed
    // list (the synthetic "<name>__remeasure" row isn't a registry key,
    // and the query's REAL run succeeded)
    val failed = results.filterNot(_.ok).map(_.name).sorted
    val failedJson = failed.map(quote).mkString("[", ",", "]")
    val statsJson = stats.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
    // End-of-suite heap guard (r15 item 2): after a full GC the live set
    // must sit well under Xmx — a suite whose RETAINED heap creeps
    // toward the ceiling is one hostile window away from the GC storm
    // that killed r15's artifacts. Loud on violation (stderr + a false
    // flag in both JSON records), but never fatal: a guard that crashes
    // the bench would recreate the all-or-nothing artifact it guards
    // against.
    System.gc()
    Thread.sleep(500) // let concurrent G1 cycles settle before sampling
    val endHeapMb = JvmStats.heapUsed / (1 << 20)
    val maxHeapMb = Runtime.getRuntime.maxMemory / (1 << 20)
    val heapOk = endHeapMb < 0.7 * maxHeapMb
    if (!heapOk)
      System.err.println(s"[bench] HEAP GUARD VIOLATION: end-of-suite live set " +
        s"$endHeapMb MB >= 70% of $maxHeapMb MB Xmx — find the leak before it " +
        "becomes the next heartbeat death")
    val heapJson = s""""end_heap_mb":$endHeapMb,"max_heap_mb":$maxHeapMb,"heap_guard_ok":$heapOk,"session_rebuilds":$rebuilds"""
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","total_stall_adjusted":${math.round(totalAdjusted * 100) / 100.0},"remeasured":$remeasuredJson,"queries":$qs,"failed":$failedJson,"t_main_ms":$tMainMs,$heapJson,"jvm_stats":$statsJson,"sf":${quote(sfDir)}}"""
    // The driver's stdout capture keeps only the LAST ~2000 chars, so
    // the full per-query line (~75 KB with jvm_stats) can never parse
    // from its tail — early bench records all shipped "parsed": null.
    // Contract, three legs:
    //   1. full line first on stdout (legacy contract, line-parsers);
    //   2. full JSON atomically at target/bench_full.json (the durable
    //      per-query record — tmp + ATOMIC_MOVE so a concurrent reader
    //      never sees a torn file);
    //   3. a compact summary line LAST — headline total, failures, the
    //      10 slowest queries, and the detail path — sized well under
    //      the tail window so the driver finally gets parsed != null.
    println(fullLine)
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json"))
    // on write failure the summary must NOT advertise the path — a
    // stale file from an earlier run would silently masquerade as
    // this run's per-query record
    val detailJson =
      try {
        if (outPath.getParent != null)
          java.nio.file.Files.createDirectories(outPath.getParent)
        val tmp = outPath.resolveSibling(outPath.getFileName.toString + ".tmp")
        java.nio.file.Files.write(tmp,
          (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, outPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        quote(outPath.toString)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] WARN could not write $outPath: $e")
        "null"
      }
    // each slowest entry carries wall AND in-task CPU: a loaded-host
    // window (r4/r5/r10 fingerprint: wall balloons, task CPU flat) is
    // then readable straight off the driver artifact, no rerun needed
    val slowest = results.filter(_.ok).sortBy(-_.sec).take(10)
      .map { r =>
        quote(r.name) + ":{\"wall\":" + math.round(r.sec * 100) / 100.0 +
          ",\"task_cpu_s\":" + math.round(r.taskCpuS * 100) / 100.0 + "}"
      }
      .mkString("{", ",", "}")
    val cacheBuildJson = cacheRows.headOption
      .map(r => (math.round(r.sec * 100) / 100.0).toString).getOrElse("null")
    println(s"""{"metric":"total","value":${math.round(total * 100) / 100.0},"unit":"sec","total_stall_adjusted":${math.round(totalAdjusted * 100) / 100.0},"remeasured":$remeasuredJson,"n_queries":${results.size - cacheRows.size},"n_failed":${failed.size},"failed":$failedJson,"cache_build_s":$cacheBuildJson,"slowest":$slowest,"t_main_ms":$tMainMs,$heapJson,"detail":$detailJson,"sf":${quote(sfDir)}}""")
    rows.close()
    spark.stop()
  }
}
