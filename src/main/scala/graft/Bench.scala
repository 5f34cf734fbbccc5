package graft
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

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

/** Accumulates task-level execution metrics so a per-query snapshot can
  * say whether a CPU burn happened INSIDE tasks (executor-side plan
  * execution — would recur on a real cluster) or outside them
  * (driver/JIT/listener overheads — local-harness artifacts).
  */
class TaskMetricsListener extends org.apache.spark.scheduler.SparkListener {
  val taskCpuNs = new java.util.concurrent.atomic.AtomicLong
  val taskRunMs = new java.util.concurrent.atomic.AtomicLong
  val nTasks = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      taskRunMs.addAndGet(m.executorRunTime)
      nTasks.incrementAndGet()
    }
  }
}

object Bench {
  /** Minimal JSON string escape for interpolated values (paths, query
    * names, exception text): a data dir containing a quote or
    * backslash must not emit invalid JSON to stdout/bench_full.json.
    */
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def main(args: Array[String]): Unit = {
    // ms from JVM start to main — with -XX:+AlwaysPreTouch this absorbs
    // the whole-heap fault-in, so a host-pressure window shows up HERE
    // (a big t_main_ms) instead of inside some query's wall time
    val tMainMs = JvmStats.uptimeMs
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val taskMetrics = new TaskMetricsListener
    // r15 post-mortem: the driver bench JVM died mid-suite with exit 56
    // = ExecutorExitCode.HEARTBEAT_FAILURE — in local[*] the in-process
    // executor System.exit()s the WHOLE JVM after ~60 consecutive missed
    // heartbeats to the same-JVM driver (a ~10-min GC storm or host
    // stall), zeroing the round's artifacts. An in-process heartbeat
    // self-kill is pure downside locally (there is no cluster manager to
    // replace the executor), so the session builder disarms it: long
    // interval, long network timeout, effectively-unbounded failure
    // budget. On a REAL cluster these stay at their defaults — this
    // builder is the local bench harness, not library code.
    def buildSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeat.maxFailures", "10000")
        // the default 100-entry codegen cache is thrashed by a
        // 382-query application (measured r18: the first 100 queries
        // alone compile ~2000 generated classes), so every warmed
        // class is evicted and re-janino'd — as a NEW class, whose
        // methods HotSpot must re-JIT from scratch — before its timed
        // twin runs. 10000 entries covers the suite; the same setting
        // is standard posture for any long-lived multi-query Spark app
        // (Thrift server, notebook cluster).
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        // one adjacency materialization for the whole graph family (the
        // real-pipeline posture; the first graph query to run pays the
        // build, the rest reuse it). Standalone per-query numbers:
        // tools/bench_loop.sh / QBench, which leave the conf off.
        .config(graft.queries.GraphQueries.CacheEdgesKey,
          sys.env.getOrElse("SPARK_GRAFT_CACHE_EDGES", "true"))
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.sparkContext.addSparkListener(taskMetrics)
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
    // warmup: pay JVM/codegen/parquet-footer/noop-writer startup outside
    // the timings — a representative scan+agg+sort pipeline through the
    // same write path the timed queries use, so the alphabetically-first
    // query doesn't absorb the whole-stage-codegen infrastructure cost
    try {
      import org.apache.spark.sql.functions._
      Tables.load(spark, sfDir, "lineitem")
        .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("q"))
        .orderBy(col("q"))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // The generic warmup doesn't touch HLL / codebook-literal / regex
    // codegen, so those queries pay 2-3x first-run JIT inside their own
    // timing every round (r5-r7 instrumented this as jit_ms inside the
    // wall window). Generated code is data-independent: running the same
    // pipelines once at the smallest sf compiles + JIT-warms the
    // identical classes for cents, keeping the timed run steady-state.
    // r12 additions measured the same fingerprint (jit_ms ≳ wall):
    // ann_ivfpq_topk 6.3 s, dedup_exact_substring 3.8 s,
    // decontaminate_bloom 2.6 s, graph_ppr_walks 4.3 s of in-window JIT.
    {
      val p = java.nio.file.Paths.get(sfDir)
      val sib = p.resolveSibling("sf0.001")
      val warmDir = if (java.nio.file.Files.isDirectory(sib)) sib.toString
                    else sfDir
      // r17 measured: extending this list with the graph iterative
      // family did NOT transfer (their in-window JIT stayed ~7 s —
      // their generated code is AQE-shape-dependent, so the sf0.001
      // classes differ from the sf0.1 ones), while the ANN rows DID
      // become warmable once assignCells stopped inlining codebook
      // values into its generated source (NearestCentroidPos). The
      // list therefore stays the r12 set; the A/B lives in
      // OPTIMIZATION_r17.md.
      for (q <- Seq("agg_approx_distinct", "ann_ivf_topk", "string_funcs",
        "ann_ivfpq_topk", "dedup_exact_substring", "decontaminate_bloom",
        "graph_ppr_walks"))
        try {
          SparkEntry.queries(q)(spark, warmDir)
            .write.format("noop").mode("overwrite").save()
        } catch { case _: Throwable => () }
      // No sf0.001 sibling ⇒ the graph warm query just pre-built the
      // TIMED dir's edge cache, and the `_graph_cache_build` row below
      // would under-report the very build it exists to attribute. Drop
      // the cache so the timed row measures the real build (the JIT
      // warmth survives — generated classes are data-independent).
      if (warmDir == sfDir) graft.queries.GraphQueries.clearEdgeCache()
    }
    // The graph Pregel family is the one family the sf0.001 list can
    // NEVER warm: r17 A/B'd the extension and the in-window JIT stayed
    // ~7 s, and r18's JitProbe found why — their generated code is
    // AQE-shape-dependent (join strategies differ across SFs), so the
    // sf0.001 classes are different source text, while a SAME-SF first
    // run leaves rep2 compiling ZERO new classes (janino count 0) with
    // walls down 30-45% (pagerank 4.1→1.7 s, labelprop 4.2→2.3 s).
    // So exactly these queries warm at the TIMED SF. Contract kept:
    // results are discarded, and every carried intermediate — the edge
    // cache and all persisted checkpoint blocks — is dropped below, so
    // the timed rows recompute everything from the parquet inputs; the
    // only thing that survives is compiled code, the same thing the
    // r12 sf0.001 warmup list exists to carry.
    {
      for (q <- Seq("graph_pagerank", "graph_ppr_walks", "graph_sssp",
        "graph_label_propagation", "graph_kcore", "graph_khop_reach",
        "graph_closeness_sampled"))
        try {
          SparkEntry.queries(q)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        } catch { case _: Throwable => () }
      graft.queries.GraphQueries.clearEdgeCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    var failed = List.empty[String]
    val stats = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Incremental per-query record (r15 lesson: the bench printed its
    // JSON only at suite end, so a mid-suite JVM death — heartbeat
    // self-kill, OOM-kill, SIGKILL — left the round with ZERO evidence
    // for 374 completed-or-not queries). One JSONL line per query,
    // flushed to disk the moment the query finishes: any death now
    // leaves a parseable partial record of everything that completed.
    val rowsPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "target/bench_rows.jsonl"))
    val rowsWriter: Option[java.io.Writer] =
      try {
        if (rowsPath.getParent != null)
          java.nio.file.Files.createDirectories(rowsPath.getParent)
        Some(java.nio.file.Files.newBufferedWriter(rowsPath,
          java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] WARN cannot open $rowsPath: $e"); None
      }
    def emitRow(line: String): Unit = rowsWriter.foreach { w =>
      try { w.write(line); w.write("\n"); w.flush() }
      catch { case _: Throwable => () }
    }
    def runTimed(name: String)(body: => Unit): (String, Double, Double, Boolean) = {
      val gc0 = JvmStats.gcTimeMs; val gcN0 = JvmStats.gcCount
      val jit0 = JvmStats.jitTimeMs; val cpu0 = JvmStats.processCpuNs
      val (usr0, sys0, minf0, majf0) = JvmStats.procStat
      val (pc0, pms0, pmf0, pio0, piof0) = JvmStats.psiTotalsUs
      val tcpu0 = taskMetrics.taskCpuNs.get; val trun0 = taskMetrics.taskRunMs.get
      val nt0 = taskMetrics.nTasks.get
      val up0 = JvmStats.uptimeMs
      val t0 = System.nanoTime()
      var ok = true
      try body
      catch { case e: Throwable =>
        // a crashing query must be LOUD — recorded as a failure, never
        // as a suspiciously fast success that lowers the suite total
        ok = false
        failed ::= name
        System.err.println(s"[bench] FAILED $name: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val cpuSec = (JvmStats.processCpuNs - cpu0) / 1e9
      // task-end events are posted async — flush before snapshotting
      try { org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext) }
      catch { case _: Throwable => () }
      val (usr1, sys1, minf1, majf1) = JvmStats.procStat
      val (pc1, pms1, pmf1, pio1, piof1) = JvmStats.psiTotalsUs
      val hz = 100.0 // USER_HZ; fine for a diagnostic ratio
      val taskCpuSec = (taskMetrics.taskCpuNs.get - tcpu0) / 1e9
      // psi deltas in ms; -1 (interface absent) stays -1, not a bogus delta
      def psiD(a: Long, b: Long): Long = if (a < 0 || b < 0) -1L else (b - a) / 1000
      stats(name) = s"""{"gc_ms":${JvmStats.gcTimeMs - gc0},"gc_n":${JvmStats.gcCount - gcN0},""" +
        s""""jit_ms":${JvmStats.jitTimeMs - jit0},"cpu_s":${math.round(cpuSec * 1000) / 1000.0},""" +
        s""""usr_s":${math.round((usr1 - usr0) / hz * 100) / 100.0},""" +
        s""""sys_s":${math.round((sys1 - sys0) / hz * 100) / 100.0},""" +
        s""""minflt":${minf1 - minf0},"majflt":${majf1 - majf0},""" +
        s""""task_cpu_s":${math.round(taskCpuSec * 1000) / 1000.0},""" +
        s""""task_run_s":${math.round((taskMetrics.taskRunMs.get - trun0) / 10.0) / 100.0},""" +
        s""""n_tasks":${taskMetrics.nTasks.get - nt0},""" +
        s""""t0_ms":$up0,"t1_ms":${JvmStats.uptimeMs},""" +
        s""""load":${math.round(JvmStats.loadAvg * 10) / 10.0},""" +
        s""""psi_cpu_ms":${psiD(pc0, pc1)},"psi_mem_ms":${psiD(pms0, pms1)},""" +
        s""""psi_mem_full_ms":${psiD(pmf0, pmf1)},"psi_io_ms":${psiD(pio0, pio1)},""" +
        s""""psi_io_full_ms":${psiD(piof0, piof1)},""" +
        s""""cc_mb":${JvmStats.codeCacheUsed / (1 << 20)},""" +
        s""""heap_mb":${JvmStats.heapUsed / (1 << 20)},""" +
        s""""heap_comm_mb":${JvmStats.heapCommitted / (1 << 20)}}"""
      emitRow(s"""{"q":"${esc(name)}","sec":${math.round(sec * 1000) / 1000.0},""" +
        s""""task_cpu_s":${math.round(taskCpuSec * 1000) / 1000.0},"ok":$ok,""" +
        s""""jvm":${stats(name)}}""")
      (name, sec, taskCpuSec, ok)
    }
    // the shared-adjacency cache build as its OWN timed row, so the
    // alphabetically-first graph query's wall is plan cost, not
    // plan + family cache build (r11 verdict item 2). Counted in the
    // suite total (it is real suite work) but not in n_queries.
    val cacheRows =
      if (spark.conf.get(graft.queries.GraphQueries.CacheEdgesKey, "false").toBoolean)
        Seq(runTimed("_graph_cache_build") {
          graft.queries.GraphQueries.warmEdgeCaches(spark, sfDir)
        })
      else Seq.empty
    // noop-format write: runs the DECLARED plan end to end (a bare
    // .count() would let the optimizer delete top-level sorts, so
    // every orderBy query's final sort would go unmeasured).
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // heap discipline (r15: end-of-suite heap sat at 13.1-13.6 GB of
    // 16 GB — <=20% headroom before the GC death spiral that fed the
    // heartbeat self-kill). The one deliberately suite-lived allocation
    // is the graph family's checkpointed edge cache; clearEdgeCache()
    // only drops the map refs, the lineage-free checkpoint BLOCKS stay
    // pinned in the block manager until unpersisted — so after the last
    // graph_* query, explicitly unpersist every persistent RDD (at that
    // boundary the edge frames are the only ones) and clear the map.
    val lastGraph = ordered.lastIndexWhere(_._1.startsWith("graph_"))
    val results = cacheRows ++
      ordered.zipWithIndex.map { case ((name, fn), i) =>
        val r = runTimed(name) {
          fn(ensureLive(), sfDir).write.format("noop").mode("overwrite").save()
        }
        if (i == lastGraph && !spark.sparkContext.isStopped) {
          graft.queries.GraphQueries.clearEdgeCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          System.err.println("[bench] graph family done — edge cache released")
        }
        r
      }
    val qs = results.map { case (k, v, _, _) => s"\"" + esc(k) + "\":" + v }
      .mkString("{", ",", "}")
    // headline total counts only successful queries: a crashing query's
    // (typically fast) elapsed time must not lower the suite total
    val total = results.collect { case (_, v, _, true) => v }.sum
    // Stall guard (r14 lesson: one kernel-reclaim window put a 289.7 s
    // graph_triangles — 20.8 s task-CPU, 2.2 s calm — into the round's
    // public artifact). Wall ≫ in-task CPU is the idle-wall fingerprint
    // of a host stall, computable in-process: re-measure those queries
    // once and report BOTH observations, plus a stall-adjusted total
    // using the min wall, so one transient stall can't masquerade as a
    // plan regression. The threshold is deliberately coarse (>5 s AND
    // >5× task CPU): driver-side-recursion queries have low task CPU
    // but sub-5 s walls, so a calm run re-measures nothing.
    // Cross-run trigger (r17 verdict item 6): the idle-wall fingerprint
    // is blind to CPU-CONTENTION stalls, where task CPU inflates along
    // with wall (r17's driver window read graph_khop_reach at 32.06 s
    // wall / 34.3 s task CPU — 13x its own same-round 8-core reading —
    // and remeasured stayed empty). A committed per-query reference of
    // the previous round's calm walls (bench_ref.json, override via
    // SPARK_GRAFT_BENCH_REF, empty/absent ⇒ trigger off) marks any row
    // at > 3x its reference wall AND > 2 s absolute for one re-measure.
    // Both observations are reported, the headline total stays the raw
    // first run — identical semantics to the idle-wall re-measure.
    val refWalls: Map[String, Double] = {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "bench_ref.json"))
      if (!java.nio.file.Files.isReadable(p)) Map.empty
      else try {
        val txt = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        "\"([^\"\\\\]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case e: Throwable =>
        System.err.println(s"[bench] WARN unreadable bench ref $p: $e")
        Map.empty
      }
    }
    // cap: a globally loaded window could trip the ref trigger on
    // dozens of rows and silently double the suite; 12 re-measures
    // bounds that at ~3% of suite wall, keeping the worst offenders
    // (largest wall/ref excess first).
    val stallSuspects = results.filter { case (name, sec, tcpu, ok) =>
      ok && !name.startsWith("_") &&
        ((sec > 5.0 && sec > 5.0 * math.max(tcpu, 0.01)) ||
          refWalls.get(name).exists(ref => sec > 3.0 * ref && sec > 2.0))
    }.sortBy { case (name, sec, _, _) =>
      -(sec / refWalls.getOrElse(name, sec))
    }.take(12)
    val remeasured = stallSuspects.map { case (name, sec1, tcpu1, _) =>
      val (_, sec2, tcpu2, ok2) = runTimed(name + "__remeasure") {
        SparkEntry.queries(name)(ensureLive(), sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      (name, sec1, tcpu1, sec2, tcpu2, ok2)
    }
    val remeasuredJson = remeasured.map {
      case (name, s1, t1, s2, t2, ok2) =>
        s"\"" + esc(name) + "\":{\"wall\":" + math.round(s1 * 100) / 100.0 +
          ",\"task_cpu_s\":" + math.round(t1 * 100) / 100.0 +
          ",\"wall2\":" + math.round(s2 * 100) / 100.0 +
          ",\"task_cpu2_s\":" + math.round(t2 * 100) / 100.0 +
          ",\"ok2\":" + ok2 + "}"
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
      case (_, s1, _, s2, _, true) if s2 < s1 => s1 - s2
    }.sum
    // a rerun failure is recorded in its ok2 field; the synthetic
    // "<name>__remeasure" key must not reach the driver's failed list
    // (it isn't a registry key, and the query's REAL run succeeded)
    failed = failed.filterNot(_.endsWith("__remeasure"))
    val failedJson = failed.sorted.map("\"" + esc(_) + "\"").mkString("[", ",", "]")
    val statsJson = stats.map { case (k, v) => s"\"${esc(k)}\":$v" }.mkString("{", ",", "}")
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
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","total_stall_adjusted":${math.round(totalAdjusted * 100) / 100.0},"remeasured":$remeasuredJson,"queries":$qs,"failed":$failedJson,"t_main_ms":$tMainMs,$heapJson,"jvm_stats":$statsJson,"sf":"${esc(sfDir)}"}"""
    // The driver's stdout capture keeps only the LAST ~2000 chars, so
    // the full per-query line (~75 KB with jvm_stats) can never parse
    // from its tail — every BENCH_r0*.json shipped "parsed": null.
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
        "\"" + esc(outPath.toString) + "\""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] WARN could not write $outPath: $e")
        "null"
      }
    // each slowest entry carries wall AND in-task CPU: a loaded-host
    // window (r4/r5/r10 fingerprint: wall balloons, task CPU flat) is
    // then readable straight off the driver artifact, no rerun needed
    val slowest = results.filter(_._4).sortBy(-_._2).take(10)
      .map { case (k, v, tc, _) =>
        s"\"" + esc(k) + "\":{\"wall\":" + math.round(v * 100) / 100.0 +
          ",\"task_cpu_s\":" + math.round(tc * 100) / 100.0 + "}"
      }
      .mkString("{", ",", "}")
    val cacheBuildJson = cacheRows.headOption
      .map(r => (math.round(r._2 * 100) / 100.0).toString).getOrElse("null")
    println(s"""{"metric":"total","value":${math.round(total * 100) / 100.0},"unit":"sec","total_stall_adjusted":${math.round(totalAdjusted * 100) / 100.0},"remeasured":$remeasuredJson,"n_queries":${results.size - cacheRows.size},"n_failed":${failed.size},"failed":$failedJson,"cache_build_s":$cacheBuildJson,"slowest":$slowest,"t_main_ms":$tMainMs,$heapJson,"detail":$detailJson,"sf":"${esc(sfDir)}"}""")
    rowsWriter.foreach(w => try w.close() catch { case _: Throwable => () })
    spark.stop()
  }
}
