package graft

/** Dev tool (like [[QBench]]): run registry queries with repeats and
  * print, per rep, the JVM JIT wall-time delta and the Spark codegen
  * (janino) compilation count/time deltas — so "query X re-JITs every
  * run" can be split into its two possible causes: fresh GENERATED
  * CLASSES per run (janino count moves ⇒ the generated source text is
  * run-dependent and the codegen cache misses) vs. HotSpot-only
  * recompilation of stable classes (janino flat, jit_ms moves).
  *
  * Usage: runMain graft.JitProbe <name[,name2,...]> [repeats]
  * (env vars as QBench; SPARK_GRAFT_CACHE_EDGES honored, default true
  * here because the JIT question is about the bench posture).
  */
object JitProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cacheEdgesEnv(default = true))
    val tm = new TaskMetricsListener
    spark.sparkContext.addSparkListener(tm)
    val cm = org.apache.spark.metrics.source.CodegenMetrics
    def janinoCount: Long = cm.METRIC_COMPILATION_TIME.getCount
    def janinoMs: Double = {
      val s = cm.METRIC_COMPILATION_TIME.getSnapshot
      s.getValues.sum // histogram of per-compile ms; sum ≈ total (bounded reservoir)
    }
    def genSrcBytes: Long = {
      val s = cm.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot
      s.getValues.sum
    }
    if (spark.conf.get(graft.queries.GraphQueries.CacheEdgesKey).toBoolean) {
      graft.queries.GraphQueries.warmEdgeCaches(spark, sfDir)
      println(s"[jitprobe] caches warm: jit=${JvmStats.jitTimeMs}ms janinoN=$janinoCount")
    }
    // JITPROBE_WARM_DIR: run each query once on that dir first (the
    // bench's warmup mechanism) so the timed reps below show whether
    // the warm dir's generated classes transfer (janinoN == 0) or not.
    sys.env.get("JITPROBE_WARM_DIR").foreach { wd =>
      for (n <- names)
        try SparkEntry.queries(n)(spark, wd)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      println(s"[jitprobe] warmed on $wd: jit=${JvmStats.jitTimeMs}ms janinoN=$janinoCount")
    }
    // JITPROBE_POLLUTE=<n>: run the first n registry queries between
    // warm and timed reps — reproduces the bench's alphabetical gap to
    // test whether the codegen cache evicts the warm classes.
    sys.env.get("JITPROBE_POLLUTE").map(_.toInt).foreach { n =>
      for ((nm, fn) <- SparkEntry.queries.toSeq.sortBy(_._1).take(n))
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      println(s"[jitprobe] polluted with $n queries: janinoN=$janinoCount")
    }
    for (n <- names; r <- 1 to reps) {
      val j0 = JvmStats.jitTimeMs; val c0 = janinoCount
      val b0 = genSrcBytes
      val tc0 = tm.taskCpuNs.get
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      try org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      catch { case _: Throwable => () }
      println(f"[jitprobe] $n rep$r wall=$wall%6.2fs jit=${(JvmStats.jitTimeMs - j0) / 1000.0}%6.2fs " +
        f"taskcpu=${(tm.taskCpuNs.get - tc0) / 1e9}%7.2fs " +
        f"janinoN=${janinoCount - c0}%4d genBytes=${(genSrcBytes - b0) / 1024}%8dKB")
    }
    spark.stop()
  }
}
