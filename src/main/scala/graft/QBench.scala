package graft

/** Dev tool: time one or more SparkEntry queries in a fresh JVM.
  * Usage: runMain graft.QBench <name[,name2,...]> [repeats]
  * (sfDir from SPARK_GRAFT_SF_DIR, threads from SPARK_GRAFT_CPUS;
  * QBENCH_EXPLAIN=1 additionally dumps each query's formatted plan —
  * the per-round PLANS_r*.md source)
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    if (name == "--list") { // registry dump for sweep scripts; no Spark startup
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // cache-edges default OFF here (unlike Bench): QBench measures
    // STANDALONE query cost, so each rep must pay its own edge build
    // unless the caller explicitly opts into the shared-adjacency posture
    val spark = Sessions.local(Sessions.cacheEdgesEnv(default = false))
    for (n <- name.split(",").map(_.trim).filter(_.nonEmpty)) {
      val fn = SparkEntry.queries(n)
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[qbench] $n rep$r ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      if (sys.env.contains("QBENCH_EXPLAIN")) {
        println(s"==== PLAN $n ====")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
