package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev tool (like [[QBench]]/[[Probe]]): run one registry query and print
  * PER-STAGE task metrics — CPU, run time, shuffle bytes/records — so a
  * query whose aggregate task CPU looks wrong can be attributed to the
  * exact exchange or materialization that burns it. Not part of the
  * engine or the bench contract.
  *
  * Usage: runMain graft.StageProbe <query> (sfDir/threads/cache-edges
  * env vars as QBench).
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cacheEdgesEnv(default = true))
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        rows.add(f"stage=${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"cpu=${m.executorCpuTime / 1e9}%8.2fs run=${m.executorRunTime / 1e3}%8.2fs " +
          f"sh_r=${m.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fMB/${m.shuffleReadMetrics.recordsRead}%9d " +
          f"sh_w=${m.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fMB/${m.shuffleWriteMetrics.recordsWritten}%9d " +
          s"${si.name.takeWhile(_ != '\n').take(90)}")
      }
    })
    if (spark.conf.get(graft.queries.GraphQueries.CacheEdgesKey, "false").toBoolean
        && name.startsWith("graph_")) {
      graft.queries.GraphQueries.warmEdgeCaches(spark, sfDir)
      rows.add("---- edge caches warmed above this line; query below ----")
    }
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    println(f"[stageprobe] $name wall ${(System.nanoTime() - t0) / 1e9}%.2fs")
    Thread.sleep(500) // let stage-completed events drain
    rows.forEach(println(_))
    spark.stop()
  }
}
