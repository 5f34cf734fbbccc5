package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import JsonLines.quote
/** Driver-run correctness dump: each SparkEntry.registry result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Crash posture (r15 post-mortem: the round's bench JVM died with exit
  * 56 = ExecutorExitCode.HEARTBEAT_FAILURE and the round's correctness
  * artifact arrived empty): oracle_sql.json is written FIRST so a
  * mid-suite death never zeroes the compare inputs; the local[*]
  * heartbeat self-kill is disarmed by [[Sessions.local]]; a stopped
  * SparkContext is detected per-query and the session rebuilt so one
  * death costs one query; and a per-query status line is flushed to
  * `outDir/verify_rows.jsonl` as each dump completes, so even a hard
  * SIGKILL leaves a parseable record of what finished.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query names — dev-only fast path
    // for iterating on one oracle; the driver always passes two args.
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
    }
    def buildSession(): SparkSession = Sessions.local(cacheEdges = false)
    var spark = buildSession()
    var rebuilds = 0
    def ensureLive(): SparkSession = {
      if (spark.sparkContext.isStopped) {
        rebuilds += 1
        System.err.println(s"[verify] SparkContext stopped — rebuilding session (rebuild #$rebuilds)")
        spark = buildSession()
      }
      spark
    }
    new java.io.File(outDir).mkdirs()
    // the compare inputs FIRST — they depend on nothing Spark does
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val rows = new JsonLines(Paths.get(s"$outDir/verify_rows.jsonl"))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(ensureLive(), sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[verify] $name ok in $sec%.1fs")
        rows.emit(s"""{"q":${quote(name)},"ok":true,"sec":${math.round(sec * 100) / 100.0}}""")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        rows.emit(s"""{"q":${quote(name)},"ok":false,"err":${quote(String.valueOf(e.getMessage).take(300))}}""")
      }
    }
    rows.close()
    spark.stop()
  }
}
