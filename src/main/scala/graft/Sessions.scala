package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession posture of the command-line mains (Bench,
  * Verify, ScaleGen). Library code never
  * builds a session; the test suite and the benchmark harness keep
  * their own builders.
  */
object Sessions {

  /** `local[SPARK_GRAFT_CPUS]` (default 32) with shuffle partitions =
    * cores, UTC session time, no UI, and:
    *
    *  - `nanosAsLong`, so an `events.ts` written as TIMESTAMP(NANOS)
    *    still reads (see [[Tables]]);
    *  - the in-process executor's heartbeat self-kill disarmed. In
    *    local mode it `System.exit`s the whole JVM after ~60 missed
    *    heartbeats to the same-JVM driver (exit 56, a GC storm or host
    *    stall; it zeroed the r15 bench), and there is no cluster
    *    manager to replace the executor, so it is pure downside here;
    *  - a 10 000-entry codegen cache. The default 100 entries are
    *    thrashed by a 382-query application (r18: the first 100 queries
    *    alone compile ~2000 classes), so warmed classes were evicted and
    *    re-compiled before their timed run.
    *
    * `cacheEdges` turns on the graph family's shared adjacency
    * ([[graft.queries.GraphQueries.CacheEdgesKey]]).
    */
  def local(cacheEdges: Boolean): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeat.maxFailures", "10000")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config(graft.queries.GraphQueries.CacheEdgesKey, cacheEdges)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
