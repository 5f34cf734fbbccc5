package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** [[Graft.parallelJobs]] bounds a failure: the first failing leg
  * cancels its siblings' jobs instead of waiting for them to finish.
  */
class ParallelJobsSpec extends SparkSpec {

  test("a failing leg cancels a long sibling job and rethrows within seconds") {
    val group = "parallel_jobs_spec"
    val started = new ConcurrentLinkedQueue[Integer]()
    val ended = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          started.add(j.jobId)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ended.add(j)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "parallel jobs cancel")
    // ~30 s of work per task if nothing cancels it: 4 tasks x 6000 rows x 5 ms
    val slow = udf { (x: Long) => Thread.sleep(5); x }
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        Graft.parallelJobs(spark, Seq(
          () => throw new IllegalStateException("leg failed at once"),
          () => { val _ = spark.range(0, 24000, 1, 4).select(slow(col("id"))).collect() }))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage == "leg failed at once")
      assert(secs < 10, f"parallelJobs returned after $secs%.1f s")
      assert(e.getSuppressed.nonEmpty, "the cancelled sibling's error is attached")
      ListenerBridge.drain(sc)
      assert(started.size == 1, s"jobs started: $started")
      // Spark fails the job's waiter before it posts the job-end event,
      // so a drain can return before that event is queued: wait for it
      def end = ended.toArray(Array.empty[SparkListenerJobEnd]).find(_.jobId == started.peek().intValue)
      val deadline = System.nanoTime() + 10000000000L
      while (end.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(end.exists(_.jobResult.isInstanceOf[JobFailed]), s"long job ended as $end")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
