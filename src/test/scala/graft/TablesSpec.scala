package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables.load` infers a table's schema once per session and file
  * listing: a warm open runs no Spark job, every open still sees the
  * table's current files, and the schema is the one Spark infers.
  */
class TablesSpec extends SparkSpec {
  private val sf01 = Paths.get(sf).resolveSibling("sf0.01").toString

  /** Spark jobs `body` starts on this thread, counted by job group. */
  private def jobsOf(s: SparkSession)(body: => Unit): Int = {
    val group = s"tables_spec_${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "tables spec")
    try {
      body
      ListenerBridge.drain(sc)
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a rewritten, appended or pruned table is visible under one session") {
    val dir = Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/t.parquet"
    spark.range(0, 10).select(col("id").as("k")).coalesce(1)
      .write.mode("overwrite").parquet(path)
    val t0 = Tables.load(spark, dir, "t")
    assert(t0.columns.toSeq == Seq("k"))
    assert(t0.count() == 10)

    // overwrite in place with an added column: new schema and new rows
    spark.range(100, 105).select(col("id").as("k"), (col("id") * 2).as("k2"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val t1 = Tables.load(spark, dir, "t")
    assert(t1.columns.toSeq == Seq("k", "k2"))
    assert(t1.agg(sum(col("k2"))).head().getLong(0) == 2L * (100 to 104).sum)

    // append a second file: its rows are counted
    spark.range(200, 203).select(col("id").as("k"), (col("id") * 2).as("k2"))
      .coalesce(1).write.mode("append").parquet(path)
    assert(Tables.load(spark, dir, "t").count() == 8)

    // delete the first file: it is no longer read
    val first = Files.list(Paths.get(path))
    val dropped =
      try first.filter(p => p.getFileName.toString.startsWith("part-"))
        .sorted().findFirst().get()
      finally first.close()
    val keysIn = spark.read.parquet(dropped.toString).collect().map(_.getLong(0)).toSet
    Files.delete(dropped)
    val left = Tables.load(spark, dir, "t").collect().map(_.getLong(0)).toSet
    assert(left.intersect(keysIn).isEmpty, s"deleted file still read: $left")
    assert(left.size == 8 - keysIn.size)
  }

  test("every table's schema equals Spark's inferred one; warm opens run no job") {
    // own session: every table is a first open, whatever ran before
    val s = spark.newSession()
    Tables.names.foreach { t =>
      assert(jobsOf(s)(Tables.load(s, sf01, t).schema) == 1, s"$t: first open")
      assert(jobsOf(s)(Tables.load(s, sf01, t).schema) == 0, s"$t: warm open")
      assert(Tables.load(s, sf01, t).schema == s.read.parquet(s"$sf01/$t.parquet").schema, t)
    }
    assert(Tables.events(s, sf01).schema("ts").dataType == TimestampType)
    assert(Tables.events(s, sf01).collect().toSeq ==
      Tables.canonicalTs(s.read.parquet(s"$sf01/events.parquet")).collect().toSeq)
  }

  test("legacy TIMESTAMP(NANOS) events: cached schema and ts adaptation unchanged") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val dir = Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val nanos = Seq(1700000000123456789L, 1700000000123456001L, 1700000001000000999L)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try {
      val f = new SimpleGroupFactory(schema)
      nanos.zipWithIndex.foreach { case (ns, i) =>
        w.write(f.newGroup().append("event_id", i.toLong).append("ts", ns)
          .append("user_id", 1L).append("event_type", "view")
          .append("value", 1.0).append("props", "{}"))
      }
    } finally w.close()

    val raw = Tables.load(spark, dir, "events")
    assert(raw.schema == spark.read.parquet(s"$dir/events.parquet").schema)
    assert(raw.schema("ts").dataType == LongType)
    val ts = Tables.events(spark, dir).orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(ts == nanos.map(_ / 1000))
  }
}
