package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.ingest.{DolarIngest, RawZone}
import graft.queries.IntervalQuery

/** The write path beside reads, measured in the traced run of
  * `serve_intervalo`. A backfill batch-loads a seeded zone into a parquet
  * destination; then files land one at a time through `RawZone.write`, a
  * `DolarIngest.stream` drain appends each to the same destination
  * through one checkpoint, and the landed day is read back through
  * `IntervalQuery.over`. The destination gains one small file per
  * landing, so read cost grows with the phase.
  */
object Fresh {
  val BackfillDays = 90
  val Points = 288
  val WarmLandings = 8
  /** Landed days start after the backfill, so each day's interval holds
    * exactly that file's rows.
    */
  val FirstLandingDay = 400

  /** Per-layer metrics of the landings made in `seconds`, after a
    * backfill and `WarmLandings` untimed landings. Tracing must be on.
    */
  def layers(ctx: Ctx, seconds: Double): Map[String, Double] = {
    import ctx.spark
    val backfill = DolarGen.zone(ctx.seed, 0, BackfillDays, Points)
    val zone = ctx.dir("backfill")
    backfill.foreach(f => RawZone.write(zone, f.epochSeconds, f.payload))
    val dest = ctx.dir("dest")
    Serve.checkReport(ctx, DolarIngest.batchToPath(spark, zone, dest), backfill)
    val land = ctx.dir("land")
    val checkpoint = ctx.work.resolve("checkpoint").toString

    var day = FirstLandingDay
    def landNext(): Double = {
      val f = DolarGen.zone(ctx.seed, day, 1, Points).head
      val op = day.toLong
      day += 1
      landing(ctx, f, op, land, dest, checkpoint)
    }
    (0 until WarmLandings).foreach(_ => landNext())
    val first = day.toLong
    val progress0 = ctx.probe.counters.streamDurations.size
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lat = Seq.newBuilder[Double]
    while (System.nanoTime() < deadline) lat += landNext()

    def spans(name: String): Seq[Double] =
      ctx.probe.tracer.all.filter(s => s.name == name && s.op >= first).map(_.ms)
    val _ = ctx.probe.counts() // delivers the last progress events
    val progress = ctx.probe.counters.streamDurations.asScala.toSeq.drop(progress0)
    def streamMs(k: String): Double =
      Stats.median(progress.flatMap(p => Option(p.get(k)).map(_.toDouble)))
    val files = Files.list(Paths.get(dest))
    val destFiles = try files.iterator.asScala.count(_.toString.endsWith(".parquet"))
                    finally files.close()
    Map(
      "fresh.p50_ms" -> Stats.median(lat.result()),
      "rawzone.write_ms" -> Stats.median(spans("rawzone.write")),
      "ingest.drain_ms" -> Stats.median(spans("ingest.drain")),
      "stream.addBatch_ms" -> streamMs("addBatch"),
      "stream.latestOffset_ms" -> streamMs("latestOffset"),
      "stream.walCommit_ms" -> streamMs("walCommit"),
      "stream.queryPlanning_ms" -> streamMs("queryPlanning"),
      "fresh.read_p50_ms" -> Stats.median(spans("fresh.read")),
      "fresh.read_p90_ms" -> Stats.pct(spans("fresh.read"), 0.9),
      "ingest.dest_files" -> destFiles.toDouble)
  }

  /** Land one file, drain it into `dest` with one `DolarIngest.stream`
    * run (its default trigger, `AvailableNow`, as one event-driven
    * invocation per landed object), and read its day back; returns the
    * time from the start of the write until the read-back returned.
    */
  def landing(ctx: Ctx, f: RawFile, op: Long, land: String, dest: String,
              checkpoint: String): Double = {
    val t0 = System.nanoTime()
    val day0 = f.epochSeconds - (DolarGen.DaySeconds - 1)
    val rows = ctx.span("fresh.landing", op) {
      val _ = ctx.span("rawzone.write", op)(RawZone.write(land, f.epochSeconds, f.payload))
      ctx.span("ingest.drain", op)(
        DolarIngest.stream(ctx.spark, land, dest, checkpoint).awaitTermination())
      ctx.span("fresh.read", op)(IntervalQuery.over(ctx.spark.read.parquet(dest),
        DolarGen.at(day0), DolarGen.at(f.epochSeconds)).collect())
    }
    val ms = Time.msSince(t0)
    val got = rows.map(_.getTimestamp(0).getTime / 1000)
    val _ = ctx.checks(got.sameElements(f.valid),
      s"read-back of ${RawZone.key(f.epochSeconds)}: want ${f.valid.length} rows, got ${got.length}")
    ms
  }
}
