package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ingest.{DolarIngest, LoadReport, RawZone}
import graft.queries.IntervalQuery
import graft.serve.DolarApi

/** `serve_intervalo`: the paper's query path. A year of intraday points
  * is batch-loaded into a managed table, `DolarApi` serves it in-process,
  * and `nproc` closed-loop HTTP clients post interval requests, each
  * waiting for its reply as a dashboard does. The traced run adds direct
  * `IntervalQuery.serve` calls, one HTTP client, and the write path
  * (`Fresh`).
  */
object Serve {
  val Days = 365
  val Points = 288
  val Stagings = 3
  val WarmRequests = 48
  /** The traced run's side phases (direct calls, one client, landings)
    * each last `--seconds` divided by this.
    */
  val SidePhases = 3
  val BadDetail = "`end` debe ser mayor que `start`."

  private val mapper = new ObjectMapper()

  /** One completed request: latency, whether it was a valid interval,
    * and the response size.
    */
  final case class Done(ms: Double, valid: Boolean, bytes: Int)

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val files = DolarGen.zone(ctx.seed, 0, Days, Points)
    val times = files.flatMap(_.valid).toArray
    val requests = DolarGen.requests(ctx.seed, 0, Days, 4000)

    ctx.probe.tracer.enabled = ctx.probe.traced
    val zone = ctx.dir("raw")
    files.foreach(f => ctx.span("rawzone.write", 0)(RawZone.write(zone, f.epochSeconds, f.payload)))

    // set up several times and keep the last table: the median staging
    // time is what setup_s reports
    val loads = (0 until Stagings).map { i =>
      val (report, s) = Time.timed(ctx.span("ingest.batch", 0)(
        DolarIngest.batchToTable(spark, zone, s"dolar_$i")))
      checkReport(ctx, report, files)
      if (i < Stagings - 1) { val _ = spark.sql(s"DROP TABLE dolar_$i") }
      (report, s)
    }
    val table = s"dolar_${Stagings - 1}"

    val t0 = System.nanoTime()
    val server = DolarApi.start(spark, 0, table)
    try {
      val port = server.getAddress.getPort
      val _ = closedLoop(ctx, port, requests, times, ctx.cpus, Double.PositiveInfinity, WarmRequests)
      val warmS = Time.secondsSince(t0)
      val setupS = ctx.sessionS + Stats.median(loads.map(_._2)) + warmS
      Setup.log(ctx, loads.map(_._2), warmS)
      ctx.probe.tracer.enabled = false

      val (a, doneA) = closedLoop(ctx, port, requests, times, ctx.cpus, ctx.seconds, Int.MaxValue)
      val e2e = a.e2e(setupS)
      if (!ctx.probe.traced) Outcome(e2e, Map.empty, a.latMs)
      else {
        ctx.probe.traceOn()
        val c0 = ctx.probe.counts()
        val (b, _) = closedLoop(ctx, port, requests, times, ctx.cpus, ctx.seconds, Int.MaxValue)
        val c1 = ctx.probe.counts()
        val direct = directCalls(ctx, table, requests, times, ctx.seconds / SidePhases)
        val c2 = ctx.probe.counts()
        val (c1Phase, _) = closedLoop(ctx, port, requests, times, 1, ctx.seconds / SidePhases,
          Int.MaxValue)
        val fresh = Fresh.layers(ctx, ctx.seconds / SidePhases)
        val d = ctx.probe.diff(c1, c2)
        val n = direct.length.max(1)
        val report = loads.last._1
        val layers = SparkLayers(ctx.probe.diff(c0, c1), b.ops) ++ a.tail ++ Map(
          "interval.serve_p50_ms" -> Stats.median(direct.map(_._1)),
          "interval.rows_per_req" -> Stats.mean(direct.map(_._2.toDouble)),
          "interval.jobs_per_req" -> d("jobs").toDouble / n,
          "interval.scan_bytes_per_req" -> d("scan_bytes").toDouble / n,
          "api.c1_p50_ms" -> c1Phase.p50,
          "api.http_ms" -> (c1Phase.p50 - Stats.median(direct.map(_._1))),
          "api.queue_ms" -> (a.p50 - c1Phase.p50),
          "api.p99_ms" -> Stats.pct(a.latMs, 0.99),
          "api.resp_bytes_p50" -> Stats.median(doneA.filter(_.valid).map(_.bytes.toDouble)),
          "ingest.batch_rows_per_s" ->
            Stats.median(loads.map { case (r, s) => r.totalRowsInserted / s }),
          "ingest.rows_valid" -> report.totalRowsInserted.toDouble,
          "ingest.rows_bad" -> report.details.map(_.bad).sum.toDouble,
          "trace.overhead_pct" -> 100.0 * (b.p50 - a.p50) / a.p50) ++ fresh
        Outcome(e2e, layers, a.latMs)
      }
    } finally server.stop(0)
  }

  def checkReport(ctx: Ctx, r: LoadReport, files: Seq[RawFile]): Unit = {
    val valid = files.map(_.valid.length.toLong).sum
    val bad = files.map(_.bad.toLong).sum
    val _ = ctx.checks(r.filesProcessed == files.size &&
      r.totalRowsInserted == valid && r.details.map(_.bad).sum == bad,
      s"load report $r: want ${files.size} files, $valid valid, $bad bad rows")
  }

  /** `clients` closed-loop clients sending `requests` in order (shared
    * cursor) until `seconds` have passed or `limit` requests were sent.
    * Latency percentiles are over valid intervals; every response is
    * checked.
    */
  def closedLoop(ctx: Ctx, port: Int, requests: IndexedSeq[IntervalRequest],
                 times: Array[Long], clients: Int, seconds: Double,
                 limit: Int): (Phase, Seq[Done]) = {
    val uri = URI.create(s"http://127.0.0.1:$port/api/v1/dolar/intervalo")
    val next = new AtomicInteger
    val done = new ConcurrentLinkedQueue[Done]
    val errors = new ConcurrentLinkedQueue[Throwable]
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        try {
          var i = next.getAndIncrement()
          while (i < limit && Time.secondsSince(t0) < seconds) {
            val r = requests(i % requests.size)
            val req = HttpRequest.newBuilder(uri)
              .header("Content-Type", "application/json")
              .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
            val s0 = System.nanoTime()
            val resp = ctx.span("api.request", i)(
              http.send(req, HttpResponse.BodyHandlers.ofString()))
            done.add(Done(Time.msSince(s0), r.isValid, resp.body.length))
            checkResponse(ctx, r, times, resp.statusCode, resp.body)
            i = next.getAndIncrement()
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    val phase = Phase.measure {
      threads.foreach(_.start())
      threads.foreach(_.join())
      val all = done.asScala.toSeq
      (all.filter(_.valid).map(_.ms), all.size)
    }
    errors.asScala.foreach(e => ctx.checks(false, s"client: $e"))
    (phase, done.asScala.toSeq)
  }

  def checkResponse(ctx: Ctx, r: IntervalRequest, times: Array[Long],
                    status: Int, body: String): Unit = {
    if (!r.isValid) {
      val detail = if (status == 400) mapper.readTree(body).path("detail").asText() else ""
      val _ = ctx.checks(status == 400 && detail == BadDetail,
        s"${r.body}: want 400 '$BadDetail', got $status ${body.take(200)}")
    } else {
      val (n, first, last) = DolarGen.expect(times, r)
      val ok = status == 200 && {
        val root = mapper.readTree(body)
        val data = root.path("data")
        val stamps = (0 until data.size).map(j => data.get(j).path("fechahora").asText())
        root.path("count").asLong(-1) == n && stamps.size == n &&
          stamps.zip(stamps.drop(1)).forall { case (x, y) => x <= y } &&
          (n == 0 || (stamps.head == DolarGen.iso(DolarGen.at(first)) &&
            stamps.last == DolarGen.iso(DolarGen.at(last))))
      }
      val _ = ctx.checks(ok, s"${r.body}: want count $n, got $status ${body.take(200)}")
    }
  }

  /** Direct `IntervalQuery.serve` calls by one caller over the valid
    * requests of the same sequence: (latency ms, rows) per call.
    */
  def directCalls(ctx: Ctx, table: String, requests: IndexedSeq[IntervalRequest],
                  times: Array[Long], seconds: Double): Seq[(Double, Long)] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val valid = requests.zipWithIndex.filter(_._1.isValid)
    val out = Seq.newBuilder[(Double, Long)]
    var k = 0
    while (System.nanoTime() < deadline) {
      val (r, i) = valid(k % valid.size)
      val s0 = System.nanoTime()
      val res = ctx.span("interval.serve", i)(
        IntervalQuery.serve(ctx.spark, r.start, r.end, table))
      out += ((Time.msSince(s0), res.count))
      val (n, first, last) = DolarGen.expect(times, r)
      val _ = ctx.checks(res.count == n && (n == 0 ||
        (res.data.head._1.getTime / 1000 == first && res.data.last._1.getTime / 1000 == last)),
        s"IntervalQuery.serve ${r.body}: want $n rows, got ${res.count}")
      k += 1
    }
    out.result()
  }
}
