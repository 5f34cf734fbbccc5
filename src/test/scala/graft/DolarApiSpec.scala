package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ingest.{DolarIngest, RawZone}
import graft.serve.DolarApi

/** End-to-end serving parity (/root/reference/main.py:57-86 +
  * tests.py): fixture payloads -> ingest -> REST API over the engine's
  * interval query, asserting status codes, the exact Spanish 400 detail,
  * the 422 validation status, the 500 DB-error mapping, and the
  * count/data response shape with golden values — also under
  * concurrent clients, after the served table is dropped, and with no
  * thread left behind by `stop`.
  */
class DolarApiSpec extends SparkSpec {

  private lazy val client = HttpClient.newHttpClient()

  private def post(port: Int, body: String, path: String = "/api/v1/dolar/intervalo") =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, path: String) =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())

  test("health, interval golden values, 400/422/500 mappings") {
    val raw = Files.createTempDirectory("graft_api_raw").toString
    RawZone.write(raw, 1704164645L,
      """[["1757509256000","3920.12"],["1757509266000","3921.55"]]""")
    DolarIngest.batchToTable(spark, raw, "dolar_api")
    val server = DolarApi.start(spark, 0, "dolar_api")
    val port = server.getAddress.getPort
    try {
      val health = get(port, "/health")
      assert(health.statusCode() == 200 && health.body() == """{"status":"ok"}""")

      val ok = post(port,
        """{"start":"2025-09-10T00:00:00","end":"2025-09-11T00:00:00"}""")
      assert(ok.statusCode() == 200)
      assert(ok.body() ==
        """{"count":2,"data":[{"fechahora":"2025-09-10T13:00:56","valor":3920.12},""" +
          """{"fechahora":"2025-09-10T13:01:06","valor":3921.55}]}""")

      // B3: equal bounds are an error with the reference's exact detail
      val bad = post(port,
        """{"start":"2025-09-10T00:00:00","end":"2025-09-10T00:00:00"}""")
      assert(bad.statusCode() == 400)
      assert(bad.body() == """{"detail":"`end` debe ser mayor que `start`."}""")

      // malformed payloads are a validation error (FastAPI's 422)
      assert(post(port, """{"start":"not-a-date","end":"x"}""").statusCode() == 422)
      assert(post(port, """{"start":"2025-09-10T00:00:00"}""").statusCode() == 422)

      // query-side failure surfaces as the reference's 500 detail prefix
      val broken = DolarApi.start(spark, 0, "missing_table")
      try {
        val err = post(broken.getAddress.getPort,
          """{"start":"2025-09-10T00:00:00","end":"2025-09-11T00:00:00"}""")
        assert(err.statusCode() == 500)
        assert(err.body().startsWith("""{"detail":"Error consultando la base de datos:"""))
      } finally broken.stop(0)
    } finally {
      server.stop(0)
      spark.sql("DROP TABLE IF EXISTS dolar_api")
    }
  }

  /** Four days of 10-minute points (epoch seconds, valor) from
    * 2025-09-01T00:00:00Z, ingested into `table`.
    */
  private def loadGrid(table: String): IndexedSeq[(Long, BigDecimal)] = {
    val t0 = LocalDateTime.parse("2025-09-01T00:00:00").toEpochSecond(ZoneOffset.UTC)
    val points = (0 until 4 * 144).map(i => (t0 + 600L * i, BigDecimal(390000 + 7 * i, 2)))
    val raw = Files.createTempDirectory("graft_api_grid").toString
    RawZone.write(raw, t0, points.map { case (t, v) => s"""["${t * 1000}","$v"]""" }
      .mkString("[", ",", "]"))
    DolarIngest.batchToTable(spark, raw, table)
    points
  }

  private def iso(epochSeconds: Long): String =
    LocalDateTime.ofEpochSecond(epochSeconds, 0, ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))

  test("8 concurrent clients with distinct intervals each get their golden rows") {
    val table = "dolar_api_concurrent"
    val points = loadGrid(table)
    val server = DolarApi.start(spark, 0, table)
    val port = server.getAddress.getPort
    val mapper = new ObjectMapper()
    val failures = new ConcurrentLinkedQueue[String]
    val gate = new CountDownLatch(1)
    try {
      val clients = (0 until 8).map { k =>
        // unaligned, second-truncated bounds: start 7 min into hour 5k
        val start = points.head._1 + 5 * 3600L * k + 420
        val end = start + 3 * 3600L * (k + 1) + 30
        val want = points.filter { case (t, _) => t >= start && t <= end }
        val body = s"""{"start":"${iso(start)}.250","end":"${iso(end)}.999"}"""
        new Thread(() => {
          gate.await()
          try for (_ <- 1 to 3) {
            val resp = post(port, body)
            val root = mapper.readTree(resp.body())
            val data = root.path("data")
            val ok = resp.statusCode() == 200 &&
              root.path("count").asLong(-1) == want.size && data.size == want.size &&
              data.get(0).path("fechahora").asText() == iso(want.head._1) &&
              data.get(0).path("valor").asDouble() == want.head._2.toDouble &&
              data.get(data.size - 1).path("fechahora").asText() == iso(want.last._1) &&
              data.get(data.size - 1).path("valor").asDouble() == want.last._2.toDouble
            if (!ok) failures.add(s"client $k: $body -> ${resp.statusCode()} ${resp.body().take(200)}")
          } catch { case e: Exception => failures.add(s"client $k: $body -> $e") }
        })
      }
      clients.foreach(_.start())
      gate.countDown()
      clients.foreach(_.join())
      assert(failures.isEmpty, failures.asScala.mkString("\n"))
    } finally {
      server.stop(0)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("a table dropped under a running server answers 500, not its previous rows") {
    val table = "dolar_api_dropped"
    val points = loadGrid(table)
    val server = DolarApi.start(spark, 0, table)
    val port = server.getAddress.getPort
    val body = s"""{"start":"${iso(points.head._1)}","end":"${iso(points.last._1)}"}"""
    try {
      val before = post(port, body)
      assert(before.statusCode() == 200)
      assert(before.body().startsWith(s"""{"count":${points.size},"""))
      spark.sql(s"DROP TABLE $table")
      val after = post(port, body)
      assert(after.statusCode() == 500, after.body())
      assert(after.body().startsWith("""{"detail":"Error consultando la base de datos:"""))
    } finally {
      server.stop(0)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("stop(0) leaves no non-daemon DolarApi thread behind") {
    val table = "dolar_api_stop"
    val points = loadGrid(table)
    val server = DolarApi.start(spark, 0, table)
    def apiThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("DolarApi"))
    try {
      val resp = post(server.getAddress.getPort,
        s"""{"start":"${iso(points.head._1)}","end":"${iso(points.last._1)}"}""")
      assert(resp.statusCode() == 200)
      assert(apiThreads.nonEmpty, "requests are not served by the handler pool")
    } finally {
      server.stop(0)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    val nonDaemon = apiThreads.filterNot(_.isDaemon)
    assert(nonDaemon.isEmpty, s"threads that would keep the JVM alive: $nonDaemon")
  }
}
