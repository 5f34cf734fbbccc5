package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.queries.IntervalQuery
import org.apache.spark.sql.SparkSession

/** The reference's serving layer (/root/reference/main.py:20-86) as a
  * runnable counterpart on the JDK's built-in HTTP server — zero new
  * dependencies (Jackson ships with Spark):
  *
  *   GET  /health                   -> {"status":"ok"}        (main.py:57-59)
  *   POST /api/v1/dolar/intervalo   -> {"count":N,"data":[{"fechahora","valor"},...]}
  *                                     (main.py:61-86)
  *     - end <= start   -> 400 {"detail":"`end` debe ser mayor que `start`."}
  *                                     (main.py:63-64, exact string)
  *     - malformed body / non-ISO datetimes -> 422 (FastAPI's request-
  *       validation status) with a detail message
  *     - query failure  -> 500 {"detail":"Error consultando la base de datos: ..."}
  *                                     (main.py:82-83)
  *
  * Serving reads go through [[IntervalQuery.serve]] — the same
  * second-truncated inclusive-interval query the engine runs everywhere
  * else, as a prepared plan with bound parameters; responses are
  * interval-bounded, exactly like the reference returns the full
  * fetched list.
  *
  * Thread model: the server's dispatcher thread accepts connections and
  * hands each exchange to a fixed pool of `availableProcessors()`
  * handler threads, so requests run their Spark jobs concurrently on
  * the shared session instead of queueing behind one another; further
  * requests wait in the pool's queue. Handler threads are daemons and
  * idle ones time out, so a stopped server leaves no thread that keeps
  * the JVM alive.
  */
object DolarApi {

  private val mapper = new ObjectMapper()
  private val IsoSeconds = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** Start the API on `port` (0 = ephemeral; read the bound port from
    * the returned server). `table` is the dolar table IntervalQuery
    * reads.
    */
  def start(spark: SparkSession, port: Int = 0,
            table: String = "dolar"): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.setExecutor(handlerPool())

    server.createContext("/health", (ex: HttpExchange) =>
      respond(ex, 200, """{"status":"ok"}"""))

    server.createContext("/api/v1/dolar/intervalo", (ex: HttpExchange) => {
      if (ex.getRequestMethod != "POST") respond(ex, 405, detail("Method Not Allowed"))
      else {
        val parsed =
          try {
            val body = mapper.readTree(new String(
              ex.getRequestBody.readAllBytes(), UTF_8))
            Right((LocalDateTime.parse(body.get("start").asText()),
              LocalDateTime.parse(body.get("end").asText())))
          } catch {
            case e: Exception => Left(e)
          }
        parsed match {
          case Left(e) =>
            // FastAPI rejects unparseable payloads with 422
            respond(ex, 422, detail(s"payload invalido: ${e.getMessage}"))
          case Right((start, end)) if !end.isAfter(start) =>
            respond(ex, 400, detail("`end` debe ser mayor que `start`."))
          case Right((start, end)) =>
            try {
              val r = IntervalQuery.serve(spark, start, end, table)
              val root = mapper.createObjectNode()
              root.put("count", r.count)
              val arr = root.putArray("data")
              r.data.foreach { case (ts, v) =>
                val p = arr.addObject()
                p.put("fechahora", ts.toLocalDateTime.format(IsoSeconds))
                p.put("valor", v)
              }
              respond(ex, 200, mapper.writeValueAsString(root))
            } catch {
              case e: Exception =>
                respond(ex, 500,
                  detail(s"Error consultando la base de datos: ${e.getMessage}"))
            }
        }
      }
    })

    server.start()
    server
  }

  /** The handler threads of the thread model above. */
  private def handlerPool(): ThreadPoolExecutor = {
    val n = Runtime.getRuntime.availableProcessors()
    val pool = new ThreadPoolExecutor(n, n, 30L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "DolarApi-handler")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  private def detail(msg: String): String =
    mapper.writeValueAsString {
      val n = mapper.createObjectNode(); n.put("detail", msg); n
    }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }
}
