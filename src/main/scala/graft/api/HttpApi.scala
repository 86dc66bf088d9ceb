package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.api.Api._
import graft.api.ResponseJson.quote

/** Thin HTTP transport over the typed API — the reference's FastAPI
  * surface (timeseries/app/main.py, routers/v1/api.py:11,
  * routers/v2/api.py:15-29) re-served from the JDK's built-in
  * HttpServer, so the parity claim is externally demonstrable over the
  * wire with ZERO dependencies beyond the JDK: a skope-api client
  * pointed at this port sends its request bodies unchanged and reads
  * the same response shapes.
  *
  * Routes (paths as the reference mounts them):
  *   GET  /metadata       → the metadata.yml document list
  *   GET  /settings       → effective limits + grid geo-transform
  *   POST /timeseries     → v2 extraction (RequestJson.parse →
  *                          extractTimeseries → ResponseJson.toJson)
  *   POST /v1/timeseries  → v1 extraction (parseV1 → toV1Json)
  *
  * Error mapping mirrors main.py's exception handlers: a timeout →
  * 504 {detail, processing_time} (main.py:48-56); every validation /
  * parse error → 422 {detail: [{msg}]} (main.py:58-64, the
  * RequestValidationError envelope); unknown route → 404. Responses
  * carry `Access-Control-Allow-Origin: *` like the reference's
  * allow-all CORS middleware for its public API (main.py:32-39).
  *
  * Scale note: the transport is deliberately thin — a request runs
  * `extractTimeseries(serving = true)` on its own thread (its
  * handler's bounded-action thread): the zonal series is a lookup in
  * the session's driver-side serving index and the series math runs on
  * the driver, so a warm request runs no Spark job, and the engine's
  * guards (the max-cells guard, the processing-time budget) hold per
  * request. Requests are dispatched on a fixed thread pool
  * (`server.setExecutor`; without one the JDK server handles requests
  * serially on its dispatcher thread, so one slow /timeseries would
  * block /metadata) and `start` requires the session's
  * `spark.scheduler.mode=FAIR` so concurrent extractions share
  * executor slots round-robin instead of queueing FIFO behind the
  * first request's stages.
  */
object HttpApi {

  // The JDK server leaves Nagle's algorithm on and writes a response's
  // headers and body separately, so every reply waited out the client's
  // ~40 ms delayed ACK. Read once, when the first HttpServer is created.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** HTTP worker threads — bounds concurrent in-flight requests. A
    * served request does its index lookup and series math on its own
    * handler thread (plus the bounded-action thread that enforces its
    * budget), so the pool bounds concurrent driver work; a request that
    * builds a serving index shares executor slots with the others via
    * FAIR scheduling. */
  private val HttpThreads = 48

  final case class Server(http: HttpServer,
      pool: java.util.concurrent.ExecutorService) {
    def port: Int = http.getAddress.getPort
    def stop(): Unit = { http.stop(0); pool.shutdownNow(); () }
  }

  /** Start serving on 127.0.0.1:`port` (0 = ephemeral).
    *
    * Scheduler note: `spark.scheduler.mode` is read once at
    * SparkContext start and cannot be flipped afterwards, so the
    * serving application must build its session with
    * `.config("spark.scheduler.mode", "FAIR")` (as SparkSpec does);
    * this method fails fast if the context is FIFO rather than
    * silently serializing extractions behind each other's stages.
    * Each handler thread then tags its jobs into the `graft_http`
    * FAIR pool via a thread-local property. */
  def start(spark: SparkSession, dir: String, port: Int = 0): Server = {
    require(
      spark.sparkContext.getConf.get("spark.scheduler.mode", "FIFO")
        .equalsIgnoreCase("FAIR"),
      "HttpApi needs spark.scheduler.mode=FAIR on the session " +
        "(set at SparkSession build; it is immutable on a live context)")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = handleOne(spark, dir, ex)
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(HttpThreads)
    server.setExecutor(pool)
    server.start()
    Server(server, pool)
  }

  private def handleOne(spark: SparkSession, dir: String,
      ex: HttpExchange): Unit = {
    // per-thread FAIR pool tag: jobs from concurrent requests share
    // executor slots round-robin instead of queueing FIFO
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft_http")
    val body =
      try new String(ex.getRequestBody.readAllBytes(), UTF_8)
      finally ex.getRequestBody.close()
    val (status, json) =
      try {
        (ex.getRequestMethod, ex.getRequestURI.getPath) match {
          case ("GET", "/metadata") => (200, MetadataJson.toJson)
          case ("GET", "/settings") => (200, settingsJson())
          // extraction AND serialization run under the request's own
          // max_processing_time budget — the reference wraps the whole
          // service call in asyncio.wait_for (main.py:48-56), and the
          // collect lives inside toJson, so a bare extractTimeseries
          // here would leave the 504 arm unreachable
          case ("POST", "/timeseries") =>
            val req = RequestJson.parse(body)
            (200, materializeWithTimeout(spark, req.maxProcessingTimeMs) {
              ResponseJson.toJson(req,
                extractTimeseries(spark, dir, req, serving = true))
            })
          case ("POST", "/v1/timeseries") =>
            val (req, geom) = RequestJson.parseV1(body)
            (200, materializeWithTimeout(spark, req.maxProcessingTimeMs) {
              ResponseJson.toV1Json(req, geom,
                extractTimeseries(spark, dir, req, serving = true))
            })
          case _ => (404, """{"detail":"Not Found"}""")
        }
      } catch {
        // a VirtualMachineError leaves the JVM unfit to answer anything
        case t: Throwable if !t.isInstanceOf[VirtualMachineError] =>
          errorReply(t)
      }
    val bytes = json.getBytes(UTF_8)
    val h = ex.getResponseHeaders
    h.set("Content-Type", "application/json")
    h.set("Access-Control-Allow-Origin", "*")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Status and body for a failed request, mirroring main.py's
    * exception handlers: a timeout → 504 {detail, processing_time}, a
    * validation error → 422 {detail: [{msg}]}, anything else — an
    * InterruptedException or other fatal throwable included — → 500
    * {detail}. FastAPI's CORSMiddleware wraps even unhandled errors, so
    * a 500 from the reference still carries the CORS header; left to
    * the JDK default it would not, and the client would get no
    * response at all. */
  private[api] def errorReply(t: Throwable): (Int, String) = t match {
    case t: TimeseriesTimeoutError =>
      (504, s"""{"detail":${quote(t.getMessage)},""" +
        s""""processing_time":${t.ms / 1000.0}}""")
    case t: RuntimeException if isValidation(t) =>
      (422, s"""{"detail":[{"msg":${quote(t.getMessage)}}]}""")
    case t =>
      (500, s"""{"detail":${quote(
        s"${t.getClass.getSimpleName}: ${t.getMessage}")}}""")
  }

  /** The reference funnels every request problem through
    * TimeseriesValidationError → 422 (main.py:58-64); these are the
    * graft equivalents. */
  private def isValidation(t: RuntimeException): Boolean = t match {
    case _: RequestJson.RequestParseError | _: DatasetNotFoundError |
        _: SelectedAreaOutOfBoundsError |
        _: SelectedAreaPolygonIsNotValidError | _: VariableNotFoundError |
        _: TimeRangeContainmentError | _: TimeRangeInvalidError |
        _: SelectedAreaTooLargeError => true
    case _ => false
  }
}
