package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.SparkSpec
import Api._

/** The HTTP transport must serve the reference's four routes with the
  * SAME bodies the in-process wire layer produces — request fixtures
  * (src/test/resources/data/requests, or a reference checkout's
  * timeseries/data/requests via SPARK_GRAFT_FIXTURES) go over a real
  * socket and the responses are compared node-for-node against the
  * direct RequestJson → extractTimeseries → ResponseJson path, plus
  * the error statuses main.py's exception handlers define. */
class HttpApiSpec extends SparkSpec {

  private val FixtureDir = sys.env.getOrElse("SPARK_GRAFT_FIXTURES",
    java.nio.file.Paths.get(getClass.getResource("/data/requests").toURI).toString)
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def loadFixture(name: String): ObjectNode =
    mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$FixtureDir/$name"))).asInstanceOf[ObjectNode]

  test("the four reference routes round-trip over a real socket") {
    val srv = HttpApi.start(spark, sfDir)
    try {
      val md = get(srv.port, "/metadata")
      assert(md.statusCode === 200)
      assert(md.headers.firstValue("Content-Type").orElse("") === "application/json")
      assert(md.headers.firstValue("Access-Control-Allow-Origin").orElse("") === "*")
      assert(mapper.readTree(md.body) === mapper.readTree(MetadataJson.toJson))

      val st = get(srv.port, "/settings")
      assert(st.statusCode === 200)
      assert(mapper.readTree(st.body) === mapper.readTree(settingsJson()))

      // v2: the monthly reference fixture (deployment-rewritten like
      // FixtureReplaySpec) over the wire == the in-process reply
      val t = loadFixture("monthly.json")
      t.put("dataset_id", "click")
      t.put("variable_id", "value")
      t.get("selected_area").asInstanceOf[ObjectNode]
        .putArray("coordinates").add(2.0).add(1.0)
      val gte = t.get("time_range").get("gte").asInstanceOf[ObjectNode]
      val lte = t.get("time_range").get("lte").asInstanceOf[ObjectNode]
      gte.put("year", 2024); gte.put("month", 1)
      lte.put("year", 2024); lte.put("month", 1)
      val wire = post(srv.port, "/timeseries", t.toString)
      assert(wire.statusCode === 200)
      val req = RequestJson.parse(t.toString)
      val direct = ResponseJson.toJson(req, extractTimeseries(spark, sfDir, req))
      assert(mapper.readTree(wire.body) === mapper.readTree(direct))

      // v1: camelCase body, v1 response envelope
      val t1 = loadFixture("timeseriesv1.json")
      t1.put("datasetId", "click")
      t1.put("variableName", "value")
      t1.get("boundaryGeometry").asInstanceOf[ObjectNode]
        .putArray("coordinates").add(2.0).add(1.0)
      t1.put("start", 2024)
      t1.put("end", 2024)
      val wire1 = post(srv.port, "/v1/timeseries", t1.toString)
      assert(wire1.statusCode === 200)
      val (req1, geom1) = RequestJson.parseV1(t1.toString)
      val direct1 =
        ResponseJson.toV1Json(req1, geom1, extractTimeseries(spark, sfDir, req1))
      assert(mapper.readTree(wire1.body) === mapper.readTree(direct1))
    } finally srv.stop()
  }

  test("error statuses mirror main.py's exception handlers") {
    val srv = HttpApi.start(spark, sfDir)
    try {
      // malformed body → 422 with the RequestValidationError envelope
      val bad = post(srv.port, "/timeseries", """{"not":"a request"}""")
      assert(bad.statusCode === 422)
      val detail = mapper.readTree(bad.body).get("detail")
      assert(detail.isArray && detail.get(0).has("msg"))

      // unknown dataset → 422 (validation family), message carried
      val t = loadFixture("monthly.json")
      t.put("dataset_id", "no_such_dataset")
      t.put("variable_id", "value")
      t.get("selected_area").asInstanceOf[ObjectNode]
        .putArray("coordinates").add(2.0).add(1.0)
      val gte = t.get("time_range").get("gte").asInstanceOf[ObjectNode]
      val lte = t.get("time_range").get("lte").asInstanceOf[ObjectNode]
      gte.put("year", 2024); gte.put("month", 1)
      lte.put("year", 2024); lte.put("month", 1)
      val nf = post(srv.port, "/timeseries", t.toString)
      assert(nf.statusCode === 422)
      assert(mapper.readTree(nf.body).get("detail").get(0)
        .get("msg").asText.contains("no_such_dataset"))

      // unknown route → 404
      assert(get(srv.port, "/nope").statusCode === 404)
    } finally srv.stop()
  }

  test("a fatal throwable still maps to the 500 envelope") {
    // an InterruptedException rethrown by materializeWithTimeout is not
    // NonFatal; it must still produce a status and a JSON body
    val (status, body) =
      HttpApi.errorReply(new InterruptedException("cut \"short\"\n"))
    assert(status === 500)
    assert(body === """{"detail":"InterruptedException: cut \"short\"\n"}""")
    assert(mapper.readTree(body).get("detail").asText ===
      "InterruptedException: cut \"short\"\n")
  }

  test("sequential replies on one connection do not wait out a delayed ACK") {
    // headers and body go out as two writes; with Nagle on, the body
    // waits for the client's ~40 ms delayed ACK of the headers
    val srv = HttpApi.start(spark, sfDir)
    try {
      (1 to 5).foreach(_ => assert(get(srv.port, "/settings").statusCode === 200))
      val ms = (1 to 21).map { _ =>
        val t0 = System.nanoTime()
        assert(get(srv.port, "/settings").statusCode === 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(10) < 20.0, s"median GET /settings ${ms(10)} ms; all: $ms")
    } finally srv.stop()
  }

  test("concurrent requests all complete; the 504 budget binds per-request") {
    // the serving context must be FAIR — HttpApi.start enforces it, and
    // this pin keeps the shared test session from silently regressing
    // to FIFO (the mode is immutable on a live context)
    assert(spark.sparkContext.getConf
      .get("spark.scheduler.mode").equalsIgnoreCase("FAIR"))
    val srv = HttpApi.start(spark, sfDir)
    try {
      def fixture(): ObjectNode = {
        val t = loadFixture("monthly.json")
        t.put("dataset_id", "click")
        t.put("variable_id", "value")
        t.get("selected_area").asInstanceOf[ObjectNode]
          .putArray("coordinates").add(2.0).add(1.0)
        val gte = t.get("time_range").get("gte").asInstanceOf[ObjectNode]
        val lte = t.get("time_range").get("lte").asInstanceOf[ObjectNode]
        gte.put("year", 2024); gte.put("month", 1)
        lte.put("year", 2024); lte.put("month", 1)
        t
      }
      val req = fixture()
      val expected = mapper.readTree(ResponseJson.toJson(
        RequestJson.parse(req.toString),
        extractTimeseries(spark, sfDir, RequestJson.parse(req.toString))))
      // one request whose own budget is too small for any extraction —
      // it must 504 with the reference envelope WITHOUT disturbing the
      // concurrent healthy requests (per-request budget, not global).
      // With the serving index dropped, no request can finish without
      // the index build's Spark job, so the 1 ms budget cannot be met;
      // the starved request goes first and may start that build, which
      // its timeout cancels — its neighbours must still get 200 and the
      // expected body, not the cancelled build's failure
      graft.pipeline.ArtifactCache.drop(s"serveindex:value:$sfDir")
      val starved = fixture()
      starved.put("max_processing_time", 1)
      import java.util.concurrent.CompletableFuture
      def async(path: String, body: String) =
        client.sendAsync(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${srv.port}$path"))
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      val timedOut = async("/timeseries", starved.toString)
      val healthy = (1 to 6).map(_ => async("/timeseries", req.toString))
      val meta = client.sendAsync(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}/metadata")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      CompletableFuture.allOf(
        (healthy :+ timedOut :+ meta).toArray[CompletableFuture[_]]: _*)
        .get(120, java.util.concurrent.TimeUnit.SECONDS)
      healthy.foreach { f =>
        val r = f.get()
        assert(r.statusCode === 200)
        assert(mapper.readTree(r.body) === expected)
      }
      val to = timedOut.get()
      assert(to.statusCode === 504)
      assert(mapper.readTree(to.body).has("processing_time"))
      assert(meta.get().statusCode === 200)
    } finally srv.stop()
  }
}
