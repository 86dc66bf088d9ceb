package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.api.{Api, HttpApi, RequestJson, ResponseJson, ServingCoalescer}
import graft.cube.EventCube

/** The skope-api surface over the wire: a closed loop of `cpus` client
  * threads POSTing seeded bodies to `HttpApi.start`, in rounds of one
  * request per client; every response is checked against the batch
  * (`serving = false`) path.
  *
  * Set-up, repeated three times: drop the session's cached artifacts,
  * build the serving cube of every (dataset, resolution) the bodies
  * use, start the server and send one request per key, so the
  * coalescer's union cube is built before the window opens. */
object Serve {

  final case class Body(route: String, json: String, key: String)

  private val mapper = new ObjectMapper()

  private def keys(bodies: Seq[Body]): Seq[(String, EventCube.Resolution)] =
    bodies.map(_.key).distinct.sorted.map { k =>
      val Array(ds, res) = k.split('/')
      ds -> (if (res == "hour") EventCube.Hourly else EventCube.Daily)
    }

  private final case class Reply(body: Int, status: Int, text: String, ms: Double)

  /** Closed loop in rounds: in each round every client sends one
    * request (the next body of the shared seeded sequence), and the next
    * round starts when all have answered. Rounds keep the coalescer's
    * batching the same from run to run. Stops after `seconds`, or after
    * `limit` requests. */
  private def loop(port: Int, bodies: IndexedSeq[Body], seq: IndexedSeq[Int],
      clients: Int, seconds: Double, limit: Int = Int.MaxValue)
      : (Seq[Reply], Double) = {
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val next = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Reply]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    @volatile var stop = false
    val round = new java.util.concurrent.CyclicBarrier(clients, () =>
      stop = next.get() + clients > limit || System.nanoTime() >= deadline)
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        round.await()
        while (!stop) {
          val b = seq(next.getAndIncrement() % seq.length)
          val req = HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:$port${bodies(b).route}"))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(bodies(b).json)).build()
          val r0 = System.nanoTime()
          val reply =
            try {
              val r = http.send(req, HttpResponse.BodyHandlers.ofString())
              Reply(b, r.statusCode(), r.body(), (System.nanoTime() - r0) / 1e6)
            } catch {
              case e: Exception =>
                Reply(b, -1, e.toString, (System.nanoTime() - r0) / 1e6)
            }
          out.add(reply)
          round.await()
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    (out.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** In-process twin of one request, with a span around each layer
    * call: parse, extract (coalescer wait + chunk job + series math)
    * and serialize. */
  private def inProcess(ctx: Ctx, b: Body, id: String): String = {
    val tr = ctx.tracer
    val spark = ctx.spark
    tr.span("api.request", id) {
      if (b.route == "/v1/timeseries") {
        val (req, geom) = tr.span("api.parse", id)(RequestJson.parseV1(b.json))
        val r = tr.span("api.extract", id)(
          Api.extractTimeseries(spark, ctx.data, req, serving = true))
        tr.span("api.serialize", id)(ResponseJson.toV1Json(req, geom, r))
      } else {
        val req = tr.span("api.parse", id)(RequestJson.parse(b.json))
        val r = tr.span("api.extract", id)(
          Api.extractTimeseries(spark, ctx.data, req, serving = true))
        tr.span("api.serialize", id)(ResponseJson.toJson(req, r))
      }
    }
  }

  /** The reference answer: the batch scan path, not the serving cube. */
  private def reference(ctx: Ctx, b: Body): String =
    if (b.route == "/v1/timeseries") {
      val (req, geom) = RequestJson.parseV1(b.json)
      ResponseJson.toV1Json(req, geom,
        Api.extractTimeseries(ctx.spark, ctx.data, req, serving = false))
    } else {
      val req = RequestJson.parse(b.json)
      ResponseJson.toJson(req,
        Api.extractTimeseries(ctx.spark, ctx.data, req, serving = false))
    }

  /** Structural JSON equality; numbers agree to 1e-12 relative (the
    * serving-cache parity tolerance for float sums). */
  def sameJson(a: JsonNode, b: JsonNode): Boolean =
    if (a.isNumber && b.isNumber) {
      val (x, y) = (a.asDouble, b.asDouble)
      x == y || math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
    } else if (a.isObject && b.isObject) {
      val ka = a.fieldNames().asScala.toSet
      ka == b.fieldNames().asScala.toSet && ka.forall(k => sameJson(a.get(k), b.get(k)))
    } else if (a.isArray && b.isArray) {
      a.size == b.size && (0 until a.size).forall(i => sameJson(a.get(i), b.get(i)))
    } else a.equals(b)

  /** Nearest-rank percentile, the rule `run.py` uses (p in [0, 1]). */
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  def run(ctx: Ctx): Unit = {
    val plan = Plan.read(s"${ctx.data}/plan.json")
    val bodies = plan.node("bodies").elements().asScala.map { n =>
      Body(n.get("route").asText, n.get("body").asText, n.get("key").asText)
    }.toIndexedSeq
    val seq = plan.ints("sequence").toIndexedSeq
    val spark = ctx.spark
    val dir = ctx.data
    val tr = ctx.tracer
    val reps = plan.int("setup_reps")
    var server: HttpApi.Server = null
    val cubeMs = mutable.ArrayBuffer.empty[Double]
    (0 until reps).foreach { rep =>
      if (server != null) server.stop()
      graft.pipeline.ArtifactCache.clear()
      val (_, s) = Main.seconds {
        val (_, cs) = Main.seconds(keys(bodies).foreach { case (ds, res) =>
          tr.span("cube.serving_cube_build", s"setup$rep") {
            EventCube.servingCube(spark, dir, ds, res, "value").count()
          }
        })
        cubeMs += cs * 1000
        server = HttpApi.start(spark, dir)
        // one request per key, together, so they share one chunk
        val firsts = bodies.indices.groupBy(i => bodies(i).key).values.map(_.min).toIndexedSeq
        loop(server.port, bodies, firsts, firsts.size, 60.0, firsts.size)
      }
      ctx.res.setupS += s
    }
    ctx.res.layers("cube.serving_cube_build_ms") = cubeMs.sorted.apply(cubeMs.size / 2)
    try {
      val window = if (ctx.trace) ctx.seconds / 3 else ctx.seconds
      val b0 = ServingCoalescer.batchesRun.get()
      val q0 = ServingCoalescer.requestsServed.get()
      val (replies, _) = ctx.res.window(loop(server.port, bodies, seq, ctx.cpus, window))
      val batches = ServingCoalescer.batchesRun.get() - b0
      val served = ServingCoalescer.requestsServed.get() - q0
      ctx.res.windowOps += replies.size
      ctx.res.opsMs ++= replies.map(_.ms)
      ctx.res.attempted += replies.size
      ctx.res.info("serve.requests") = replies.size
      ctx.res.info("serve.chunk_jobs") = batches
      ctx.res.info("serve.distinct_bodies") = replies.map(_.body).distinct.size
      ctx.res.layers("api.coalescer.requests_per_job") =
        if (batches > 0) served.toDouble / batches else 0.0
      if (ctx.trace) traced(ctx, bodies, seq, window, pct(replies.map(_.ms), 0.5))
      // every response against the batch path's answer for its body
      val (refs, refS) = Main.seconds(Main.parMap(replies.map(_.body).distinct, ctx.cpus)(b =>
        b -> scala.util.Try(mapper.readTree(reference(ctx, bodies(b))))).toMap)
      ctx.res.info("serve.reference_s") = refS
      replies.foreach { r =>
        val ok = r.status == 200 && refs(r.body).toOption.exists(ref =>
          scala.util.Try(sameJson(mapper.readTree(r.text), ref)).getOrElse(false))
        if (!ok) ctx.res.fail(s"body ${r.body} -> ${r.status}: ${r.text.take(200)}")
      }
    } finally server.stop()
  }

  /** Traced run: the same closed loop in-process, with spans around the
    * layer calls and Spark counters, then once more with the tracer off
    * for the overhead. */
  private def traced(ctx: Ctx, bodies: IndexedSeq[Body], seq: IndexedSeq[Int],
      window: Double, wireP50: Double): Unit = {
    // the same rounds as the wire loop, so the latencies compare
    def inProc(c: Ctx): (Seq[Double], Double) = {
      val next = new AtomicInteger(0)
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val t0 = System.nanoTime()
      val deadline = t0 + (window * 1e9).toLong
      @volatile var stop = false
      val round = new java.util.concurrent.CyclicBarrier(c.cpus, () =>
        stop = System.nanoTime() >= deadline)
      val ts = (0 until c.cpus).map { _ =>
        val t = new Thread(() => {
          round.await()
          while (!stop) {
            val i = next.getAndIncrement()
            val r0 = System.nanoTime()
            try inProcess(c, bodies(seq(i % seq.length)), s"req$i")
            catch { case _: Exception => () }
            lat.add((System.nanoTime() - r0) / 1e6)
            round.await()
          }
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (lat.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
    }
    val plain = ctx.copy(tracer = new Tracer(false), counters = None)
    val (plainLat, _) = inProc(plain)
    val s0 = ctx.snap()
    val (lat, _) = inProc(ctx)
    val work = ctx.snap() - s0
    val n = lat.size.toDouble
    val spans = ctx.tracer.all
    val self = ctx.tracer.selfMs(spans)
    def total(name: String) = spans.filter(_.name == name).map(s => self(s.idx)).sum
    ctx.res.layers("api.parse_ms") = total("api.parse") / n
    ctx.res.layers("api.extract_ms") = total("api.extract") / n
    ctx.res.layers("api.serialize_ms") = total("api.serialize") / n
    ctx.res.layers("api.http_ms") = wireP50 - pct(plainLat, 0.5)
    ctx.res.layers("spark.job_ms") = if (work.jobs > 0) work.jobMs / work.jobs else 0.0
    ctx.res.layers("spark.tasks_per_job") =
      if (work.jobs > 0) work.tasks.toDouble / work.jobs else 0.0
    ctx.res.layers("spark.jobs_per_request") = work.jobs / n
    ctx.res.layers("trace.overhead_pct") =
      100.0 * (pct(lat, 0.5) / pct(plainLat, 0.5) - 1.0)
  }
}
