package graft.api

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec
import Api._

/** The serving micro-batcher (r13 verdict item 1): concurrent
  * requests must coalesce into SHARED zonal plans without perturbing a
  * single response row. ServingCacheSpec already sweeps sequential
  * coalesced-vs-batch parity (serving=true routes through the
  * coalescer by default); this spec adds the two things sequential
  * sweeps cannot see — genuinely concurrent submissions agreeing with
  * their solo twins, and the batching actually happening (fewer
  * micro-batches than requests). */
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

  test("concurrent serving requests coalesce and stay row-identical to solo") {
    val n = 24
    // solo references with the coalescer off — the pre-r14 serving path
    val before = Api.ServeCoalesce
    val solo =
      try { Api.ServeCoalesce = false; (0 until n).map(i => dump(extractTimeseries(spark, sfDir, req(i), serving = true))) }
      finally Api.ServeCoalesce = before
    assert(Api.ServeCoalesce, "coalescing must be default-on in this spec run")

    val b0 = ServingCoalescer.batchesRun.get()
    val r0 = ServingCoalescer.requestsServed.get()
    val pool = Executors.newFixedThreadPool(12)
    val start = new CountDownLatch(1)
    val results = new Array[Either[Throwable, Seq[Set[Seq[Any]]]]](n)
    val done = new CountDownLatch(n)
    (0 until n).foreach { i =>
      pool.execute { () =>
        start.await()
        results(i) =
          try Right(dump(extractTimeseries(spark, sfDir, req(i), serving = true)))
          catch { case t: Throwable => Left(t) }
        done.countDown()
      }
    }
    start.countDown()
    assert(done.await(5, TimeUnit.MINUTES), "concurrent requests hung")
    pool.shutdown()

    (0 until n).foreach { i =>
      results(i) match {
        case Left(t) => fail(s"request $i failed under concurrency", t)
        case Right(d) => assert(d === solo(i), s"request $i diverged from solo")
      }
    }
    val batches = ServingCoalescer.batchesRun.get() - b0
    val served = ServingCoalescer.requestsServed.get() - r0
    assert(served === n.toLong)
    // 12 threads × gather window: if every request ran its own
    // micro-batch the coalescer is not coalescing
    assert(batches < served,
      s"no coalescing happened: $batches batches for $served requests")
  }

  test("multi-dataset concurrency: groups run on the pool, rows stay solo-exact") {
    // r15: a drain cycle with several (dataset, resolution, variable)
    // groups executes them on the fixed group pool instead of
    // serializing on the worker thread — this pins row-parity through
    // that path (every earlier case was single-group)
    val n = 16
    val datasets = Seq("click", "view", "purchase", "error")
    def dreq(i: Int) = req(i).copy(datasetId = datasets(i % datasets.length))
    val before = Api.ServeCoalesce
    val solo =
      try { Api.ServeCoalesce = false; (0 until n).map(i => dump(extractTimeseries(spark, sfDir, dreq(i), serving = true))) }
      finally Api.ServeCoalesce = before

    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = new Array[Either[Throwable, Seq[Set[Seq[Any]]]]](n)
    val done = new CountDownLatch(n)
    (0 until n).foreach { i =>
      pool.execute { () =>
        start.await()
        results(i) =
          try Right(dump(extractTimeseries(spark, sfDir, dreq(i), serving = true)))
          catch { case t: Throwable => Left(t) }
        done.countDown()
      }
    }
    start.countDown()
    assert(done.await(5, TimeUnit.MINUTES), "multi-dataset requests hung")
    pool.shutdown()
    (0 until n).foreach { i =>
      results(i) match {
        case Left(t) => fail(s"request $i failed under multi-group concurrency", t)
        case Right(d) => assert(d === solo(i), s"request $i diverged from solo")
      }
    }
  }

  test("session lane: two waves of mixed-key churn settle every request") {
    // r16: the session lane batches ACROSS serving keys (the cube id
    // travels as broadcast-side data into a union-of-cubes plan), so a
    // mixed-key workload runs the same sequential batched job stream
    // as a single-key one — replacing both the r14 central
    // cycle+barrier (one slow group gated the rest) and the r15
    // per-key lanes (8× the jobs at an eighth the batch size). This
    // pins the lane enqueue/exit handshake under churn: requests
    // arrive WHILE the lane drains, the lane goes idle between waves
    // and must wake again, and the serving counter accounts for every
    // request exactly once.
    val n = 12
    val datasets = Seq("click", "view", "purchase", "error")
    def dreq(i: Int) = req(i).copy(datasetId = datasets(i % datasets.length))
    val before = Api.ServeCoalesce
    val solo =
      try { Api.ServeCoalesce = false; (0 until n).map(i => dump(extractTimeseries(spark, sfDir, dreq(i), serving = true))) }
      finally Api.ServeCoalesce = before

    val r0 = ServingCoalescer.requestsServed.get()
    (1 to 2).foreach { wave =>
      val pool = Executors.newFixedThreadPool(8)
      val start = new CountDownLatch(1)
      val results = new Array[Either[Throwable, Seq[Set[Seq[Any]]]]](n)
      val done = new CountDownLatch(n)
      (0 until n).foreach { i =>
        pool.execute { () =>
          start.await()
          results(i) =
            try Right(dump(extractTimeseries(spark, sfDir, dreq(i), serving = true)))
            catch { case t: Throwable => Left(t) }
          done.countDown()
        }
      }
      start.countDown()
      assert(done.await(5, TimeUnit.MINUTES), s"wave $wave hung")
      pool.shutdown()
      (0 until n).foreach { i =>
        results(i) match {
          case Left(t) => fail(s"wave $wave request $i failed", t)
          case Right(d) => assert(d === solo(i), s"wave $wave request $i diverged")
        }
      }
      // lanes are idle between waves — the next wave's first enqueue
      // must re-claim each lane (the exit handshake's lost-wakeup case)
      Thread.sleep(50)
    }
    assert(ServingCoalescer.requestsServed.get() - r0 === 2L * n,
      "every request must be served by exactly one lane chunk")
  }

  test("mixed-weight churn: hourly bodies next to daily ones stay solo-exact") {
    // r17 (r16 verdict item 3): chunks close on a cells×bands WEIGHT
    // budget, not request count — an hourly selection carries ~24× a
    // daily one's bands, and before the budget one hourly body rode a
    // chunk sized for daily bodies. This pins row-parity through the
    // weight-budgeted drain with both weights in one lane: heavy
    // (hourly, wide band window) and light (daily) requests interleave
    // concurrently and every response must equal its solo twin.
    val n = 16
    def wreq(i: Int): TimeseriesRequest =
      if (i % 2 == 0)
        req(i).copy(resolution = graft.cube.EventCube.Hourly,
          selectedArea = BBoxArea(0, 9, 0, 9), bandRange = (0, 500))
      else req(i)
    val before = Api.ServeCoalesce
    val solo =
      try { Api.ServeCoalesce = false; (0 until n).map(i => dump(extractTimeseries(spark, sfDir, wreq(i), serving = true))) }
      finally Api.ServeCoalesce = before

    // the heavy half alone overflows the chunk weight budget, so the
    // lane MUST split — the budget path is exercised, not just typed
    val heavyWeight = 8L * 150L * 501L // 8 hourly reqs × 150 cells × 501 bands
    assert(heavyWeight > ServingCoalescer.MaxChunkWeight)

    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = new Array[Either[Throwable, Seq[Set[Seq[Any]]]]](n)
    val done = new CountDownLatch(n)
    (0 until n).foreach { i =>
      pool.execute { () =>
        start.await()
        results(i) =
          try Right(dump(extractTimeseries(spark, sfDir, wreq(i), serving = true)))
          catch { case t: Throwable => Left(t) }
        done.countDown()
      }
    }
    start.countDown()
    assert(done.await(5, TimeUnit.MINUTES), "mixed-weight requests hung")
    pool.shutdown()
    (0 until n).foreach { i =>
      results(i) match {
        case Left(t) => fail(s"mixed-weight request $i failed", t)
        case Right(d) => assert(d === solo(i), s"mixed-weight request $i diverged")
      }
    }
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
