package graft.api

import graft.SparkSpec
import Api._

/** The HTTP serving path's cached-cube parity (r12 verdict item 4):
  * `extractTimeseries(serving = true)` reads the per-session persisted
  * (band, cell) cube instead of re-scanning the event log per request.
  * Every response surface (series, stats, time_range, selection) must
  * be ROW-IDENTICAL to the batch/oracle scan path, across every
  * selection kind and transform — including ZScoreFixedInterval(None),
  * whose statistics depend on the exact extraction band range (the
  * case that would catch a cache path whose band window drifted from
  * bandRangeNanos' ts window).
  */
class ServingCacheSpec extends SparkSpec {

  private val base = TimeseriesRequest(
    datasetId = "click",
    selectedArea = BBoxArea(0, 9, 0, 9),
    bandRange = (5, 25))

  private val sweep: Seq[(String, TimeseriesRequest)] = Seq(
    "bbox mean" -> base,
    "point" -> base.copy(selectedArea = PointArea(23)),
    "polygon median" -> base.copy(
      selectedArea = PolygonArea(
        Seq((0.2, 0.2), (4.8, 0.3), (2.0, 3.6), (0.2, 0.2))),
      zonalStatistic = ZonalMedian),
    "zscore moving + smoothers" -> base.copy(
      transform = ZScoreMovingInterval(6),
      requestedSeriesOptions = Seq(
        SeriesOptions("original", NoSmoother),
        SeriesOptions("centered", MovingAverageSmoother(centered = true, 5)),
        SeriesOptions("trailing", MovingAverageSmoother(centered = false, 3)))),
    "zscore fixed (whole extract)" -> base.copy(
      transform = ZScoreFixedInterval(None),
      requestedSeriesOptions = Seq(
        SeriesOptions("s", MovingAverageSmoother(centered = false, 4)))),
    "zscore fixed interval" -> base.copy(
      transform = ZScoreFixedInterval(Some((8, 18)))),
    // non-default resolution and variable: the serving cube is keyed
    // per (dataset, resolution, variable) — a wrong cache key would
    // serve the wrong axis or the wrong raster here
    "hourly second dataset" -> base.copy(
      datasetId = "view",
      resolution = graft.cube.EventCube.Hourly, bandRange = (5, 80),
      transform = ZScoreMovingInterval(4)),
    "k variable" -> base.copy(variableId = "k", bandRange = (3, 20)))

  private def dump(r: TimeseriesResult): Seq[Set[Seq[Any]]] =
    Seq(r.series, r.summaryStats, r.timeRange)
      .map(_.collect().map(_.toSeq).toSet)

  test("serving path is row-identical to the scan path across the sweep") {
    sweep.foreach { case (name, req) =>
      val b = extractTimeseries(spark, sfDir, req)
      val s = extractTimeseries(spark, sfDir, req, serving = true)
      dump(b).zip(dump(s)).zipWithIndex.foreach { case ((bd, sd), i) =>
        assert(bd === sd, s"sweep '$name' surface $i diverged")
      }
      // selection facts: count exact; the area SUM may differ from the
      // batch path's partition-merge association by float ulps (nothing
      // rounds it downstream), so compare at 1e-12 relative
      val (bc, ba) = { val r0 = b.selection.head(); (r0.getLong(0), r0.getDouble(1)) }
      val (sc, sa) = { val r0 = s.selection.head(); (r0.getLong(0), r0.getDouble(1)) }
      assert(bc === sc, s"sweep '$name' n_cells diverged")
      assert(math.abs(ba - sa) <= 1e-12 * math.abs(ba),
        s"sweep '$name' area diverged: $ba vs $sa")
    }
  }

  test("the serving path runs ONE cluster read; its outputs are local") {
    // class-based collect: an InMemoryRelation PRINTS its original
    // build plan (which names events.parquet), so a textual check
    // can't tell a cache read from a rescan — the logical plan's own
    // relation leaves can: a file relation leaf = a rescan
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val served = extractTimeseries(spark, sfDir, base, serving = true)
    // every response surface is a LOCAL relation — no per-collect
    // cluster re-execution (the r12 profile: stats re-ran the whole
    // window chain per request)
    Seq(served.series, served.summaryStats, served.selection).foreach { df =>
      val lp = df.queryExecution.optimizedPlan
      assert(lp.collect { case l: LogicalRelation => l }.isEmpty &&
        lp.collect { case m: InMemoryRelation => m }.isEmpty,
        s"serving output must be a local relation:\n$lp")
    }
    // the one cluster read goes through the persisted cube, and the
    // batch path keeps its scan-bound shape (the oracle-gated plan)
    val cube = graft.cube.EventCube.servingCube(spark, sfDir, "click",
      graft.cube.EventCube.Daily, "value")
    assert(cube.queryExecution.withCachedData
      .collect { case m: InMemoryRelation => m }.nonEmpty,
      "servingCube must be persisted")
    val batch = extractTimeseries(spark, sfDir, base)
    val blp = batch.series.queryExecution.optimizedPlan
    assert(blp.collect { case l: LogicalRelation => l }.nonEmpty, blp.toString)
  }

  test("a rewritten, then appended, events corpus is served on the next request") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.storage.StorageLevel
    import graft.cube.EventCube
    val dir = SparkSpec.tempDir("graft_servefresh")
    val events = s"$dir/events.parquet"
    val source = spark.read.parquet(s"$sfDir/events.parquet")
    source.write.parquet(events)
    val reqs = sweep.filter { case (n, _) =>
      Set("bbox mean", "point", "hourly second dataset")(n) }
    def servedIsBatch(step: String): Unit = reqs.foreach { case (n, req) =>
      assert(dump(extractTimeseries(spark, dir, req)) ===
        dump(extractTimeseries(spark, dir, req, serving = true)),
        s"$step: '$n' served a stale answer")
    }
    // the served cube's (band, cell) values of daily clicks
    def cells(): Map[(Long, Long), Double] =
      EventCube.servingCube(spark, dir, "click", EventCube.Daily, "value")
        .collect().map(r => (r.getAs[Long]("band"), r.getAs[Long]("user_id")) ->
          r.getAs[Double]("v")).toMap
    def cachedBlocks() = EventCube.servingCubes(spark, dir, "value")
      .queryExecution.withCachedData.collect { case m: InMemoryRelation => m }
      .head.cacheBuilder.cachedColumnBuffers
    try {
      servedIsBatch("as written")
      val before = cells()
      val blocks = cachedBlocks()
      assert(blocks.getStorageLevel !== StorageLevel.NONE)

      source.withColumn("value", col("value") * 2)
        .write.mode("overwrite").parquet(events)
      servedIsBatch("rewritten")
      val doubled = cells()
      assert(doubled.keySet === before.keySet)
      before.foreach { case (k, v) =>
        assert(math.abs(doubled(k) - 2 * v) <= 1e-12 * math.abs(2 * v), k)
      }
      assert(blocks.getStorageLevel === StorageLevel.NONE,
        "the superseded cube must be released")
      val rewritten = cachedBlocks()
      assert(rewritten.getStorageLevel !== StorageLevel.NONE)

      // one more part file: a click of 1e6 in band 10 of cell 23 (the
      // corpus stores ts as TIMESTAMP_NTZ)
      source.filter(col("event_type") === "click").limit(1)
        .withColumn("ts", lit(java.time.LocalDateTime.of(2024, 1, 10, 1, 0)))
        .withColumn("user_id", lit(23L))
        .withColumn("value", lit(1e6))
        .write.mode("append").parquet(events)
      servedIsBatch("appended")
      val appended = cells()
      assert(appended((10L, 23L)) > 1000.0, appended.get((10L, 23L)))
      assert(appended.keySet === doubled.keySet + ((10L, 23L)))
      doubled.foreach { case (k, v) =>
        if (k != ((10L, 23L)))
          assert(math.abs(appended(k) - v) <= 1e-12 * math.abs(v), k)
      }
      assert(rewritten.getStorageLevel === StorageLevel.NONE,
        "the superseded cube must be released")
    } finally {
      graft.pipeline.ArtifactCache.drop(s"servecube:value:$dir")
      graft.pipeline.ArtifactCache.drop(s"serveindex:value:$dir")
    }
  }

  test("a superseded build that finishes late leaves its replacement persisted") {
    // a request of the old events version is still building when one
    // of the new version drops the entry and rebuilds it; both builds
    // read equal file-scan plans, so the late frame's release must not
    // uncache the new one
    import java.util.concurrent.CountDownLatch
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.storage.StorageLevel
    import graft.pipeline.ArtifactCache
    val key = s"servecube:late:$sfDir"
    def frame(): DataFrame =
      graft.Tables.events(spark, sfDir).groupBy("event_type").count()
    val started, go = new CountDownLatch(1)
    var late: DataFrame = null
    val old = new Thread(() => late = ArtifactCache.cached(spark, key, "v1") {
      started.countDown()
      go.await()
      frame()
    })
    old.start()
    started.await()
    try {
      val current = ArtifactCache.cached(spark, key, "v2")(frame())
      go.countDown()
      old.join()
      assert(late.storageLevel === StorageLevel.NONE,
        "the superseded frame must be released")
      assert(current.storageLevel !== StorageLevel.NONE,
        "the late release uncached the replacement")
      assert(current.count() === frame().count())
    } finally {
      go.countDown()
      ArtifactCache.drop(key)
    }
  }

  test("null cells: serving skips them like avg/percentile, point and bbox") {
    // `k` is null wherever props has no "k": a hand-written corpus
    // with such events, including one band (2) where every selected
    // cell is null and one (4) where only some are
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = SparkSpec.tempDir("graft_nullk")
    val origin = graft.cube.EventCube.OriginEpochSec
    def ev(id: Long, day: Int, hour: Int, cell: Long, dataset: String,
        k: Option[Int]): Row =
      Row(id, (origin + (day - 1) * 86400L + hour * 3600L) * 1000000000L,
        cell, dataset, 10.0 + id, k.fold("{}")(v => s"""{"k": $v}"""))
    // (day, hour, cell, k) of the click events; cells 0-2 are selected
    val click = Seq(
      (1, 3, 0L, Some(4)), (1, 5, 1L, Some(10)), (1, 7, 2L, None),
      (2, 1, 0L, None), (2, 9, 1L, None), (2, 2, 2L, None),
      (3, 4, 0L, Some(3)), (3, 6, 0L, None), (3, 8, 1L, Some(7)),
      (3, 9, 2L, Some(8)),
      (4, 1, 1L, None), (4, 2, 2L, Some(5)), (4, 3, 0L, Some(1)),
      (4, 4, 0L, Some(6)),
      (5, 0, 0L, Some(2)), (5, 1, 1L, Some(6)), (5, 2, 2L, Some(9)),
      (5, 3, 3L, None))
    val rows = click.zipWithIndex.map { case ((d, h, c, k), i) =>
      ev(i.toLong, d, h, c, "click", k)
    } ++ Seq(ev(100L, 2, 0, 1L, "view", Some(42)))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(s"$dir/events.parquet")
    try {
      val reqs = for {
        area <- Seq(PointArea(1), BBoxArea(0, 2, 0, 0))
        stat <- Seq(ZonalMean, ZonalMedian)
      } yield TimeseriesRequest(datasetId = "click", variableId = "k",
        selectedArea = area, zonalStatistic = stat, bandRange = (1, 6))
      reqs.foreach { req =>
        val b = dump(extractTimeseries(spark, dir, req))
        val s = dump(extractTimeseries(spark, dir, req, serving = true))
        assert(b === s, s"serving diverged from batch on $req")
        // band 2 is present with a null value, never dropped or NaN
        assert(b.head.exists(r => r(1) == 2L && r(2) == null), b.head)
      }
    } finally {
      graft.pipeline.ArtifactCache.drop(s"servecube:k:$dir")
      graft.pipeline.ArtifactCache.drop(s"serveindex:k:$dir")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
