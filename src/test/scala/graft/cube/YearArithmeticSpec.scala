package graft.cube

import java.time.LocalDate

import graft.SparkSpec
import graft.api.Api

/** Year-resolution band arithmetic vectors mirroring dataset.py:69-84
  * (find_band_range's year branch / translate_band_range's year branch
  * — the reference's PRIMARY resolution) plus metadata.yml's
  * timeZero-era label arithmetic (lbda_v2: timeZero 1, gte '0001',
  * lte '2017'). */
class YearArithmeticSpec extends SparkSpec {

  private def band(date: String, origin: String): Int =
    EventCube.yearBandOf(LocalDate.parse(date), LocalDate.parse(origin))

  test("year band indexing matches relativedelta arithmetic") {
    // same year → band 1 (1-based)
    assert(band("2024-01-01", "2024-01-01") === 1)
    assert(band("2024-12-31", "2024-01-01") === 1)
    assert(band("2025-01-01", "2024-01-01") === 2)
    // the reference era: gte '0001' parses to 0001-01-01 (v1 strings)
    assert(band("0001-06-15", "0001-01-01") === 1)
    assert(band("0005-01-01", "0001-01-01") === 5)
    // lbda_v2's declared extent: '0001'..'2017' = 2017 year bands
    assert(band("2017-12-31", "0001-01-01") === 2017)
    // mid-year origin: the band ticks at the origin's anniversary, not
    // at the calendar new year (relativedelta counts WHOLE years)
    assert(band("2025-02-28", "2024-03-01") === 1)
    assert(band("2025-03-01", "2024-03-01") === 2)
    assert(band("2026-02-28", "2024-03-01") === 2)
    // leap-day origin: relativedelta CLAMPS the anniversary to the
    // month length (Feb 29 + 1 year = Feb 28 in dateutil), so Feb 28
    // of a non-leap year already opens the next band — vectors
    // cross-checked against dateutil.relativedelta directly
    assert(band("2025-02-28", "2024-02-29") === 2)
    assert(band("2025-03-01", "2024-02-29") === 2)
    assert(band("2026-02-28", "2024-02-29") === 3)
    assert(band("2028-02-28", "2024-02-29") === 4) // leap year: 29 is the tick
    assert(band("2028-02-29", "2024-02-29") === 5)
  }

  test("v1 year string parsing feeds the year band arithmetic") {
    assert(Api.bandForYear(Some("2024"), 99) === 1)
    assert(Api.bandForYear(Some("2024-06"), 99) === 1)
    assert(Api.bandForYear(Some("2024-12-31"), 99) === 1)
    assert(Api.bandForYear(None, 7) === 7)
  }

  test("the Yearly column expression agrees with the driver-side arithmetic") {
    import org.apache.spark.sql.functions._
    // dates straddling the (Jan 1) anniversary of the cube origin
    val dates = Seq("2024-01-01 00:00:00", "2024-06-15 12:00:00",
      "2024-12-31 23:59:59", "2025-01-01 00:00:00", "2026-07-04 08:30:00")
    import spark.implicits._
    val got = dates.toDF("s")
      .select(EventCube.Yearly.band(col("s").cast("timestamp")).as("b"))
      .collect().map(_.getLong(0)).toSeq
    val expected = dates.map(s =>
      EventCube.yearBandOf(LocalDate.parse(s.take(10)),
        LocalDate.parse(EventCube.Origin)).toLong)
    assert(got === expected)
  }

  test("year band start dates invert the band index (translate_band_range)") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1, 6).select(
      col("id").as("band"),
      date_format(EventCube.Yearly.bandStart(col("id")), "yyyy-MM-dd").as("d"))
    val got = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "2024-01-01")
    assert(got(2L) === "2025-01-01")
    assert(got(5L) === "2028-01-01")
  }

  test("yearly v2 request extracts through the Yearly cube axis") {
    val req = Api.TimeseriesRequest(
      datasetId = "click",
      selectedArea = Api.PointArea(2L),
      bandRange = Api.bandRangeForTimeRange(EventCube.Yearly,
        Some("2024"), Some("2024")),
      resolution = EventCube.Yearly)
    assert(req.bandRange === (1, 1))
    val rows = Api.extractTimeseries(spark, sfDir, req).series.collect()
    assert(rows.length === 1, "January corpus = exactly one year band")
    assert(rows.head.getLong(1) === 1L)
  }

  test("year band range outside the axis is rejected") {
    intercept[Api.TimeRangeContainmentError] {
      Api.bandRangeForTimeRange(EventCube.Yearly, Some("2025"), Some("2026"))
    }
  }

  test("a year-resolution wire request parses ('year' resolution + time_range)") {
    val req = graft.api.RequestJson.parse(
      """{"resolution": "year", "dataset_id": "click",
        |  "selected_area": {"type": "Point", "coordinates": [2.0, 1.0]},
        |  "time_range": {"gte": "2024", "lte": "2024"}}""".stripMargin)
    assert(req.resolution === EventCube.Yearly)
    assert(req.bandRange === (1, 1))
  }

  test("catalog n_bands is timespan-derived at each resolution") {
    // the synthetic datasets: 31 declared daily bands (Jan 2024)
    Catalog.entries.foreach(e => assert(Catalog.nBands(e) === 31))
    // the reference's own primary dataset shape: lbda_v2's yml timespan
    // ('0001'..'2017' at year resolution) must derive 2017 bands
    val lbda = Catalog.Entry("lbda_like", "t", "year",
      "0001-01-01", "2017-01-01", 1, "u")
    assert(Catalog.nBands(lbda) === 2017)
    // and a month-resolution timespan crosses years exactly
    val monthly = Catalog.Entry("m", "t", "month",
      "2023-11-01", "2024-02-01", 2023, "u")
    assert(Catalog.nBands(monthly) === 4)
  }

  test("metadata serves every catalog dataset even when it has no events") {
    import org.apache.spark.sql.functions._
    // a corpus slice holding ONLY click events: the other four catalog
    // datasets must still appear with their declared extent (the
    // reference serves metadata.yml regardless of raster content)
    val dir = SparkSpec.tempDir("graft-meta")
    spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("event_type") === "click")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SkopeQueries.metadata(spark, dir).collect()
    val byId = rows.groupBy(_.getString(0))
    assert(byId.keySet === Catalog.entries.map(_.id).toSet,
      "every catalog dataset must be served")
    val errorRow = byId("error").head
    assert(errorRow.getAs[Long]("n_cells") === 0L,
      "empty dataset reports n_cells 0")
    assert(errorRow.getAs[Long]("n_bands") === 31L,
      "declared n_bands survives an empty corpus")
    assert(byId("click").head.getAs[Long]("n_cells") > 0L)
  }

  test("timeZero era labels: label = timeZero + band - 1") {
    // lbda_v2 contract: timeZero 1 → band 1 labels year 1, band 2017
    // labels year 2017; the synthetic catalog anchors at 2024
    assert(1 + 1 - 1 === 1)
    val got = SkopeQueries.yearlyBandIndex(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(2) === 2024L + r.getLong(1) - 1,
        s"era label must be timeZero + band - 1: $r")
      assert(r.getString(3) === "2024-01-01")
    }
  }
}
