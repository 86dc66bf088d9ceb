package graft.api

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSpec
import Api._

/** Round-trip wire-format coverage: a reference-shaped request JSON in,
  * a response JSON out whose shape matches the reference's
  * TimeseriesResponse model field-for-field (timeseries.py:264-274 +
  * services.py to_timeseries_response_dict; value/length semantics
  * replayed from tests/routers/test_datasets.py
  * test_annual_time_ranges / test_annual_different_smoothers).
  */
class ResponseJsonSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def extractJson(reqJson: String) = {
    val req = RequestJson.parse(reqJson)
    val res = extractTimeseries(spark, sfDir, req)
    mapper.readTree(ResponseJson.toJson(req, res))
  }

  test("response carries the reference model's full field set with echoes") {
    // request shape straight off the reference wire format
    val resp = extractJson(
      """{"dataset_id": "click", "variable_id": "value",
        |  "selected_area": {"type": "Polygon", "coordinates":
        |    [[[0.5, 0.5], [6.5, 0.5], [6.5, 6.5], [0.5, 6.5], [0.5, 0.5]]]},
        |  "zonal_statistic": "median",
        |  "transform": {"type": "ZScoreMovingInterval", "width": 6},
        |  "time_range": {"gte": "2024-01-05", "lte": "2024-01-25"}}""".stripMargin)
    // TimeseriesResponse fields (timeseries.py:264-274)
    Seq("dataset_id", "variable_id", "area", "n_cells", "summary_stats",
      "series", "transform", "zonal_statistic").foreach(f =>
      assert(resp.has(f), s"response missing field $f"))
    assert(resp.get("dataset_id").asText === "click")
    assert(resp.get("variable_id").asText === "value")
    // echoes (services.py:73-74)
    assert(resp.get("zonal_statistic").asText === "median")
    assert(resp.get("transform").get("type").asText === "ZScoreMovingInterval")
    assert(resp.get("transform").get("width").asInt === 6)
    // geometric selection fields are data-independent positives
    assert(resp.get("n_cells").asLong === 49L)
    assert(resp.get("area").asDouble > 0)
    // transformed request: stats for the series plus "Original"
    // (timeseries.py:460-469)
    val statNames = (0 until resp.get("summary_stats").size)
      .map(i => resp.get("summary_stats").get(i).get("name").asText)
    assert(statNames === Seq("original", "Original"))
    val s0 = resp.get("summary_stats").get(0)
    Seq("name", "mean", "median", "stdev").foreach(f => assert(s0.has(f)))
  }

  test("series block: options + time_range + dense values axis") {
    val resp = extractJson(
      """{"dataset_id": "click",
        |  "selected_area": {"type": "Polygon", "coordinates":
        |    [[[0.5, 0.5], [6.5, 0.5], [6.5, 6.5], [0.5, 6.5], [0.5, 0.5]]]},
        |  "requested_series_options": [
        |    {"name": "original", "smoother": {"type": "NoSmoother"}},
        |    {"name": "trailing",
        |     "smoother": {"type": "MovingAverageSmoother",
        |                  "method": "trailing", "width": 3}}],
        |  "time_range": {"gte": "2024-01-05", "lte": "2024-01-25"}}""".stripMargin)
    val series = resp.get("series")
    assert(series.size === 2)
    val original = series.get(0)
    val trailing = series.get(1)
    // options echo the request's series options (SeriesOptions model)
    assert(original.get("options").get("name").asText === "original")
    assert(original.get("options").get("smoother").get("type").asText
      === "NoSmoother")
    assert(trailing.get("options").get("smoother").get("method").asText
      === "trailing")
    assert(trailing.get("options").get("smoother").get("width").asInt === 3)
    // values is the DENSE axis over the series time_range
    // (test_annual_time_ranges: one value slot per band in range)
    assert(original.get("time_range").get("gte").asText === "2024-01-05")
    assert(original.get("time_range").get("lte").asText === "2024-01-25")
    assert(original.get("values").size === 21)
    assert(trailing.get("values").size === 21)
    // the zonal bbox over a dense corpus yields non-null numbers
    assert((0 until 21).forall(i => original.get("values").get(i).isNumber))
  }

  test("window-guard-emptied series serializes [] with gte > lte") {
    // trailing width 3 over bands [1, 3]: no band has a full window —
    // the reference's data-independent range arithmetic still reports
    // the series, with an empty values list
    val resp = extractJson(
      """{"dataset_id": "click",
        |  "selected_area": {"type": "Point", "coordinates": [2.0, 1.0]},
        |  "requested_series_options": [
        |    {"name": "trailing",
        |     "smoother": {"type": "MovingAverageSmoother",
        |                  "method": "trailing", "width": 3}}],
        |  "time_range": {"gte": "2024-01-01", "lte": "2024-01-03"}}""".stripMargin)
    val s = resp.get("series").get(0)
    assert(s.get("values").size === 0)
    assert(s.get("time_range").get("gte").asText >
      s.get("time_range").get("lte").asText)
    // no stats rows exist for the emptied series: fields are null, the
    // name is still reported (nanmean over [] → None in the reference)
    val stat = resp.get("summary_stats").get(0)
    assert(stat.get("name").asText === "trailing")
    assert(stat.get("mean").isNull && stat.get("median").isNull &&
      stat.get("stdev").isNull)
  }

  test("sparse point series carries null slots (nan→None conversion)") {
    // a single cell is sparse at sf0.001 — the dense axis over the
    // requested range must pad absent bands with JSON null, never skip
    // them (Series.values: List[Optional[float]])
    val resp = extractJson(
      """{"dataset_id": "click",
        |  "selected_area": {"type": "Point", "coordinates": [2.0, 1.0]},
        |  "time_range": {"gte": "2024-01-01", "lte": "2024-01-31"}}""".stripMargin)
    val vals = resp.get("series").get(0).get("values")
    assert(vals.size === 31, "dense axis over the full requested range")
    val nulls = (0 until 31).count(i => vals.get(i).isNull)
    val nums = (0 until 31).count(i => vals.get(i).isNumber)
    assert(nulls + nums === 31)
    assert(nums > 0, "the cell has some data")
    assert(nulls > 0, "sf0.001 point series is expected to be sparse " +
      "(fixture assumption: this cell misses at least one January day)")
  }

  test("replay test_annual_time_ranges: values == [i*100 for i in band range]") {
    // The reference's synthetic raster holds value = band·100 at the
    // probed point, and test_annual_time_ranges asserts the response's
    // values array equals [i*100 for i in find_band_range(time_range)]
    // for six time ranges. Same fixture here: cell 12 carries exactly
    // band·100 at every band, probed through the full wire round trip.
    val dir = SparkSpec.tempDir("graft-annual")
    val s = spark
    import s.implicits._
    (1 to 31).map { b =>
      (b.toLong, (1704067200L + (b - 1) * 86400L) * 1000000000L,
        12L, "click", b * 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // the reference's six TIME_RANGES on its 5-band annual dataset,
    // mapped onto this corpus's day resolution
    val ranges = Seq((1, 3), (1, 5), (2, 4), (3, 4), (3, 5), (3, 3))
    ranges.foreach { case (lo, hi) =>
      val req = RequestJson.parse(
        s"""{"dataset_id": "click",
           |  "selected_area": {"type": "Point", "coordinates": [2.0, 1.0]},
           |  "time_range": {"gte": "2024-01-0$lo", "lte": "2024-01-0$hi"}}"""
          .stripMargin)
      val resp = mapper.readTree(
        ResponseJson.toJson(req, extractTimeseries(spark, dir, req)))
      val vals = resp.get("series").get(0).get("values")
      assert(vals.size === hi - lo + 1, s"range [$lo, $hi]")
      (lo to hi).zipWithIndex.foreach { case (b, i) =>
        assert(vals.get(i).asDouble === b * 100.0,
          s"range [$lo, $hi] band $b")
      }
    }
  }

  test("v1 response echoes the request and carries the first series' values") {
    // routers/v1/api.py:20-29: {datasetId, variableName,
    // boundaryGeometry, start, end, values}
    val geomJson = """{"type": "Point", "coordinates": [2.0, 1.0]}"""
    val geom = mapper.readTree(geomJson)
    val req = v1Request("click", 12L, Some("2024-01-05"), Some("2024-01-10"))
    val res = extractTimeseries(spark, sfDir, req)
    val resp = mapper.readTree(ResponseJson.toV1Json(req, geom, res))
    assert(resp.get("datasetId").asText === "click")
    assert(resp.get("variableName").asText === "value")
    assert(resp.get("boundaryGeometry") === geom)
    assert(resp.get("start").asText === "2024-01-05")
    assert(resp.get("end").asText === "2024-01-10")
    assert(resp.get("values").size === 6)
  }

  test("metadata document list restores the yml nesting") {
    // routers/v2/api.py:15-17 serves the metadata.yml documents
    // verbatim; the serialized catalog must carry the yml's nested
    // shapes (metadata.yml:1-60): region {name, zoom, center, style,
    // extents [[N, W], [S, E]]}, timespan {resolution, resolutionLabel,
    // period {timeZero, gte, lte, suffix}}, plus the prose fields
    val docs = mapper.readTree(MetadataJson.toJson)
    assert(docs.size === graft.cube.Catalog.entries.size)
    val d = docs.get(0)
    Seq("id", "title", "ordering", "description", "type", "status",
      "revised", "region", "timespan", "uncertainty", "methodSummary",
      "references", "originator", "variables").foreach(f =>
      assert(d.has(f), s"metadata document missing $f"))
    assert(d.get("type").asText === "dataset")
    val region = d.get("region")
    assert(region.get("center").size === 2)
    assert(region.get("style").get("color").asText ===
      graft.cube.Catalog.RegionStyleColor)
    val extents = region.get("extents")
    assert(extents.size === 2 && extents.get(0).size === 2)
    // [[north, west], [south, east]] corner order like lbda_v2's yml
    assert(extents.get(0).get(0).asDouble > extents.get(1).get(0).asDouble,
      "first corner must be the northern latitude")
    val period = d.get("timespan").get("period")
    assert(period.get("timeZero").asInt === 2024)
    assert(period.get("gte").asText === "2024-01-01")
    assert(period.get("suffix").asText === "CE")
    // documents are served for every catalog dataset, in catalog order
    val ids = (0 until docs.size).map(i => docs.get(i).get("id").asText)
    assert(ids === graft.cube.Catalog.entries.map(_.id))
    // full variable documents (metadata.yml:77-93), consistent with the
    // query surface's variable set
    val vars = d.get("variables")
    val varIds = (0 until vars.size).map(i => vars.get(i).get("id").asText)
    assert(varIds === graft.cube.SkopeQueries.DatasetVariables)
    val v0 = vars.get(0)
    Seq("id", "class", "name", "units", "min", "max", "visible",
      "styles", "timeseriesServiceUri", "description", "fill_value")
      .foreach(f => assert(v0.has(f), s"variable document missing $f"))
    assert(v0.get("timeseriesServiceUri").asText ===
      s"${d.get("id").asText}/value")
    assert(v0.get("visible").asBoolean)
  }

  test("fixed-interval transform echoes its band_range; null range echoes null") {
    val some = extractJson(
      """{"dataset_id": "click",
        |  "selected_area": {"type": "Point", "coordinates": [2.0, 1.0]},
        |  "transform": {"type": "ZScoreFixedInterval", "band_range": [1, 12]},
        |  "time_range": {"gte": "2024-01-05", "lte": "2024-01-25"}}""".stripMargin)
    val tr = some.get("transform")
    assert(tr.get("type").asText === "ZScoreFixedInterval")
    assert(tr.get("band_range").get(0).asInt === 1)
    assert(tr.get("band_range").get(1).asInt === 12)
    val none = extractJson(
      """{"dataset_id": "click",
        |  "selected_area": {"type": "Point", "coordinates": [2.0, 1.0]},
        |  "transform": {"type": "ZScoreFixedInterval"},
        |  "time_range": {"gte": "2024-01-05", "lte": "2024-01-25"}}""".stripMargin)
    assert(none.get("transform").get("band_range").isNull)
    // untransformed default echoes NoTransform + mean
    val plain = extractJson(
      """{"dataset_id": "click",
        |  "selected_area": {"type": "Point", "coordinates": [2.0, 1.0]}}""".stripMargin)
    assert(plain.get("transform").get("type").asText === "NoTransform")
    assert(plain.get("zonal_statistic").asText === "mean")
  }
}
