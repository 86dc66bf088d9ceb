package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.SparkSpec
import Api._

/** End-to-end replays of skope-api request bodies in the shapes of the
  * reference's request fixtures (timeseries/data/requests: monthly,
  * yearly, yearly_prod and timeseriesv1 .json) through RequestJson →
  * extractTimeseries → ResponseJson. The bodies are files under
  * src/test/resources/data/requests; SPARK_GRAFT_FIXTURES points the
  * spec at a reference checkout's own directory instead. Each file
  * carries the field spellings under test (YearMonth-object bounds,
  * legacy top-level `transforms` array, missing
  * requested_series_options, the camelCase v1 body); only the
  * deployment-specific values — dataset/variable ids, grid
  * coordinates, years — are rewritten onto the synthetic catalog,
  * exactly what pointing the reference at a different metadata.yml
  * does. Response assertions
  * follow the TimeseriesResponse contract
  * (app/schemas/timeseries.py:264-276: dataset_id, variable_id, area,
  * n_cells, summary_stats, series, transform, zonal_statistic).
  */
class FixtureReplaySpec extends SparkSpec {

  private val FixtureDir = sys.env.getOrElse("SPARK_GRAFT_FIXTURES",
    java.nio.file.Paths.get(getClass.getResource("/data/requests").toURI).toString)
  private val mapper = new ObjectMapper()

  private def loadFixture(name: String): ObjectNode =
    mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$FixtureDir/$name"))).asInstanceOf[ObjectNode]

  private def replay(tree: ObjectNode): (TimeseriesRequest, ObjectNode) = {
    val req = RequestJson.parse(tree.toString)
    val res = extractTimeseries(spark, sfDir, req)
    (req, mapper.readTree(ResponseJson.toJson(req, res)).asInstanceOf[ObjectNode])
  }

  private def assertContract(resp: ObjectNode, req: TimeseriesRequest): Unit = {
    // the eight TimeseriesResponse fields, with their pydantic types
    assert(resp.get("dataset_id").asText === req.datasetId)
    assert(resp.get("variable_id").asText === req.variableId)
    assert(resp.get("area").isNumber && resp.get("area").asDouble > 0)
    assert(resp.get("n_cells").isIntegralNumber && resp.get("n_cells").asLong > 0)
    assert(resp.get("summary_stats").isArray)
    (0 until resp.get("summary_stats").size).foreach { i =>
      val st = resp.get("summary_stats").get(i)
      Seq("name", "mean", "median", "stdev").foreach(f => assert(st.has(f), f))
    }
    assert(resp.get("series").isArray && resp.get("series").size ===
      req.requestedSeriesOptions.size)
    (0 until resp.get("series").size).foreach { i =>
      val ser = resp.get("series").get(i)
      assert(ser.get("options").get("name").asText ===
        req.requestedSeriesOptions(i).name)
      assert(ser.get("options").has("smoother"))
      assert(ser.get("time_range").has("gte") && ser.get("time_range").has("lte"))
      assert(ser.get("values").isArray)
    }
    assert(resp.get("transform").has("type"))
    assert(resp.get("zonal_statistic").asText === "mean")
  }

  test("replay data/requests/monthly.json end-to-end (YearMonth bounds, two series)") {
    val t = loadFixture("monthly.json")
    // deployment rewrite only: synthetic dataset + in-grid cell coords +
    // a year the synthetic corpus covers (fixture years 1-3 predate it)
    t.put("dataset_id", "click")
    t.put("variable_id", "value")
    t.get("selected_area").asInstanceOf[ObjectNode]
      .putArray("coordinates").add(2.0).add(1.0)
    val gte = t.get("time_range").get("gte").asInstanceOf[ObjectNode]
    val lte = t.get("time_range").get("lte").asInstanceOf[ObjectNode]
    gte.put("year", 2024); gte.put("month", 1)
    lte.put("year", 2024); lte.put("month", 1)
    // structure stays the fixture's: month resolution, gte/lte as
    // {year, month} OBJECTS, NoTransform, original + trailing-7 series
    assert(t.get("time_range").get("gte").isObject)
    val (req, resp) = replay(t)
    assert(req.resolution === graft.cube.EventCube.Monthly)
    assertContract(resp, req)
    val names = (0 until resp.get("series").size)
      .map(resp.get("series").get(_).get("options").get("name").asText)
    assert(names === Seq("original", "transformed"))
    val sm = resp.get("series").get(1).get("options").get("smoother")
    assert(sm.get("type").asText === "MovingAverageSmoother")
    assert(sm.get("method").asText === "trailing")
    assert(sm.get("width").asInt === 7)
    // the untransformed series carries the requested month band(s);
    // trailing-7 over a 1-band series is emptied by the window guard —
    // present, empty values, like the reference's clipped series
    assert(resp.get("series").get(0).get("values").size >= 1)
    assert(resp.get("series").get(1).get("values").size === 0)
  }

  test("replay data/requests/yearly.json end-to-end (Point area, legacy transforms array)") {
    val t = loadFixture("yearly.json")
    t.put("dataset_id", "click")
    t.put("variable_id", "value")
    t.get("selected_area").asInstanceOf[ObjectNode]
      .putArray("coordinates").add(2.0).add(1.0)
    // bare-integer year bounds stay bare integers (fixture years 2-6
    // predate the synthetic corpus)
    t.set[ObjectNode]("time_range",
      mapper.readTree("""{"gte": 2024, "lte": 2024}""")): Unit
    // structure stays the fixture's: Point selected_area, a legacy
    // top-level "transforms" ARRAY carrying a centered MA(1) — ignored
    // like pydantic ignores unknown fields — and no
    // requested_series_options
    assert(t.get("selected_area").get("type").asText === "Point")
    assert(t.get("transforms").get(0).get("method").asText === "centered")
    assert(!t.has("requested_series_options"))
    val (req, resp) = replay(t)
    assert(req.resolution === graft.cube.EventCube.Yearly)
    assert(req.selectedArea === PointArea(12L))
    assert(req.transform === NoTransform) // legacy array is not v2 transform
    assert(req.requestedSeriesOptions ===
      Seq(SeriesOptions("original", NoSmoother)))
    assertContract(resp, req)
    assert(resp.get("series").get(0).get("values").size === 1) // one year band
  }

  test("replay data/requests/timeseriesv1.json end-to-end (v1 body and v1 response)") {
    val t = loadFixture("timeseriesv1.json")
    t.put("datasetId", "click")
    t.put("variableName", "value")
    t.get("boundaryGeometry").asInstanceOf[ObjectNode]
      .putArray("coordinates").add(2.0).add(1.0)
    t.put("start", 2024)
    t.put("end", 2024)
    // structure stays the fixture's: camelCase v1 spellings, geometry
    // under boundaryGeometry, bare-int start/end years
    assert(t.has("variableName") && t.has("boundaryGeometry"))
    val (req, geom) = RequestJson.parseV1(t.toString)
    assert(req.datasetId === "click")
    assert(req.selectedArea === PointArea(12L))
    assert(req.bandRange === (1, 1)) // int years → Jan 1..Jan 1 of 2024
    val res = extractTimeseries(spark, sfDir, req)
    val resp = mapper.readTree(ResponseJson.toV1Json(req, geom, res))
      .asInstanceOf[ObjectNode]
    // v1 response contract (routers/v1/api.py:20-29): echoed request
    // fields, ISO date bounds, dense values
    assert(resp.get("datasetId").asText === "click")
    assert(resp.get("variableName").asText === "value")
    assert(resp.get("boundaryGeometry").get("type").asText === "Point")
    assert(resp.get("boundaryGeometry").get("coordinates").get(0).asDouble === 2.0)
    assert(resp.get("start").asText === "2024-01-01")
    assert(resp.get("end").asText === "2024-01-01")
    assert(resp.get("values").isArray && resp.get("values").size === 1)
  }

  test("replay data/requests/yearly_prod.json end-to-end (int bounds, legacy transforms)") {
    val t = loadFixture("yearly_prod.json")
    t.put("dataset_id", "click")
    t.put("variable_id", "value")
    t.get("selected_area").asInstanceOf[ObjectNode]
      .putArray("coordinates").add(2.0).add(1.0)
    t.set[ObjectNode]("time_range",
      mapper.readTree("""{"gte": 2024, "lte": 2024}""")): Unit
    // structure stays the fixture's: bare-integer year bounds, a
    // legacy top-level "transforms" ARRAY (ignored like pydantic
    // ignores unknown fields), and NO requested_series_options
    assert(t.get("transforms").isArray)
    assert(!t.has("requested_series_options"))
    val (req, resp) = replay(t)
    assert(req.resolution === graft.cube.EventCube.Yearly)
    assert(req.transform === NoTransform)
    // missing requested_series_options defaults to one raw series
    assert(req.requestedSeriesOptions ===
      Seq(SeriesOptions("original", NoSmoother)))
    assertContract(resp, req)
    assert(resp.get("transform").get("type").asText === "NoTransform")
    assert(resp.get("series").get(0).get("values").size === 1) // one year band
  }
}
