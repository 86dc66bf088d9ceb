package graft.api

import graft.SparkSpec
import graft.cube.EventCube
import Api._

/** The serving path's response rows (TimeseriesResult.local) must
  * serialize BYTE-identically to the DataFrame surfaces built from them
  * — re-collecting the same result's frames into a fresh result
  * (TimeseriesResult.fromFrames, the batch path's route) makes any
  * drift (band-date arithmetic, NaN handling, stat layout) show up as a
  * JSON diff. Also pins the scalar bandStartStringJvm against the
  * column bandStartString across all four resolutions. */
class LocalParitySpec extends SparkSpec {

  /** The same result, its local rows collected from its frames. */
  private def collected(r: TimeseriesResult): TimeseriesResult =
    TimeseriesResult.fromFrames(r.series, r.summaryStats, r.selection,
      r.timeRange, r.datasetId, r.variableId, r.transform, r.zonalStatistic)

  private val reqs: Seq[TimeseriesRequest] = Seq(
    TimeseriesRequest(datasetId = "click",
      selectedArea = BBoxArea(0, 9, 0, 9), bandRange = (5, 25)),
    TimeseriesRequest(datasetId = "click",
      selectedArea = PointArea(23), bandRange = (5, 25),
      transform = ZScoreMovingInterval(6),
      requestedSeriesOptions = Seq(
        SeriesOptions("original", NoSmoother),
        SeriesOptions("centered", MovingAverageSmoother(centered = true, 5)))),
    TimeseriesRequest(datasetId = "view",
      selectedArea = PolygonArea(
        Seq((0.2, 0.2), (4.8, 0.3), (2.0, 3.6), (0.2, 0.2))),
      zonalStatistic = ZonalMedian,
      resolution = EventCube.Hourly, bandRange = (5, 80),
      transform = ZScoreFixedInterval(None),
      requestedSeriesOptions = Seq(
        SeriesOptions("s", MovingAverageSmoother(centered = false, 4)))))

  test("local rows and DataFrame surfaces serialize identically") {
    reqs.foreach { req =>
      val r = extractTimeseries(spark, sfDir, req, serving = true)
      val viaLocal = ResponseJson.toJson(req, r)
      val viaFrames = ResponseJson.toJson(req, collected(r))
      assert(viaLocal === viaFrames, s"JSON drift for $req")
    }
    // v1 route too (Point only - the v1 contract)
    val v1req = TimeseriesRequest(datasetId = "click",
      selectedArea = PointArea(23), bandRange = (1, 30))
    val geom = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("""{"type":"Point","coordinates":[3.5,2.5]}""")
    val r = extractTimeseries(spark, sfDir, v1req, serving = true)
    assert(ResponseJson.toV1Json(v1req, geom, r) ===
      ResponseJson.toV1Json(v1req, geom, collected(r)))
  }

  test("bandStartStringJvm matches the column form on every resolution") {
    import org.apache.spark.sql.functions._
    val rs = Seq(EventCube.Daily, EventCube.Hourly,
      EventCube.Monthly, EventCube.Yearly)
    val bands = spark.range(1, 200).select(col("id").as("band"))
    rs.foreach { r =>
      val fromCol = bands
        .select(col("band"), EventCube.bandStartString(r, col("band")).as("s"))
        .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
      (1L until 200L).foreach { b =>
        assert(EventCube.bandStartStringJvm(r, b) === fromCol(b),
          s"resolution ${r.name} band $b")
      }
    }
  }
}
