package graft.api

import graft.SparkSpec
import Api._

/** One area validator serves every path: each invalid selected area
  * raises the same typed error on the batch (`serving = false`) and the
  * served (`serving = true`) per-request path and on the batch
  * multi-selection path, before any job runs. */
class AreaValidationSpec extends SparkSpec {

  private val bowtie = PolygonArea(Seq((0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0)))
  private val tri = PolygonArea(Seq((0.2, 0.2), (3.8, 0.2), (2.0, 1.8)))

  private val invalid: Seq[(String, SelectedArea, Class[_ <: Throwable])] = Seq(
    ("out-of-grid point", PointArea(-1L), classOf[SelectedAreaOutOfBoundsError]),
    ("off-grid bbox", BBoxArea(50, 60, 0, 5), classOf[SelectedAreaOutOfBoundsError]),
    ("oversize bbox", BBoxArea(0, 9, 0, 100000), classOf[SelectedAreaTooLargeError]),
    ("self-intersecting polygon", bowtie,
      classOf[SelectedAreaPolygonIsNotValidError]),
    ("polygon outside the grid",
      PolygonArea(Seq((20.0, 20.0), (25.0, 20.0), (22.0, 24.0))),
      classOf[SelectedAreaOutOfBoundsError]),
    ("collection with one bad member", FeatureCollectionArea(Seq(tri, bowtie)),
      classOf[SelectedAreaPolygonIsNotValidError]))

  private def raised(f: => Any): Class[_] =
    try { f; classOf[Nothing] } catch { case e: Throwable => e.getClass }

  test("every invalid area raises one typed error on all three paths") {
    invalid.foreach { case (name, area, err) =>
      val req = TimeseriesRequest(datasetId = "click", selectedArea = area,
        bandRange = (5, 25))
      Seq(
        "serving = false" -> (() => extractTimeseries(spark, sfDir, req)),
        "serving = true" ->
          (() => extractTimeseries(spark, sfDir, req, serving = true)),
        "batch" -> (() => extractTimeseriesBatch(spark, sfDir, "click",
          Seq(BatchSelection("ok", tri), BatchSelection("bad", area)),
          bandRange = (5, 25)))
      ).foreach { case (path, run) =>
        assert(raised(run()) === err, s"$name on $path")
      }
    }
  }
}
