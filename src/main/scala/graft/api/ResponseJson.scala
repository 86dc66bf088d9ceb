package graft.api

import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import Api._

/** JSON response serialization — the inverse of [[RequestJson]]: a
  * [[TimeseriesResult]] rendered as the reference's response body
  * (timeseries/app/schemas/timeseries.py TimeseriesResponse /
  * services.py to_timeseries_response_dict), so a skope-api client that
  * sends its request body unchanged can read the reply unchanged too:
  *
  * {{{
  * { "dataset_id": …, "variable_id": …, "area": …, "n_cells": …,
  *   "summary_stats": [{"name", "mean", "median", "stdev"}, …],
  *   "series": [{"options": {"name", "smoother"},
  *               "time_range": {"gte", "lte"},
  *               "values": [v | null, …]}, …],
  *   "transform": {"type", …}, "zonal_statistic": "mean" | "median" }
  * }}}
  *
  * Contract points mirrored from the reference model:
  *  - `series[].values` is the DENSE band axis over the series'
  *    time_range (Series.values, timeseries.py:238-241): a band with no
  *    value (sparse data, or NaN from a zero-σ z-score window) is
  *    `null`, exactly like the reference's nan→None conversion; a
  *    series the window guard emptied serializes `[]`.
  *  - summary stats are nan→null per field (Series.summary_stat,
  *    timeseries.py:243-254).
  *  - `transform` / `zonal_statistic` echo the request
  *    (services.py:73-74); the fixed-interval transform's range field
  *    uses this wire format's `band_range` spelling, matching what
  *    [[RequestJson]] parses.
  *
  * Serialization reads only `result.local`, the driver rows: a served
  * result already is rows, and a batch result collects its frames into
  * them — the API response boundary (the reference returns the full
  * series in the HTTP body); by then the zonal reduction has shrunk
  * the frames to ~#bands rows.
  */
object ResponseJson {

  private val mapper = new ObjectMapper()

  /** JSON string literal with Jackson's escaping (quote, backslash and
    * every control char — the spelling of every 200 body); null is the
    * empty string. The one escaper of error bodies and the harness's
    * JSON lines. */
  def quote(s: String): String = "\"" + new String(JsonStringEncoder
    .getInstance.quoteAsString(Option(s).getOrElse(""))) + "\""

  private def putOpt(n: ObjectNode, name: String, v: Option[Double]): Unit =
    v match {
      case Some(d) => n.put(name, d); ()
      case None => n.putNull(name); ()
    }

  /** Fill `arr` with the dense band axis over [blo, bhi]: a band with
    * no value (sparse data or NaN) is JSON null; blo > bhi (a window-
    * guard-emptied series) leaves it empty — the Series.values contract
    * (timeseries.py:238-241), shared by the v2 and v1 bodies. */
  private def denseValues(arr: ArrayNode,
      byBand: Map[Long, Option[Double]], blo: Long, bhi: Long): Unit =
    (blo to bhi).foreach { b =>
      byBand.getOrElse(b, None) match {
        case Some(v) => arr.add(v); ()
        case None => arr.addNull(); ()
      }
    }

  private def smootherNode(s: Smoother): ObjectNode = {
    val n = mapper.createObjectNode()
    s match {
      case NoSmoother => n.put("type", "NoSmoother")
      case MovingAverageSmoother(centered, width) =>
        n.put("type", "MovingAverageSmoother")
        n.put("method", if (centered) "centered" else "trailing")
        n.put("width", width)
    }
    n
  }

  private def transformNode(t: Transform): ObjectNode = {
    val n = mapper.createObjectNode()
    t match {
      case NoTransform => n.put("type", "NoTransform")
      case ZScoreMovingInterval(width) =>
        n.put("type", "ZScoreMovingInterval")
        n.put("width", width)
      case ZScoreFixedInterval(br) =>
        n.put("type", "ZScoreFixedInterval")
        br match {
          case Some((lo, hi)) =>
            val arr = n.putArray("band_range")
            arr.add(lo); arr.add(hi)
          case None => n.putNull("band_range")
        }
    }
    n
  }

  /** Serialize an extraction result against the request that produced
    * it (the reference builds the response from both the extraction and
    * the request object, services.py:68-77). `req.requestedSeriesOptions`
    * fixes the series order and supplies each series' `options` block. */
  def toJson(req: TimeseriesRequest, result: TimeseriesResult): String =
    mapper.writeValueAsString(tree(req, result))

  /** NaN → None, like the reference's nan→None conversion. */
  private def noNaN(v: Option[Double]): Option[Double] = v.filterNot(_.isNaN)

  private[api] def tree(req: TimeseriesRequest,
      result: TimeseriesResult): ObjectNode = {
    val root = mapper.createObjectNode()
    val l = result.local
    root.put("dataset_id", result.datasetId)
    root.put("variable_id", result.variableId)
    root.put("area", l.area)
    root.put("n_cells", l.nCells)

    // (band → value) per series; absent and NaN both → None
    val valuesBySeries: Map[String, Map[Long, Option[Double]]] =
      l.series.groupBy(_._1).map { case (name, rs) =>
        name -> rs.map(r => r._2 -> noNaN(r._3)).toMap
      }
    val ranges: Map[String, (String, String, Long, Long)] =
      l.timeRange.map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val stats: Map[String, (Option[Double], Option[Double], Option[Double])] =
      l.summaryStats.map(r =>
        r._1 -> (noNaN(r._2), noNaN(r._3), noNaN(r._4))).toMap

    // summary stats in request-series order, then the reference's extra
    // "Original" row when a transform added one (timeseries.py:460-469);
    // a series with no stats row (emptied by the window guard) still
    // reports its name with null fields, like nanmean over [] → None
    val statNames = req.requestedSeriesOptions.map(_.name) ++
      (if (stats.contains("Original")) Seq("Original") else Nil)
    val statsArr = root.putArray("summary_stats")
    statNames.foreach { name =>
      val n = statsArr.addObject()
      n.put("name", name)
      val (mean, median, stdev) =
        stats.getOrElse(name, (None, None, None))
      putOpt(n, "mean", mean)
      putOpt(n, "median", median)
      putOpt(n, "stdev", stdev)
    }

    val seriesArr = root.putArray("series")
    req.requestedSeriesOptions.foreach { so =>
      val n = seriesArr.addObject()
      val opts = n.putObject("options")
      opts.put("name", so.name)
      opts.set[ObjectNode]("smoother", smootherNode(so.smoother))
      val (gte, lte, blo, bhi) = ranges(so.name)
      val tr = n.putObject("time_range")
      tr.put("gte", gte)
      tr.put("lte", lte)
      denseValues(n.putArray("values"),
        valuesBySeries.getOrElse(so.name, Map.empty), blo, bhi)
    }

    root.set[ObjectNode]("transform", transformNode(result.transform))
    root.put("zonal_statistic", result.zonalStatistic.name)
    root
  }

  /** v1 endpoint response (routers/v1/api.py:20-29): the v1 request's
    * identifying fields echoed (camelCase, with the GeoJSON boundary
    * verbatim), start/end as the normalized time range, and the first
    * series' dense values — v1 requests default to NoSmoother /
    * NoTransform, so the series' own time_range IS the normalized
    * request range the reference echoes. */
  def toV1Json(req: TimeseriesRequest,
      boundaryGeometry: com.fasterxml.jackson.databind.JsonNode,
      result: TimeseriesResult): String = {
    val root = mapper.createObjectNode()
    root.put("datasetId", result.datasetId)
    root.put("variableName", result.variableId)
    root.set[ObjectNode]("boundaryGeometry",
      boundaryGeometry.deepCopy[com.fasterxml.jackson.databind.JsonNode]())
    val first = req.requestedSeriesOptions.head.name
    val l = result.local
    val (gte, lte, blo, bhi) = l.timeRange.find(_._1 == first)
      .map(r => (r._2, r._3, r._4, r._5))
      .getOrElse(throw new IllegalStateException(s"series $first missing"))
    root.put("start", gte)
    root.put("end", lte)
    val byBand = l.series.filter(_._1 == first)
      .map(r => r._2 -> noNaN(r._3)).toMap
    denseValues(root.putArray("values"), byBand, blo, bhi)
    mapper.writeValueAsString(root)
  }
}
