package graft.api

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.{ArrayBuffer, LongMap}

import org.apache.spark.sql.SparkSession

import graft.cube.EventCube
import graft.pipeline.ArtifactCache

/** The serving path's zonal lookup: a driver-side index of the serving
  * cube, read on the caller's own thread, so a warm serving request
  * runs no Spark job at all — the reference's shape (one in-process
  * raster window read + NumPy series math), with the window read
  * served from memory.
  *
  *  - The index: one per (session, dir, variable) and events
  *    fingerprint ([[graft.Tables.fingerprint]], read on every lookup:
  *    a rewritten or appended events file is served on the next
  *    request, from a rebuilt index). It is
  *    [[EventCube.servingCubes]] (every dataset at every resolution of
  *    the variable, persisted, one events scan + one shuffle) collected
  *    into (dataset, resolution, cell) → band-sorted values, a null
  *    cell value kept distinct from NaN. Its size is the raster
  *    geometry's (datasets × resolutions × cells × bands), never the
  *    event log's. It lives in [[ArtifactCache]], so concurrent first
  *    callers share one build, a failed build is not memoized (the
  *    next caller, or a caller already waiting on it, builds afresh),
  *    and `ArtifactCache.clear()` drops it with the cube.
  *  - A lookup: the request's selected cells are read from the index
  *    over its band window and reduced per band with
  *    [[Api.ServingMath]]'s mean or median — the same null-skipping
  *    `avg`/`percentile` semantics as the batch path, so a band whose
  *    selected cells are all null yields a null zonal value. The
  *    request's transforms, smoothers and stats then stay driver-side
  *    in [[Api.extractTimeseries]].
  *
  * Scale: a lookup's driver work is bounded by its selection, which is
  * MaxCells-bounded upstream; no state is held between lookups.
  */
private[graft] object ServingCoalescer {

  /** One zonal series: (band, value) sorted by band, None where the
    * aggregate is null — ServingMath's Ser element shape. */
  type Ser = IndexedSeq[(Long, Option[Double])]

  // lookups answered: each adds 1 to both (one lookup = one request)
  private[graft] val batchesRun = new AtomicLong(0L)
  private[graft] val requestsServed = new AtomicLong(0L)

  /** One (dataset, resolution, cell)'s band-sorted values: band
    * `bands(i)` holds `v(i)`, or null where `isNull(i)` — a band whose
    * events all lack the variable is present but null, not NaN. */
  private final class CellSeries(val bands: Array[Long],
      val v: Array[Double], val isNull: Array[Boolean])

  private type Index = Map[(String, String, Long), CellSeries]

  /** The serving index of (session, dir, variable) for the events
    * files as they are now, built on first use from the persisted
    * [[EventCube.servingCubes]] frame. */
  private def indexOf(spark: SparkSession, dir: String,
      variable: String): Index =
    ArtifactCache.memo(spark, s"serveindex:$variable:$dir",
        graft.Tables.fingerprint(spark, dir, "events")) {
      EventCube.servingCubes(spark, dir, variable)
        .select("dataset", "resolution", "user_id", "band", "v")
        .collect()
        .groupBy(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .map { case (k, rows) =>
          val rs = rows.sortBy(_.getLong(3))
          k -> new CellSeries(rs.map(_.getLong(3)),
            rs.map(r => if (r.isNullAt(4)) 0.0 else r.getDouble(4)),
            rs.map(_.isNullAt(4)))
        }
    }

  /** One zonal series: every band of [lo, hi] that some selected cell
    * holds, with the statistic over the band's non-null values (None
    * when all are null). */
  private def answer(index: Index, dataset: String,
      resolution: EventCube.Resolution, cells: Seq[Long], lo: Int, hi: Int,
      stat: Seq[Double] => Option[Double]): Ser = {
    val byBand = LongMap.empty[ArrayBuffer[Double]]
    cells.foreach { cell =>
      index.get((dataset, resolution.name, cell)).foreach { s =>
        val at = java.util.Arrays.binarySearch(s.bands, lo.toLong)
        var i = if (at >= 0) at else -at - 1
        while (i < s.bands.length && s.bands(i) <= hi) {
          val vs = byBand.getOrElseUpdate(s.bands(i), ArrayBuffer.empty)
          if (!s.isNull(i)) vs += s.v(i)
          i += 1
        }
      }
    }
    byBand.toIndexedSeq.sortBy(_._1).map { case (b, vs) => (b, stat(vs.toSeq)) }
  }

  /** The zonal series of `cells` over bands [lo, hi], on the caller's
    * thread. The first lookup of a (session, dir, variable) and events
    * fingerprint builds the index, running Spark jobs in the caller's
    * job group; a failure is this request's exception (→ 500). */
  def zonal(spark: SparkSession, dir: String, dataset: String,
      resolution: EventCube.Resolution, variable: String,
      cells: Seq[Long], lo: Int, hi: Int, stat: String): Ser = {
    val reduce: Seq[Double] => Option[Double] = stat match {
      case "mean" => Api.ServingMath.mean
      case "median" => Api.ServingMath.median
      case other => throw new IllegalArgumentException(
        s"unsupported zonal statistic: $other (mean|median)")
    }
    val ser = answer(indexOf(spark, dir, variable), dataset, resolution,
      cells, lo, hi, reduce)
    batchesRun.incrementAndGet()
    requestsServed.incrementAndGet()
    ser
  }
}
