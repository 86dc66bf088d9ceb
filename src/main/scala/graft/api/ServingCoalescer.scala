package graft.api

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.{ArrayBuffer, LongMap}
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

import graft.cube.EventCube
import graft.pipeline.ArtifactCache

/** Micro-batching front end for the serving fast path: concurrent
  * HTTP requests enqueue their zonal-series need and a session pump
  * answers them in chunks from a driver-side index of the serving
  * cube, so a warm serving request runs no Spark job at all — the
  * reference's shape (one in-process raster window read + NumPy series
  * math), with the window read served from memory.
  *
  *  - The index: one per (session, dir, variable), built once. It is
  *    [[EventCube.servingCubes]] (every dataset at every resolution of
  *    the variable, persisted, one events scan + one shuffle) collected
  *    into (dataset, resolution, cell) → band-sorted values, a null
  *    cell value kept distinct from NaN. Its size is the raster
  *    geometry's (datasets × resolutions × cells × bands), never the
  *    event log's. It lives in [[ArtifactCache]], so
  *    `ArtifactCache.clear()` drops it with the cube.
  *  - The front end: handler threads enqueue (serving key, enumerated
  *    cells, band window, statistic) into their SESSION's lane and
  *    block on a promise; whoever enqueues into an idle lane claims it
  *    and submits a pump task, which drains the lane in chunks bounded
  *    by [[MaxBatch]] requests, [[Api.BatchDriverCellLimit]] cells and
  *    [[MaxChunkWeight]] cells × bands.
  *  - A chunk is driver lookups: each pending's selected cells are read
  *    from the index over its band window and reduced per band with
  *    [[Api.ServingMath]]'s mean or median — the same null-skipping
  *    `avg`/`percentile` semantics as the batch path, so a band whose
  *    selected cells are all null yields a null zonal value. The
  *    request's transforms, smoothers and stats then stay driver-side
  *    in [[Api.extractTimeseries]], untouched.
  *
  * Failure semantics: a chunk is grouped by (dir, variable); a group
  * whose index cannot be built (an unknown variable, an unreadable
  * dir) or answered fails only its own pendings, and the other groups
  * of the chunk are served. A failed build is not memoized, so the
  * next chunk for that group retries it. A fatal error settles every
  * pending of the chunk, releases the lane and resubmits it if work
  * remains, so queued requests are never stranded behind a dead
  * thread.
  *
  * Scale: a chunk's driver work is bounded by the chunk bounds above,
  * each selection is MaxCells-bounded upstream, the lane map is
  * bounded by live SESSIONS, and no thread holds state between chunks.
  */
private[graft] object ServingCoalescer {

  /** One zonal series: (band, value) sorted by band, None where the
    * aggregate is null — ServingMath's Ser element shape. */
  type Ser = IndexedSeq[(Long, Option[Double])]

  private final case class Key(dir: String, dataset: String,
      resolution: EventCube.Resolution, variable: String)

  private final case class Pending(key: Key, cells: Seq[Long],
      lo: Int, hi: Int, stat: String, promise: Promise[Ser])

  private val MaxBatch = 256

  /** Chunk budget in index reads (Σ cells × bands): a bound on one
    * chunk's DRIVER work, so an hourly selection (~24× a daily one's
    * bands) closes its chunk near the same cost as a lane of daily
    * ones. Sized so the protocol's daily workloads still drain in one
    * MaxBatch chunk (256 requests × ~135 weight ≈ 35k). A chunk always
    * takes at least one pending, so an oversized single selection
    * still runs (MaxCells-bounded upstream). */
  private[graft] val MaxChunkWeight = 90000L

  private def weightOf(p: Pending): Long =
    p.cells.length.toLong * math.max(1, p.hi - p.lo + 1)

  // spec-visible counters: micro-batches executed / requests served
  private[graft] val batchesRun = new AtomicLong(0L)
  private[graft] val requestsServed = new AtomicLong(0L)

  /** One session's pending queue + pump ownership flag. `busy` is
    * held by exactly one pump task at a time; the enqueue/exit
    * handshake (add-then-CAS on enqueue, recheck-after-release on exit)
    * makes a lost wakeup impossible: whichever side observes the
    * non-empty queue with the flag free claims the pump. */
  private final class Lane {
    val q = new ConcurrentLinkedQueue[Pending]()
    val busy = new AtomicBoolean(false)
  }

  /** Session → lane, weak-keyed so a churned-and-dropped SparkSession's
    * lane dies with it instead of pinning the session forever — the
    * serving front end is the longest-lived object in a deployment.
    * Not in ArtifactCache: a lane is a live request queue, not derived
    * state, and `ArtifactCache.clear()` must never drop one. */
  private val lanes = new java.util.WeakHashMap[SparkSession, Lane]()

  private def laneOf(spark: SparkSession): Lane =
    lanes.synchronized {
      Option(lanes.get(spark)).getOrElse {
        val l = new Lane; lanes.put(spark, l); l
      }
    }

  /** Pump pool: one task per actively-draining session lane, shared
    * across sessions. */
  private val PumpPar = 4
  private lazy val pumpPool = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    java.util.concurrent.Executors.newFixedThreadPool(PumpPar, r => {
      val t = new Thread(r, s"graft-serving-pump-${n.getAndIncrement()}")
      t.setDaemon(true)
      t
    })
  }

  /** Blocking request: enumerate-side inputs in, zonal series out.
    * Called from HTTP handler threads; a failure of this request's
    * group surfaces here as its exception (→ the 500 envelope). */
  def zonal(spark: SparkSession, dir: String, dataset: String,
      resolution: EventCube.Resolution, variable: String,
      cells: Seq[Long], lo: Int, hi: Int, stat: String): Ser = {
    val lane = laneOf(spark)
    val p = Pending(Key(dir, dataset, resolution, variable),
      cells, lo, hi, stat, Promise[Ser]())
    lane.q.add(p)
    if (lane.busy.compareAndSet(false, true))
      pumpPool.submit(new Runnable { def run(): Unit = pump(spark, lane) })
    // the HTTP layer owns the request's real processing-time budget;
    // this bound only prevents an unkillable hang if the pool dies
    Await.result(p.promise.future, 15.minutes)
  }

  /** Drains `lane` in MaxBatch/cell-limit chunks until it is empty,
    * then releases ownership. Runs on a pump-pool thread holding
    * lane.busy. Every Pending polled off the queue is settled by
    * [[runChunk]]; pendings still queued when a fatal escapes stay
    * queued, and the catch below hands the lane to a fresh pump before
    * rethrowing. */
  private def pump(spark: SparkSession, lane: Lane): Unit = {
    try {
      while (true) {
        val chunk = ArrayBuffer.empty[Pending]
        var cellsInChunk = 0L
        var weightInChunk = 0L
        var next = lane.q.peek()
        // a chunk always takes at least one pending (an oversized
        // single selection is MaxCells-bounded upstream), and closes
        // before exceeding the driver-side cell budget, the cells×bands
        // weight budget, or MaxBatch
        while (next != null && chunk.size < MaxBatch &&
            (chunk.isEmpty ||
              (cellsInChunk + next.cells.length <= Api.BatchDriverCellLimit &&
                weightInChunk + weightOf(next) <= MaxChunkWeight))) {
          lane.q.poll()
          chunk += next
          cellsInChunk += next.cells.length
          weightInChunk += weightOf(next)
          next = lane.q.peek()
        }
        if (chunk.nonEmpty) runChunk(spark, chunk.toSeq)
        else {
          lane.busy.set(false)
          // exit handshake: a producer may have enqueued between the
          // empty peek and the release — reclaim and keep pumping, or
          // leave the pump to whichever producer's CAS won
          if (lane.q.isEmpty || !lane.busy.compareAndSet(false, true))
            return
        }
      }
    } catch {
      case t: Throwable =>
        // fatal escaping runChunk (NonFatal is handled there after
        // failing its own chunk's promises): release the lane and, if
        // work remains, resubmit its pump so queued requests are not
        // stranded; then let the pool thread see the fatal
        lane.busy.set(false)
        if (!lane.q.isEmpty && lane.busy.compareAndSet(false, true))
          pumpPool.submit(new Runnable { def run(): Unit = pump(spark, lane) })
        throw t
    }
  }

  /** One (dataset, resolution, cell)'s band-sorted values: band
    * `bands(i)` holds `v(i)`, or null where `isNull(i)` — a band whose
    * events all lack the variable is present but null, not NaN. */
  private final class CellSeries(val bands: Array[Long],
      val v: Array[Double], val isNull: Array[Boolean])

  private type Index = Map[(String, String, Long), CellSeries]

  /** The serving index of (session, dir, variable), built on first use
    * from the persisted [[EventCube.servingCubes]] frame. */
  private def indexOf(spark: SparkSession, dir: String,
      variable: String): Index =
    ArtifactCache.memo(spark, s"serveindex:$variable:$dir") {
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

  /** One pending's zonal series: every band of [lo, hi] that some
    * selected cell holds, with the statistic over the band's non-null
    * values (None when all are null). */
  private def answer(index: Index, p: Pending): Ser = {
    val stat: Seq[Double] => Option[Double] = p.stat match {
      case "mean" => Api.ServingMath.mean
      case "median" => Api.ServingMath.median
      case other => throw new IllegalArgumentException(
        s"unsupported zonal statistic: $other (mean|median)")
    }
    val byBand = LongMap.empty[ArrayBuffer[Double]]
    p.cells.foreach { cell =>
      index.get((p.key.dataset, p.key.resolution.name, cell)).foreach { s =>
        val at = java.util.Arrays.binarySearch(s.bands, p.lo.toLong)
        var i = if (at >= 0) at else -at - 1
        while (i < s.bands.length && s.bands(i) <= p.hi) {
          val vs = byBand.getOrElseUpdate(s.bands(i), ArrayBuffer.empty)
          if (!s.isNull(i)) vs += s.v(i)
          i += 1
        }
      }
    }
    byBand.toIndexedSeq.sortBy(_._1).map { case (b, vs) => (b, stat(vs.toSeq)) }
  }

  private def runChunk(spark: SparkSession, all: Seq[Pending]): Unit = {
    // an index build (a group's first chunk) runs a job: same FAIR
    // pool as the HTTP handlers this work arrives from
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft_http")
    var served = 0L
    all.groupBy(p => (p.key.dir, p.key.variable)).foreach {
      case ((dir, variable), ps) =>
        try {
          val index = indexOf(spark, dir, variable)
          val answers = ps.map(answer(index, _))
          ps.zip(answers).foreach { case (p, ser) => p.promise.trySuccess(ser) }
          served += ps.size
        } catch {
          case t: Throwable =>
            ps.foreach(_.promise.tryFailure(t))
            t match {
              case scala.util.control.NonFatal(_) => ()
              case fatal =>
                // every pending of this chunk is already off the queue —
                // settle ALL of them before the lane dies, otherwise the
                // other groups' handlers block out their full Await
                all.foreach(_.promise.tryFailure(fatal))
                throw fatal
            }
        }
    }
    if (served > 0) {
      batchesRun.incrementAndGet()
      requestsServed.addAndGet(served)
    }
  }
}
