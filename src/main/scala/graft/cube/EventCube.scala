package graft.cube

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's datacube, re-expressed as a long-format DataFrame.
  *
  * In openskope/skope-api a dataset is a multi-band GeoTIFF: band = one
  * time step (year/month resolution), cell = (row, col) pixel
  * (reference: timeseries/app/schemas/dataset.py:49-88 for time↔band,
  * timeseries/app/schemas/geometry.py for cell selection). Here the
  * driver's `events` table plays the cube role:
  *
  *   dataset  = event_type            (5 "datasets", variable = value)
  *   band     = day index of ts, 1-based from 2024-01-01 (resolution=day)
  *   cell     = user_id, laid out on a grid x = user_id % 10,
  *              y = user_id / 10
  *   cell value = avg(value) of the cell's events in that band
  *
  * Scale design (100 TB): the cube build is the ingestion step — one
  * shuffle on (dataset, band, cell). In production the cube is
  * materialized once as parquet partitioned by dataset and sorted by
  * band, so every query below becomes a partition-pruned scan +
  * min/max-pruned band range; the per-query plans here only ever
  * aggregate *after* filtering dataset + geometry + band range, all of
  * which push down to the scan.
  */
object EventCube {

  /** Grid width for the synthetic cell layout. */
  val GridWidth = 10

  /** Band 1 corresponds to this date (the cube's time origin). */
  val Origin = "2024-01-01"

  /** Time resolution of the band axis — the reference's Resolution enum
    * (common.py:21-23, month|year) generalized to this corpus's span:
    * band index is 1-based from Origin at the given granularity
    * (dataset.py:64-72's relativedelta arithmetic, re-expressed as a
    * codegen'd column). */
  sealed abstract class Resolution(val name: String) {
    /** 1-based band index of a timestamp column. */
    def band(ts: Column): Column
  }
  /** Origin as UTC epoch seconds — a DRIVER-SIDE constant, so the band
    * expressions below are pure epoch arithmetic, independent of
    * `spark.sql.session.timeZone`. (The tz-sensitive forms —
    * to_date(ts), lit(Origin).cast — resolve the origin in the session
    * zone while bandRangeNanos prunes the scan in UTC: on a non-UTC
    * session the prune window and the band filter would disagree and
    * silently clip in-range events. The cube's calendar contract IS
    * UTC; this makes the core indexing honor it on any session.) */
  val OriginEpochSec: Long = java.time.LocalDate.parse(Origin)
    .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond

  /** Band → band-start date/time string at a resolution — the column
    * form of translate_band_range (dataset.py:74-88, generalized to the
    * two sub-month granularities this cube adds). Used for the
    * response's per-series time_range and band→date columns. */
  def bandStartString(r: Resolution, band: Column): Column = r match {
    case Daily => date_format(
      date_add(lit(Origin).cast("date"), (band - 1).cast("int")), "yyyy-MM-dd")
    case Monthly => date_format(Monthly.bandStart(band), "yyyy-MM-dd")
    case Yearly => date_format(Yearly.bandStart(band), "yyyy-MM-dd")
    case Hourly =>
      // pure date+integer arithmetic (no timestamp rendering), so the
      // string is the UTC wall-clock on any session time zone
      concat(
        date_format(date_add(lit(Origin).cast("date"),
          floor((band - 1) / 24).cast("int")), "yyyy-MM-dd"),
        lit(" "),
        lpad(pmod(band - 1, lit(24)).cast("string"), 2, "0"),
        lit(":00"))
  }

  /** Driver-side scalar twin of [[bandStartString]] — the serving fast
    * path renders response time_range strings without a plan. Clamping
    * parity: java.time's plusMonths clamps month-end exactly like
    * Spark's add_months, and floorDiv/floorMod match SQL floor((b−1)/24)
    * / pmod on negative bands (differentially pinned in
    * ServingCacheSpec across resolutions). */
  def bandStartStringJvm(r: Resolution, band: Long): String = {
    val origin = java.time.LocalDate.parse(Origin)
    r match {
      case Daily => origin.plusDays(band - 1).toString
      case Monthly => origin.plusMonths(band - 1).toString
      case Yearly => origin.plusMonths((band - 1) * 12).toString
      case Hourly =>
        val day = origin.plusDays(Math.floorDiv(band - 1, 24L)).toString
        f"$day ${Math.floorMod(band - 1, 24L)}%02d:00"
    }
  }

  case object Daily extends Resolution("day") {
    def band(ts: Column): Column =
      (floor((unix_seconds(ts) - OriginEpochSec) / 86400L) + 1).cast("long")
  }
  case object Hourly extends Resolution("hour") {
    def band(ts: Column): Column =
      (floor((unix_seconds(ts) - OriginEpochSec) / 3600L) + 1).cast("long")
  }
  case object Monthly extends Resolution("month") {
    /** relativedelta month arithmetic (dataset.py:64-72): band = whole
      * months elapsed since the dataset origin + 1 — over the UTC
      * calendar (convert_timezone to UTC wall-clock; origin
      * year/month/day are driver-side constants), so the band is
      * session-timezone-independent like Daily/Hourly. relativedelta
      * counts WHOLE months with month-end clamping (the month ticks at
      * day min(origin.day, days-in-month) — from a Jan 31 origin,
      * Feb 29 opens month 2), hence the clamped-day guard; for the
      * common day-1 origin the guard never fires and the arithmetic is
      * the plain year·12+month difference. Differentially validated
      * against dateutil.relativedelta on 400 random (date, origin)
      * pairs. */
    def band(ts: Column): Column = {
      val o = java.time.LocalDate.parse(Origin)
      val u = convert_timezone(lit("UTC"), ts)
      val clamped = least(lit(o.getDayOfMonth), dayofmonth(last_day(u)))
      ((year(u) - o.getYear) * 12 + (month(u) - o.getMonthValue)
        - when(dayofmonth(u) < clamped, 1).otherwise(0) + 1).cast("long")
    }
    /** translate_band_range (dataset.py:74-79): band → first day of its
      * calendar month. */
    def bandStart(band: Column): Column =
      add_months(lit(Origin).cast("date"), (band - 1).cast("int"))
  }

  case object Yearly extends Resolution("year") {
    /** The reference's PRIMARY resolution (metadata.yml
      * `timespan.resolution: year`; dataset.py:69-71's `else` branch):
      * band = relativedelta(ts, origin).years + 1 — the number of WHOLE
      * years elapsed since the dataset origin, so a mid-year origin
      * does not tick the band over at the calendar new year but at its
      * own anniversary. Like the month arithmetic, relativedelta clamps
      * the anniversary day to the target month's length: from a Feb 29
      * origin, Feb 28 of a non-leap year IS the anniversary (origin +
      * 1 year = Feb 28 in dateutil), hence the clamped-day guard.
      * Differentially validated against dateutil.relativedelta on
      * random vectors plus targeted leap-day anniversaries. Over the
      * UTC calendar like Daily/Hourly/Monthly. */
    def band(ts: Column): Column = {
      val o = java.time.LocalDate.parse(Origin)
      val u = convert_timezone(lit("UTC"), ts)
      val clamped = least(lit(o.getDayOfMonth), dayofmonth(last_day(u)))
      val beforeAnniversary =
        (month(u) < o.getMonthValue) ||
          (month(u) === o.getMonthValue && dayofmonth(u) < clamped)
      ((year(u) - o.getYear) - when(beforeAnniversary, 1).otherwise(0) + 1)
        .cast("long")
    }
    /** translate_band_range (dataset.py:79-84 year branch): band →
      * origin + (band − 1) years. */
    def bandStart(band: Column): Column =
      add_months(lit(Origin).cast("date"), ((band - 1) * 12).cast("int"))
  }

  /** Driver-side month-band arithmetic for request parsing — the exact
    * find_band_range month branch (dataset.py:66-68), incl. year
    * crossings and mid-month origins (whole months, month-end clamped —
    * see Monthly.band; 400-vector differential against
    * dateutil.relativedelta). */
  def monthBandOf(date: java.time.LocalDate, origin: java.time.LocalDate): Int = {
    val raw = (date.getYear - origin.getYear) * 12 +
      (date.getMonthValue - origin.getMonthValue)
    val clampedDay = math.min(origin.getDayOfMonth, date.lengthOfMonth)
    raw - (if (date.getDayOfMonth < clampedDay) 1 else 0) + 1
  }

  /** Driver-side year-band arithmetic — find_band_range's year branch
    * (dataset.py:69-71): relativedelta(date, origin).years + 1, with
    * the anniversary day clamped to the target month's length (from a
    * Feb 29 origin, Feb 28 of a non-leap year IS the anniversary:
    * origin + 1 year = Feb 28 in dateutil — equivalent to
    * ChronoUnit.YEARS.between, kept explicit to mirror the month
    * guard). */
  def yearBandOf(date: java.time.LocalDate, origin: java.time.LocalDate): Int = {
    val clampedDay =
      if (date.getMonthValue == origin.getMonthValue)
        math.min(origin.getDayOfMonth, date.lengthOfMonth)
      else origin.getDayOfMonth
    val beforeAnniversary = date.getMonthValue < origin.getMonthValue ||
      (date.getMonthValue == origin.getMonthValue &&
        date.getDayOfMonth < clampedDay)
    (date.getYear - origin.getYear) - (if (beforeAnniversary) 1 else 0) + 1
  }

  /** Rectangular cell selection — the analogue of the reference's
    * polygon mask (geometry.py:174-209, all_touched raster mask).
    */
  final case class BBox(x0: Int, x1: Int, y0: Int, y1: Int) {
    def contains(x: Column, y: Column): Column =
      x.between(x0, x1) && y.between(y0, y1)
  }

  /** The default selections used by the §2 query inventory. */
  val DefaultBBox: BBox = BBox(2, 7, 0, 7)
  val DefaultDataset = "click"
  val PointCell = 12L

  /** Per-variable cell value column (dataset.py:104-122
    * get_variable_metadata: one raster per (dataset, variable)). The
    * raw `value` is the primary variable; `k` is the props-derived
    * second raster (the *_uncertainty analogue), null where props has
    * no "k" — a try_cast, because an ANSI cast of the empty match
    * fails the whole query instead. */
  def variableCol(variable: String): Column = variable match {
    case "value" => col("value")
    case "k" =>
      regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).try_cast("long").cast("double")
    case other => throw new IllegalArgumentException(
      s"unknown variable: $other (value|k)")
  }

  /** Epoch-nanosecond [start, end) window of a 1-based band range at a
    * resolution — band arithmetic translated back to physical time at
    * plan-build time (the inverse of Resolution.band), so a band clip
    * can prune the events scan itself (Tables.eventsRange). Bounds
    * below band 1 simply extend before the origin (no data there). */
  def bandRangeNanos(resolution: Resolution, lo: Int, hi: Int): (Long, Long) = {
    val o = java.time.LocalDate.parse(Origin).atStartOfDay()
    def ns(t: java.time.LocalDateTime): Long =
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    resolution match {
      case Daily => (ns(o.plusDays(lo - 1L)), ns(o.plusDays(hi.toLong)))
      case Hourly => (ns(o.plusHours(lo - 1L)), ns(o.plusHours(hi.toLong)))
      case Monthly =>
        // month bands tick at the CLAMPED anniversary (whole-month
        // relativedelta semantics, Monthly.band) and java plusMonths
        // clamps identically (Jan 31 + 1 month = Feb 29), so the plain
        // plusMonths bound is exact at any origin day
        (ns(o.plusMonths(lo - 1L)), ns(o.plusMonths(hi.toLong)))
      case Yearly =>
        // year bands tick at the CLAMPED anniversary (whole-year
        // relativedelta semantics, Yearly.band) and java plusYears
        // clamps identically (Feb 29 + 1 year = Feb 28), so the plain
        // plusYears bound is exact at any origin day
        (ns(o.plusYears(lo - 1L)), ns(o.plusYears(hi.toLong)))
    }
  }

  /** Long-format cube for one (dataset, variable): (band, user_id, x,
    * y, v). Cell value = avg of the cell's raw events in the band,
    * mirroring one pixel holding one value per band in the reference
    * raster. `bandRange` (inclusive, 1-based, pre-widened by the caller
    * per the reference's band-range-adjustment arithmetic) prunes the
    * scan — it is a performance bound, not the semantic clip, which
    * stays a band filter downstream.
    */
  def cube(spark: SparkSession, dir: String, dataset: String,
      resolution: Resolution = Daily, variable: String = "value",
      bandRange: Option[(Int, Int)] = None): DataFrame =
    withGrid(Tables.eventsRange(spark, dir,
        bandRange.map { case (lo, hi) => bandRangeNanos(resolution, lo, hi) })
      .filter(col("event_type") === dataset)
      .groupBy(resolution.band(col("ts")).as("band"), col("user_id"))
      .agg(avg(variableCol(variable)).as("v")))

  /** Cached-partition count for the serving cube: the artifact is
    * raster-geometry bounded (a few MB), but the aggregation that
    * builds it runs at spark.sql.shuffle.partitions — caching THAT
    * layout would make every read of it (the serving index collect, a
    * DataFrame read of a [[servingCube]] view) pay one near-empty scan
    * task per shuffle partition. Coalesce to a handful before caching. */
  val ServingCubeSlices = 4

  /** Every band resolution the serving cube is built at. */
  val Resolutions: Seq[Resolution] = Seq(Daily, Hourly, Monthly, Yearly)

  /** The serving-layer artifact: every (dataset, resolution, band,
    * cell) value of one variable, PERSISTED once per (session, dir,
    * variable) and events fingerprint ([[Tables.fingerprint]], read on
    * every call: a rewritten or appended events file releases the
    * superseded cube and builds the new one) —
    * (dataset, resolution, band, user_id, v) with v = avg
    * of the cell's raw events in the band, exactly [[cube]]'s value.
    * One events scan and ONE shuffle cover every dataset and all of
    * [[Resolutions]] (each event is exploded to its band at each
    * resolution before the aggregation), so a deployment serving N
    * (dataset, resolution) keys pays one build, not N. Its size is
    * datasets × resolutions × cells × bands — bounded by the raster
    * geometry, NOT the event count. The serving index
    * (ServingCoalescer) is collected from this frame once per (session,
    * dir, variable) and fingerprint, and every served request is a
    * lookup in that index on the request's own thread; the frame stays
    * persisted next to it. */
  def servingCubes(spark: SparkSession, dir: String,
      variable: String): DataFrame =
    graft.pipeline.ArtifactCache.cached(spark, s"servecube:$variable:$dir",
        Tables.fingerprint(spark, dir, "events")) {
      val atEachResolution = explode(array(Resolutions.map(r =>
        struct(lit(r.name).as("resolution"), r.band(col("ts")).as("band"))): _*))
      Tables.events(spark, dir)
        .select(col("event_type").as("dataset"), col("user_id"),
          variableCol(variable).as("raw"), atEachResolution.as("rb"))
        .groupBy(col("dataset"), col("rb.resolution").as("resolution"),
          col("rb.band").as("band"), col("user_id"))
        .agg(avg(col("raw")).as("v"))
        .coalesce(ServingCubeSlices)
    }

  /** The persisted (band, cell) cube of one (dataset, resolution,
    * variable) — (band, user_id, v, x, y), [[cube]]'s shape — as a
    * filter view over [[servingCubes]]: every key of a variable reads
    * the same cached relation, so only the variable's first key pays
    * the build. The per-request band window becomes a `band BETWEEN`
    * filter over the cache — row-identical to the scan-bound path
    * because [[bandRangeNanos]]' ts window is exactly the bands'
    * [lo, hi] coverage (ServingCacheSpec pins the parity). */
  def servingCube(spark: SparkSession, dir: String, dataset: String,
      resolution: Resolution, variable: String): DataFrame =
    withGrid(servingCubes(spark, dir, variable)
      .filter(col("dataset") === dataset && col("resolution") === resolution.name)
      .select(col("band"), col("user_id"), col("v")))

  /** Adds a cube's grid coordinates x, y of its `user_id` cell. */
  private def withGrid(df: DataFrame): DataFrame =
    df.withColumn("x", col("user_id") % GridWidth)
      .withColumn("y", floor(col("user_id") / lit(GridWidth.toDouble)).cast("long"))

  /** Zonal series over a bbox selection: one row per band with the
    * zonal statistic ("mean" | "median") over cell values — the Spark
    * equivalent of geometry.py:174-209's per-band masked reduction.
    * Map-side partial agg → single shuffle on `band`.
    */
  def zonalSeries(spark: SparkSession, dir: String, dataset: String,
      bbox: BBox, stat: String,
      bandRange: Option[(Int, Int)] = None): DataFrame =
    zonalSeriesMask(spark, dir, dataset, bbox.contains, stat,
      bandRange = bandRange)

  /** Zonal series over an arbitrary cell mask predicate — the general
    * form used by polygon/FeatureCollection selections (the mask is a
    * pushable codegen predicate, so a polygon costs the same as a
    * bbox). */
  def zonalSeriesMask(spark: SparkSession, dir: String, dataset: String,
      mask: (Column, Column) => Column, stat: String,
      resolution: Resolution = Daily, variable: String = "value",
      bandRange: Option[(Int, Int)] = None): DataFrame = {
    val c = cube(spark, dir, dataset, resolution, variable, bandRange)
      .filter(mask(col("x"), col("y")))
    c.groupBy(col("band")).agg(statAgg(stat).as("zv"))
  }

  /** The zonal statistic aggregate (common.py:13-18). */
  def statAgg(stat: String): Column = stat match {
    case "mean" => avg(col("v"))
    case "median" => percentile(col("v"), lit(0.5))
    case other => throw new IllegalArgumentException(
      s"unsupported zonal statistic: $other (mean|median)")
  }

  /** Point-cell series (geometry.py:81-103): one cell, one value per
    * band present. Bands with no events are absent, like nodata pixels.
    */
  def pointSeries(spark: SparkSession, dir: String, dataset: String,
      cell: Long, resolution: Resolution = Daily,
      variable: String = "value",
      bandRange: Option[(Int, Int)] = None): DataFrame =
    cube(spark, dir, dataset, resolution, variable, bandRange)
      .filter(col("user_id") === cell)
      .select(col("band"), col("v").as("zv"))

  // ---- shared oracle SQL fragments (DuckDB dialect) ----

  /** CTE mirroring `cube` for one dataset; `valueSql` mirrors
    * variableCol for the second variable. */
  def cubeSql(dataset: String, valueSql: String = "value"): String =
    s"""cube AS (
       |  SELECT CAST(date_diff('day', DATE '$Origin', CAST(ts AS DATE)) + 1 AS BIGINT) AS band,
       |         user_id,
       |         user_id % $GridWidth AS x,
       |         CAST(floor(user_id / $GridWidth.0) AS BIGINT) AS y,
       |         avg($valueSql) AS v
       |  FROM events
       |  WHERE event_type = '$dataset'
       |  GROUP BY 1, 2, 3, 4
       |)""".stripMargin

  /** CTE mirroring `zonalSeries` on top of `cube`. */
  def zonalSql(bbox: BBox, stat: String): String = {
    val aggExpr = stat match {
      case "mean" => "avg(v)"
      case "median" => "median(v)"
    }
    s"""zonal AS (
       |  SELECT band, $aggExpr AS zv FROM cube
       |  WHERE x BETWEEN ${bbox.x0} AND ${bbox.x1}
       |    AND y BETWEEN ${bbox.y0} AND ${bbox.y1}
       |  GROUP BY band
       |)""".stripMargin
  }
}
