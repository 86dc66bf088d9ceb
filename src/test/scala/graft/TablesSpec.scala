package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Regression guard for events.ts storage-type drift (round-7 incident:
  * driver-regenerated testdata switched TIMESTAMP(NANOS)→int64 to
  * TIMESTAMP(MICROS, isAdjustedToUTC=false)→TIMESTAMP_NTZ and 28 queries
  * failed analysis). eventsRange must, for EVERY storage type the driver
  * might emit:
  *   (a) surface `ts` as TimestampType (so unix_seconds/unix_micros work),
  *   (b) keep the range bound on the PHYSICAL column so it reaches
  *       PushedFilters and prunes row groups at 100 TB.
  */
class TablesSpec extends SparkSpec {

  private def pushedTsFilters(df: DataFrame): Seq[String] = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    scans.flatMap(_.metadata.get("PushedFilters")).map(_.toString)
  }

  /** Round-trip a tiny events table through parquet with the given writer
    * session conf, then load via eventsRange with a [t1, t3) bound.
    */
  private def roundTrip(ntz: Boolean): (DataFrame, Seq[String]) = {
    val dir = new java.io.File(SparkSpec.tempDir("events-drift"))
    val path = s"${dir.getAbsolutePath}/events.parquet"
    import spark.implicits._
    val base = Seq(
      (1L, "2024-01-01 00:00:00", 10L, "view", 1.0, "{}"),
      (2L, "2024-01-02 00:00:00", 11L, "click", 2.0, "{}"),
      (3L, "2024-01-03 00:00:00", 12L, "view", 3.0, "{}"),
      (4L, "2024-01-04 00:00:00", 13L, "buy", 4.0, "{}")
    ).toDF("event_id", "raw", "user_id", "event_type", "value", "props")
    val tsCol =
      if (ntz) to_timestamp_ntz($"raw") else to_timestamp($"raw")
    base.withColumn("ts", tsCol).drop("raw")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(path)

    // epoch nanos for 2024-01-02 and 2024-01-04 (exclusive)
    val loNs = java.time.Instant.parse("2024-01-02T00:00:00Z").getEpochSecond * 1000000000L
    val hiNs = java.time.Instant.parse("2024-01-04T00:00:00Z").getEpochSecond * 1000000000L
    val df = Tables.eventsRange(spark, dir.getAbsolutePath, Some((loNs, hiNs)))
    (df, pushedTsFilters(df))
  }

  test("eventsRange on TIMESTAMP_NTZ parquet: TimestampType out, bound pushed") {
    val (df, pushed) = roundTrip(ntz = true)
    assert(df.schema("ts").dataType == TimestampType)
    val ids = df.select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(2L, 3L))
    assert(pushed.exists(f => f.contains("GreaterThanOrEqual(ts") &&
      f.contains("LessThan(ts")), s"ts bound not pushed: $pushed")
  }

  test("eventsRange on TIMESTAMP (adjusted-UTC) parquet: TimestampType out, bound pushed") {
    val (df, pushed) = roundTrip(ntz = false)
    assert(df.schema("ts").dataType == TimestampType)
    val ids = df.select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(2L, 3L))
    assert(pushed.exists(f => f.contains("GreaterThanOrEqual(ts") &&
      f.contains("LessThan(ts")), s"ts bound not pushed: $pushed")
  }

  test("driver testdata events loads with TimestampType ts and same instants") {
    val df = Tables.events(spark, sfDir)
    assert(df.schema("ts").dataType == TimestampType)
    // unix_seconds must analyze (the exact round-7 failure mode)
    val n = df.select(unix_seconds(col("ts"))).filter(col("unix_seconds(ts)").isNotNull).count()
    assert(n > 0)
  }
}
