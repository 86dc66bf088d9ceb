package graft.cube

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Write-time materialization of the event cube — the 100 TB layout.
  *
  * The reference reads a raster file per (dataset, variable) and slices
  * bands on demand (core/services.py:149-166). The Spark-native
  * equivalent is a long-format parquet cube partitioned by dataset_id:
  *
  *   out/dataset_id=click/part-*.parquet   (rows sorted by band)
  *
  * so a query for one dataset touches one partition directory
  * (partition pruning — `PartitionFilters` in the scan), and a band
  * range slice prunes row groups via the parquet min/max stats the
  * within-partition band sort produces. At 1000 executors this is the
  * difference between a full-table scan and reading a few files.
  */
object CubeWriter {

  /** The full cube across all datasets: (dataset_id, band, user_id,
    * x, y, v). One shuffle on (dataset, band, cell). */
  def fullCube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        col("event_type").as("dataset_id"),
        (datediff(to_date(col("ts")), lit(EventCube.Origin).cast("date")) + 1)
          .cast("long").as("band"),
        col("user_id"))
      .agg(avg(col("value")).as("v"))
      .withColumn("x", col("user_id") % EventCube.GridWidth)
      .withColumn("y",
        floor(col("user_id") / lit(EventCube.GridWidth.toDouble)).cast("long"))

  /** Materialize: hash-cluster by dataset, band-sort within files.
    * `options` reach the parquet writer (`Measure zorder` shrinks
    * parquet.block.size with it so the synthetic cube has the many
    * row groups a 100 TB cube has naturally — row-group pruning can't
    * be observed on a corpus that fits one group). */
  def materialize(spark: SparkSession, dir: String, outPath: String,
      options: Map[String, String] = Map.empty): Unit =
    fullCube(spark, dir)
      .repartition(col("dataset_id"))
      .sortWithinPartitions(col("band"), col("user_id"))
      .write.mode(SaveMode.Overwrite)
      .options(options)
      .partitionBy("dataset_id")
      .parquet(outPath)

  /** Bits per cell coordinate. 8 bits covers grids up to 256×256 —
    * the driver's synthetic grid is 10 wide and grows its y extent
    * with SF (1500 cells = y to 149 at the bench SF; the original 4
    * bits silently truncated y past 15, which un-clustered the y axis
    * exactly where pruning mattered — caught by `Measure zorder`'s
    * row-group stats showing y spans of [0,149]). A production
    * deployment sizes this to its grid. */
  val MortonBits = 8

  /** Morton (Z-order) key: bit-interleave of the cell coordinates.
    * Plain shift/mask column algebra — codegen'd, and monotone locality:
    * cells close in (x, y) are close in `mz`, so range-clustering files
    * by it gives every file a small spatial footprint in BOTH axes at
    * once (a single-axis sort pins down one coordinate only). */
  def morton(x: Column, y: Column): Column =
    (0 until MortonBits).foldLeft(lit(0L)) { (acc, b) =>
      acc +
        shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1)
    }

  /** Spatially-clustered materialization: dataset directories as in
    * [[materialize]], but files inside each are RANGE-clustered by the
    * Morton key (then band-sorted within). A bbox/polygon query's x/y
    * predicates then prune files and row groups via parquet min/max —
    * the layout for selection-heavy workloads (many small areas), where
    * the band-sorted layout serves band-range scans. At 100 TB these
    * are the two cluster keys a lake keeps (one per dominant access
    * path); `sizePerDataset` is the file-count knob compaction
    * maintains. */
  def materializeZOrdered(spark: SparkSession, dir: String, outPath: String,
      filesPerDataset: Int = 4,
      options: Map[String, String] = Map.empty): Unit = {
    val datasets = 3 // region of the synthetic corpus; a catalog lookup in prod
    fullCube(spark, dir)
      .withColumn("mz", morton(col("x"), col("y")))
      .repartitionByRange(filesPerDataset * datasets,
        col("dataset_id"), col("mz"))
      .sortWithinPartitions(col("mz"), col("band"))
      .drop("mz")
      .write.mode(SaveMode.Overwrite)
      .options(options)
      .partitionBy("dataset_id")
      .parquet(outPath)
  }

  /** Read one dataset's spatial slice from a Z-ordered cube — x/y
    * bounds and the band range must all reach PushedFilters. */
  def readSpatialSlice(spark: SparkSession, cubePath: String,
      dataset: String, x0: Long, x1: Long, y0: Long, y1: Long,
      bandLo: Int, bandHi: Int): DataFrame =
    spark.read.parquet(cubePath)
      .filter(col("dataset_id") === dataset &&
        col("x").between(x0, x1) && col("y").between(y0, y1) &&
        col("band").between(bandLo, bandHi))

  /** Read one dataset's band slice from a materialized cube — the plan
    * must show PartitionFilters (dataset pruning) and a band range
    * reaching PushedFilters (row-group pruning). */
  def readSlice(spark: SparkSession, cubePath: String, dataset: String,
      bandLo: Int, bandHi: Int): DataFrame =
    spark.read.parquet(cubePath)
      .filter(col("dataset_id") === dataset &&
        col("band").between(bandLo, bandHi))
}
