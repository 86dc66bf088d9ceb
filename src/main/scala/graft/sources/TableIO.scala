package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink abstraction: the same logical table behind parquet,
  * ORC, CSV or JSON-lines, read with an EXPLICIT schema. Parquet and
  * ORC are the columnar lake formats (predicate pushdown + min/max
  * pruning both ways); CSV/JSON are interchange.
  *
  * Scale rules encoded here:
  *  - Never infer schema: inference is a full extra pass over the data
  *    (CSV/JSON) and nondeterministic under schema drift. Readers take
  *    the schema as an argument; `spark.read.parquet` gets it from the
  *    footer.
  *  - Writers support `partitionBy` so the lake layout carries the
  *    partition-pruning keys (the cube writes dataset/band this way —
  *    see cube.CubeWriter).
  *  - CSV carries timestamps as microsecond-precision ISO strings
  *    (lossless for the corpus's µs timestamps); JSON-lines is the
  *    interchange format for nested columns (arrays survive, CSV
  *    rejects them by design rather than silently stringifying).
  */
object TableIO {

  /** Root directory of every persisted index/artifact table.
    * Defaults to `$TMPDIR/graft_index`; override with the
    * SPARK_GRAFT_INDEX_DIR environment variable — REQUIRED when two
    * JVMs work different corpora concurrently (two sbt sessions, a
    * test suite next to a bench run): the tables are fingerprint-
    * named, so two JVMs sharing one root can clobber each other's
    * files mid-scan (Overwrite on first touch). One lake, one owner
    * process per root — the no-transaction-log discipline. */
  def indexRoot: String = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
    new java.io.File(sys.props("java.io.tmpdir"), "graft_index")
      .getAbsolutePath)

  /** Absolute on-disk path for a persisted table name. */
  def indexPath(tbl: String): String =
    new java.io.File(indexRoot, tbl).getAbsolutePath

  sealed abstract class Format(val name: String)
  case object Parquet extends Format("parquet")
  case object Orc extends Format("orc")
  case object Csv extends Format("csv")
  case object Json extends Format("json")

  private val TsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  def write(df: DataFrame, path: String, format: Format,
      partitionBy: Seq[String] = Nil): Unit = {
    val hasComplex = df.schema.exists(f =>
      f.dataType.typeName match {
        case "array" | "map" | "struct" => true
        case _ => false
      })
    require(format != Csv || !hasComplex,
      "CSV cannot carry nested columns; use Json or Parquet")
    val w0 = df.write.mode(SaveMode.Overwrite)
    val w1 = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
    format match {
      case Parquet => w1.parquet(path)
      case Orc => w1.orc(path)
      case Csv => w1.option("header", "true").option("timestampFormat", TsFmt)
        .csv(path)
      case Json => w1.option("timestampFormat", TsFmt).json(path)
    }
  }

  /** Bucketed (hash-clustered) parquet table: rows are routed to
    * `numBuckets` files by hash of `bucketCols` at WRITE time and
    * optionally sorted within each bucket.
    *
    * This is the co-located-join layout for 100 TB fact tables: two
    * tables bucketed the same way on their join key satisfy the join's
    * required HashClusteredDistribution straight off the scan, so a
    * repeated fact⋈fact join (lineitem⋈orders on orderkey every night)
    * pays ZERO shuffle — the exchange that would otherwise move the
    * whole fact table disappears from the plan, and with in-bucket
    * sorting the sort-merge join's sorts disappear too
    * (TableIOSpec asserts both on the physical plan; the sort-elision
    * additionally needs `spark.sql.legacy.bucketedTableScan.
    * outputOrdering=true` at read time). Bucketing must go through the
    * catalog (`saveAsTable`): the bucket spec lives in table metadata,
    * which is what lets the planner trust the layout. */
  def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketBy needs at least one column")
    // Pre-shuffle into the bucket layout so each bucket is ONE file:
    // repartition's hash (Murmur3 pmod numBuckets) is the same function
    // bucketBy uses, so task i holds exactly bucket i. One file per
    // bucket is what lets the scan report the in-bucket sort order
    // downstream (multi-file buckets force a re-Sort under the join)
    // and avoids the small-files explosion of writer-per-task × bucket.
    val clustered = df.repartition(numBuckets,
      bucketCols.map(org.apache.spark.sql.functions.col): _*)
    val w = clustered.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
      else w
    ws.saveAsTable(table)
  }

  /** Append rows into an EXISTING bucketed catalog table, preserving
    * the bucket layout — the daily-ingest write of a lake index (the
    * dedup posting/shingle tables): rows are pre-shuffled into the
    * table's bucket routing (same Murmur3-pmod hash `bucketBy` uses,
    * so task i holds exactly bucket i) and appended with the SAME
    * bucket spec, which `saveAsTable(Append)` validates against the
    * catalog metadata — a mismatched spec fails loudly instead of
    * silently corrupting the layout. Each append adds at most one new
    * file per bucket; the scan stays bucket-aware (joins on the bucket
    * key still need no index-side Exchange), only the in-bucket SORT
    * guarantee is lost once a bucket holds >1 file — callers that need
    * it back run [[compactBucketed]], the nightly maintenance pass.
    *
    * The write runs in `df`'s own session — under foreachBatch that is
    * the micro-batch CLONE, whose saveAsTable invalidates only the
    * clone's relation cache — so the table is refreshed through
    * `spark`, the caller's handle: this session (and clones forked
    * from it later) see the appended files instead of a stale cached
    * listing. */
  def appendBucketed(spark: SparkSession, df: DataFrame, table: String,
      bucketCols: Seq[String], numBuckets: Int): Unit = {
    require(bucketCols.nonEmpty, "bucketBy needs at least one column")
    val clustered = df.repartition(numBuckets,
      bucketCols.map(org.apache.spark.sql.functions.col): _*)
    clustered.write.mode(SaveMode.Append).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
    spark.catalog.refreshTable(table)
  }

  private def stagingOf(path: String): String =
    path.stripSuffix("/") + "_compact_staging"

  /** First-touch creation of a persisted bucketed catalog table — or,
    * when `partitioned`, a partitioned one with `n` write tasks — in
    * the layout its compaction keeps. No-op when the table exists.
    * Crash recovery comes first: a compaction that died in its drop
    * window (the rewrite's SaveMode.Overwrite drops the table before
    * the new files commit) leaves the table ABSENT but its staging
    * directory COMPLETE, holding the corpus-built rows PLUS every
    * appended fold, which a fresh `build` would silently lose. Staging
    * is only ever deleted AFTER a rewrite commits, so an existing
    * staging with a missing table is always a complete pre-compaction
    * snapshot: it is restored instead, and `build` is not evaluated.
    * Callers serialize the first touches of one table. */
  def materialize(spark: SparkSession, table: String, keys: Seq[String],
      n: Int, partitioned: Boolean = false)(build: => DataFrame): Unit =
    if (!spark.catalog.tableExists(table)) {
      val path = indexPath(table)
      val sPath = new org.apache.hadoop.fs.Path(stagingOf(path))
      val fs = sPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val recovered = fs.exists(sPath)
      val rows = if (recovered) spark.read.parquet(stagingOf(path)) else build
      if (partitioned) writePartitionedTable(rows, table, path, keys, n)
      else writeBucketed(rows, table, path, keys, n)
      if (recovered) fs.delete(sPath, true)
    }

  /** The partitioned-table write discipline shared by the ANN code
    * table's [[materialize]] and compaction: hash-cluster on the
    * partition columns so each value lands in ONE task = one file per
    * partition directory. */
  def writePartitionedTable(df: DataFrame, table: String, path: String,
      partCols: Seq[String], numTasks: Int): Unit =
    df.repartition(numTasks,
        partCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .partitionBy(partCols: _*)
      .option("path", path).saveAsTable(table)

  /** The DATA files under a table path (a directory, or a single
    * file): every file below it except those under a `_` or `.`
    * segment (`_SUCCESS`, checksums, `_spark_metadata/0` — commit logs
    * a read ignores). Empty when the path does not exist. The one walk
    * of a table's files: compaction's file counts and sizing and the
    * corpus fingerprint ([[graft.Tables.fingerprint]]) all read it.
    * Plain statuses, not `listFiles`' located ones: on the local file
    * system a located status forks a process per file to read its
    * permissions, a hundred times this walk's cost. */
  def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(f: FileStatus): Seq[FileStatus] =
      if (!f.isDirectory) Seq(f)
      else fs.listStatus(f.getPath).toSeq.filterNot { c =>
        c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith(".")
      }.flatMap(walk)
    try walk(fs.getFileStatus(hPath))
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** [[compactBucketed]] for a PARTITIONED catalog table: stage out,
    * rewrite one-file-per-partition-value, delete staging, refresh.
    * Returns the actual post-compaction data-file count. */
  def compactPartitioned(spark: SparkSession, table: String,
      partCols: Seq[String], numTasks: Int,
      transform: DataFrame => DataFrame = identity): Int = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val path = meta.location.toString
    val schema = spark.table(table).schema
    val staging = stagingOf(path)
    // the staging snapshot is UNFILTERED — a crash in the rewrite's
    // drop window recovers the full pre-compaction state (deletion
    // sidecars, if any, are cleared only after the rewrite commits)
    spark.table(table).write.mode(SaveMode.Overwrite).parquet(staging)
    writePartitionedTable(
      transform(spark.read.schema(schema).parquet(staging)),
      table, path, partCols, numTasks)
    val sPath = new org.apache.hadoop.fs.Path(staging)
    sPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(sPath, true)
    spark.catalog.refreshTable(table)
    dataFiles(spark, path).size
  }

  /** Rewrite a bucketed catalog table back to ONE file per bucket —
    * the compaction half of the append workflow: N daily
    * [[appendBucketed]] runs leave N files per bucket, and file count
    * (listing, footers, task scheduling) is the 100 TB scan bottleneck
    * [[compact]] documents. The rows stage out to a plain-parquet
    * side path first (Spark correctly refuses to overwrite a table it
    * is reading), then flow back through the same one-task-per-bucket
    * `writeBucketed` discipline under `SaveMode.Overwrite`, which
    * re-registers the bucket spec — planner trust in the layout is
    * preserved across the rewrite. Returns the ACTUAL post-compaction
    * data-file count (a bucket with no rows writes no file, so this
    * can be < numBuckets — same contract as [[compactPartitioned]]). */
  def compactBucketed(spark: SparkSession, table: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil,
      transform: DataFrame => DataFrame = identity): Int = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val path = meta.location.toString
    val schema = spark.table(table).schema
    val staging = stagingOf(path)
    // staging snapshot stays UNFILTERED — see compactPartitioned
    spark.table(table).write.mode(SaveMode.Overwrite).parquet(staging)
    writeBucketed(transform(spark.read.schema(schema).parquet(staging)),
      table, path, bucketCols, numBuckets, sortCols)
    val sPath = new org.apache.hadoop.fs.Path(staging)
    sPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(sPath, true)
    spark.catalog.refreshTable(table)
    dataFiles(spark, path).size
  }

  /** Small-files compaction: rewrite a table directory into
    * ~`targetBytes` files.
    *
    * At 100 TB the scan bottleneck is often FILE COUNT, not bytes: a
    * table written by thousands of streaming micro-batches (or an
    * over-parallel job) accumulates millions of KB-scale files, and
    * listing, footer reads, and task scheduling all scale with the
    * file count. Nightly compaction to row-group-sized files
    * (~128 MB) is the standard lake maintenance pass.
    *
    * File count is sized from the SOURCE's on-disk bytes (a filesystem
    * listing, no data read), then the rows are round-robin
    * `repartition(n)`-ed so every output file lands near the target —
    * one full shuffle, the price of perfect sizing (cheaper than the
    * degenerate `coalesce(n)` which skews file sizes by input
    * locality). `maxRecordsPerFile` is NOT used here: it caps file
    * size but cannot merge small inputs, which is the actual problem.
    * Compression changes size on disk vs in flight, so `targetBytes`
    * is calibrated against the SOURCE format's own bytes — right when
    * compacting like-to-like (the common case). With `partitionBy`,
    * sizing switches from byte-target to one-file-per-partition-value
    * (see inline note); the returned count is the task count either
    * way. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      format: Format, schema: StructType,
      targetBytes: Long = 128L * 1024 * 1024,
      partitionBy: Seq[String] = Nil): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    // source bytes of the data files only: a streaming-sink table's
    // commit log (`_spark_metadata/0`) is not read, so it is not sized
    val bytes = dataFiles(spark, inPath).map(_.getLen).sum
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = read(spark, inPath, format, schema)
    // Unpartitioned: round-robin into exactly n near-target files.
    // Partitioned: round-robin would spread every partition value over
    // all n tasks and the writer would split per value again (n×P tiny
    // files — worse than the input); hash-cluster on the partition
    // columns instead, so each value lands in one task = ONE file per
    // partition directory, the classic partitioned-table compaction.
    val clustered =
      if (partitionBy.isEmpty) df.repartition(n)
      else df.repartition(n, partitionBy.map(org.apache.spark.sql.functions.col): _*)
    write(clustered, outPath, format, partitionBy)
    n
  }

  def read(spark: SparkSession, path: String, format: Format,
      schema: StructType): DataFrame = format match {
    case Parquet => spark.read.schema(schema).parquet(path)
    case Orc => spark.read.schema(schema).orc(path)
    case Csv => spark.read.schema(schema).option("header", "true")
      .option("timestampFormat", TsFmt).csv(path)
    case Json => spark.read.schema(schema).option("timestampFormat", TsFmt)
      .json(path)
  }
}
