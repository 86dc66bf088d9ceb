package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuous simhash near-dup detection — the streaming twin of
  * `dedup_simhash` (r11 verdict item 5), structured exactly like
  * [[DedupStream]]: each micro-batch of documents is signature-hashed
  * and triple-keyed with the same kernels that built the PERSISTED
  * 120-triple posting index (pipeline.Dedup.simhashIndexTable), probed
  * against that bucketed lake table PLUS the stream's own side index
  * of previously-ingested batches, filtered by the same
  * canonical-triple + hamming arithmetic as the batch pass, and the
  * qualifying (d1, d2, hamming) pairs land in a batch_id-partitioned
  * parquet sink.
  *
  * Pairs whose two NEW members arrive in DIFFERENT micro-batches are
  * found through the side posting table (`<sink>_idx_postings`,
  * parquet partitioned by batch_id — each batch appends the postings
  * of its not-already-indexed docs; later batches read partitions with
  * `batch_id < current`). The corpus index stays immutable.
  *
  * Scale: the batch side BROADCASTS (a micro-batch is small by the
  * operator's premise), so the probe is map-only over the bucketed
  * index scan — the historical corpus never re-pairs with itself and
  * never shuffles.
  *
  * Delivery: effectively exactly-once, the [[DedupStream]] contract —
  * all writes are dynamic partition overwrites keyed by batch_id, and
  * a replay reads exactly the pre-batch side state (`batch_id <
  * current`), so it rewrites identical deterministic content.
  */
object SimhashStream {

  private val PostSchema = StructType(Seq(
    StructField("k", LongType), StructField("doc_id", LongType),
    StructField("sim", LongType), StructField("t", LongType)))

  import SideTables.overwritePartition

  private def sideRead(spark: SparkSession, path: String,
      batchId: Long): DataFrame =
    SideTables.sideRead(spark, path, PostSchema, batchId)

  /** One micro-batch — deterministic given (corpus, prior side table,
    * batch rows, batchId); factored out for replay-idempotency specs. */
  private[graft] def processBatch(spark: SparkSession, dir: String,
      batch: DataFrame, sinkPath: String, batchId: Long): Unit =
      graft.pipeline.IndexFamily.simhash.withLock(dir) {
    val postPath = sinkPath + "_idx_postings"
    val priorPost = sideRead(spark, postPath, batchId)
    val batchPost = graft.pipeline.Dedup.simhashPostingsOfDocs(
      graft.pipeline.Dedup.simhashSigsOfDocs(batch))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = graft.pipeline.Dedup.simhashDeltaPairs(
        spark, dir, batchPost, Some(priorPost))
      overwritePartition(pairs, batchId, sinkPath)
      // append THIS batch's not-yet-indexed docs' postings so later
      // batches can pair against them ("not yet indexed" = absent from
      // both the corpus posting table and the prior side table; the
      // corpus probe is a broadcast semi-join of the tiny batch id
      // list over the bucketed scan)
      val batchIds = broadcast(batchPost.select(col("doc_id")).distinct())
      val known = graft.pipeline.Dedup.simhashIndexTable(spark, dir)
        .select(col("doc_id")).join(batchIds, "doc_id")
        .unionByName(
          priorPost.select(col("doc_id")).join(batchIds, "doc_id"))
        .distinct()
      overwritePartition(
        batchPost.join(broadcast(known), Seq("doc_id"), "left_anti")
          .select(col("k"), col("doc_id"), col("sim"), col("t")),
        batchId, postPath)
    } finally batchPost.unpersist()
  }

  /** Fold the stream's side posting table into the STORED simhash
    * index and delete the side partitions — the DedupStream
    * restart-maintenance shape: a restarted stream begins with an
    * EMPTY side chain and probes all previously streamed docs through
    * the bucketed stored table. Safe under checkpoint replay:
    * Dedup.appendSimhashToIndex is idempotent by doc_id, and a
    * replayed in-flight batch finds the folded docs through the stored
    * index instead of the side read — identical pair emission. */
  def foldSideIndex(spark: SparkSession, dir: String,
      sinkPath: String): Long =
      graft.pipeline.IndexFamily.simhash.withLock(dir) {
    val postPath = sinkPath + "_idx_postings"
    if (!SideTables.exists(spark, postPath)) 0L
    else {
      val side = SideTables.readAll(spark, postPath, PostSchema)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = graft.pipeline.Dedup.appendSimhashToIndex(spark, dir, side)
        SideTables.delete(spark, postPath)
        n
      } finally side.unpersist()
    }
  }

  /** Start the continuous simhash pass over a stream of document rows
    * (doc_id, text). `sinkPath` receives batch_id-partitioned parquet
    * (d1, d2, hamming, batch_id). On every (re)start the accumulated
    * side index folds into the stored lake table ([[foldSideIndex]]). */
  def start(spark: SparkSession, dir: String, docs: DataFrame,
      sinkPath: String, checkpoint: String,
      foldOnStart: Boolean = true): StreamingQuery = {
    if (foldOnStart) foldSideIndex(spark, dir, sinkPath)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(spark, dir, batch, sinkPath, batchId)
      }
      .start()
  }
}
