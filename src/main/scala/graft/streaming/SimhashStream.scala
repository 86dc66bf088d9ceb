package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{Dedup, IndexFamily}

/** Continuous simhash near-dup detection — the streaming twin of
  * `dedup_simhash` (r11 verdict item 5), structured exactly like
  * [[DedupStream]]: each micro-batch of documents is signature-hashed
  * and triple-keyed with the same kernels that built the PERSISTED
  * 120-triple posting index (pipeline.Dedup.simhashIndexTable), folded
  * straight into that bucketed lake table
  * (Dedup.appendSimhashToIndex), probed against the grown index,
  * filtered by the same canonical-triple + hamming arithmetic as the
  * batch pass, and the qualifying (d1, d2, hamming) pairs land in a
  * batch_id-partitioned parquet sink. Pairs whose two NEW members
  * arrive in different micro-batches come through the stored index.
  *
  * Scale: the batch side BROADCASTS (a micro-batch is small by the
  * operator's premise), so the probe is map-only over the bucketed
  * index scan — the historical corpus never re-pairs with itself and
  * never shuffles.
  *
  * Delivery: effectively exactly-once, the [[DedupStream]] contract.
  */
object SimhashStream {

  /** One micro-batch — deterministic given (stored index state, batch
    * rows, batchId); factored out for replay-idempotency specs. */
  private[graft] def processBatch(spark: SparkSession, dir: String,
      batch: DataFrame, sinkPath: String, batchId: Long): Unit =
      IndexFamily.simhash.withLock(dir) {
    val batchPost = Dedup.simhashPostingsOfDocs(Dedup.simhashSigsOfDocs(batch))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Dedup.appendSimhashToIndex(spark, dir, batchPost)
      IndexStream.overwritePartition(
        Dedup.simhashDeltaPairs(spark, dir, batchPost), batchId, sinkPath)
    } finally batchPost.unpersist()
  }

  /** Start the continuous simhash pass over a stream of document rows
    * (doc_id, text). `sinkPath` receives batch_id-partitioned parquet
    * (d1, d2, hamming, batch_id). Every (re)start compacts the simhash
    * family first ([[IndexStream.start]]). */
  def start(spark: SparkSession, dir: String, docs: DataFrame,
      sinkPath: String, checkpoint: String): StreamingQuery =
    IndexStream.start(spark, IndexFamily.simhash, dir, docs, checkpoint) {
      (batch, batchId) => processBatch(spark, dir, batch, sinkPath, batchId)
    }
}
