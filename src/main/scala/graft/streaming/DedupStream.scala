package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{Dedup, IndexFamily}

/** Continuous near-duplicate dedup: the streaming analogue of the
  * batch `dedup_incremental` pass. Each micro-batch of newly-ingested
  * documents folds straight into the PERSISTED posting and shingle
  * tables (Dedup.appendShingles — the same bucketed lake tables the
  * batch pipeline writes and reads), then is minhash-banded and probed
  * against the grown index, exact-verified with the family's Jaccard
  * join, and the qualifying pairs land in a batch_id-partitioned
  * parquet sink.
  *
  * Why foreachBatch and not a stateful streaming operator: the
  * candidate join probes a LAKE TABLE, and the exact verification is
  * a batch join against the stored shingle artifact — the index IS
  * the state, stored durably and shared with the batch pipeline, so
  * per-query streaming state (which is private to one query and dies
  * with its checkpoint) would be the wrong home for it. This is the
  * standard lakehouse shape for stream-vs-corpus joins.
  *
  * NEW documents: the batch members need not exist in the stored
  * corpus. Batch-internal pairs come from the delta posting self-join
  * inside Dedup.deltaPairsFromShingles, pairs against the corpus and
  * against every earlier micro-batch come from the stored index the
  * earlier folds grew. The probe reads the family's view, so a
  * takedown is visible to the very next micro-batch.
  *
  * Scale: each micro-batch pays exactly the batch incremental cost —
  * the batch's own postings broadcast (or shuffle_hash past the byte
  * bound, still exchange-free on the bucketed index side); the
  * historical corpus never re-pairs with itself.
  *
  * Delivery: EFFECTIVELY EXACTLY-ONCE. foreachBatch re-runs a batch on
  * failure recovery with the SAME batch_id; the fold appends nothing
  * twice, deltaPairs treats an already-indexed delta as its base case,
  * and the sink write is a dynamic partition overwrite keyed by
  * batch_id — a replay replaces its own partition with identical
  * content. DedupStreamSpec asserts ROW-level equality after a forced
  * re-run.
  */
object DedupStream {

  /** One micro-batch: fold, then pair against the grown index — factored
    * out so the replay-idempotency spec can re-run a batch_id directly.
    * Deterministic given (stored index state, batch rows, batchId). */
  private[graft] def processBatch(spark: SparkSession, dir: String,
      batch: DataFrame, sinkPath: String, batchId: Long): Unit =
      IndexFamily.dedup.withLock(dir) {
    val deltaSh = Dedup.shinglesOfDocs(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Dedup.appendShingles(spark, dir, deltaSh)
      IndexStream.overwritePartition(
        Dedup.deltaPairsFromShingles(spark, dir, deltaSh), batchId, sinkPath)
    } finally deltaSh.unpersist()
  }

  /** Start the continuous dedup over a stream of document rows
    * (doc_id, text, ...). `dir` locates the corpus whose stored index
    * and shingle artifact receive the folds and verify the batches;
    * `sinkPath` receives batch_id-partitioned parquet (d1, d2, jac,
    * batch_id). Every (re)start compacts the dedup family first
    * ([[IndexStream.start]]). */
  def start(spark: SparkSession, dir: String, docs: DataFrame,
      sinkPath: String, checkpoint: String): StreamingQuery =
    IndexStream.start(spark, IndexFamily.dedup, dir, docs, checkpoint) {
      (batch, batchId) => processBatch(spark, dir, batch, sinkPath, batchId)
    }
}
