package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ingest for the span-dedup index — the streaming twin of
  * `Dedup.appendSpanToIndex` (r14 verdict item 6), in the
  * [[IndexStream]] shape every persisted index family shares: the
  * stored spanidx/spanpost tables are themselves the incremental
  * target —
  * `appendSpanToIndex` is idempotent at doc granularity (keyed on the
  * posting table's own doc set) and cross-batch by construction (a
  * batch-2 span duplicating a batch-1 singleton promotes batch 1's
  * stored position through the bucketed posting probe), so each
  * micro-batch folds STRAIGHT into the lake tables and later batches
  * see earlier ones through the store alone. No per-query streaming
  * state.
  *
  * Delivery: effectively exactly-once on the index (a checkpoint
  * replay folds 0 — the docs are already known — and the spanidx rows
  * a torn fold may have double-landed are interval-merge-harmless,
  * the appendSpanToIndex healing contract). The observable sink is
  * per-doc span ACCOUNTING for the batch, (doc_id, n_spans,
  * batch_id), written as a batch_id-keyed dynamic partition
  * overwrite: deterministic given the batch rows alone, so a replay
  * rewrites identical content regardless of fold state.
  *
  * Scale: each micro-batch pays exactly the batch fold cost — its own
  * explode+hash plus a bucketed (h, h2) probe of the stored posting
  * table with no stored-side exchange; the historical corpus never
  * rescans.
  */
object SpanStream {

  /** One micro-batch: fold into the stored span index, land the
    * replay-stable accounting partition. Factored out for the
    * replay-idempotency spec. */
  private[graft] def processBatch(spark: SparkSession, dir: String,
      batch: DataFrame, sinkPath: String, batchId: Long): Unit =
      graft.pipeline.IndexFamily.span.withLock(dir) {
    graft.pipeline.Dedup.appendSpanToIndex(spark, dir, batch)
    IndexStream.overwritePartition(
      graft.pipeline.Dedup.spanCountsOfDocs(batch), batchId, sinkPath)
  }

  /** Start the continuous span-index fold over a stream of document
    * rows (doc_id, text). `dir` locates the corpus whose stored
    * spanidx/spanpost tables receive the folds; `sinkPath` receives
    * batch_id-partitioned per-doc span accounting. Every (re)start
    * compacts the span family first ([[IndexStream.start]]): each fold
    * appends ≤1 file per touched bucket to BOTH tables, and both span
    * sidecars clear. A first-ever start has no tables and compacts
    * nothing. */
  def start(spark: SparkSession, dir: String, docs: DataFrame,
      sinkPath: String, checkpoint: String): StreamingQuery =
    IndexStream.start(spark, graft.pipeline.IndexFamily.span, dir, docs,
        checkpoint) {
      (batch, batchId) => processBatch(spark, dir, batch, sinkPath, batchId)
    }
}
