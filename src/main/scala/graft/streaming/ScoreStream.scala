package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ingest for the LM score artifact — the streaming twin of
  * `TrainingPrep.appendScored` (r17), in the [[IndexStream]] shape
  * every persisted index family shares: the stored score table is
  * itself the incremental target, `appendScored` is idempotent at doc
  * granularity (keyed on the table's own doc set), and the LM is
  * FROZEN (the first fold builds the type/unigram artifacts from the
  * corpus; later batches only probe them) — so a batch's scores are
  * deterministic given its own rows and the corpus content, never the
  * fold history.
  *
  * Delivery: effectively exactly-once on the artifact (a checkpoint
  * replay folds 0 — the docs are already known). The observable sink
  * is per-doc bigram accounting for the batch, (doc_id, n_bigrams,
  * batch_id), deterministic from the batch rows alone, written as a
  * batch_id-keyed dynamic partition overwrite.
  *
  * Scale: each micro-batch pays its own bigram explode plus a probe
  * of the (kb, kb2)-bucketed LM type table with no stored-side
  * exchange; the corpus never rescans after the one-time LM build. */
object ScoreStream {

  /** Replay-stable per-doc accounting: scorable docs and their bigram
    * counts, straight off the text. */
  private[graft] def bigramCountsOfDocs(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("ws"))
    .filter(size(col("ws")) >= 2)
    .select(col("doc_id"), (size(col("ws")) - 1).cast("long").as("n_bigrams"))

  /** One micro-batch: fold into the stored score artifact, land the
    * accounting partition. Factored out for the replay spec. */
  private[graft] def processBatch(spark: SparkSession, dir: String,
      batch: DataFrame, sinkPath: String, batchId: Long): Unit = {
    graft.pipeline.TrainingPrep.appendScored(spark, dir, batch)
    IndexStream.overwritePartition(bigramCountsOfDocs(batch), batchId, sinkPath)
  }

  /** Start the continuous score fold over a stream of document rows
    * (doc_id, text). Every (re)start compacts the lmscore family first
    * ([[IndexStream.start]]): the score table and the streamed raw-doc
    * table fold back toward one file per bucket. */
  def start(spark: SparkSession, dir: String, docs: DataFrame,
      sinkPath: String, checkpoint: String): StreamingQuery =
    IndexStream.start(spark, graft.pipeline.IndexFamily.lmscore, dir, docs,
        checkpoint) {
      (batch, batchId) => processBatch(spark, dir, batch, sinkPath, batchId)
    }
}
