package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ANN-index ingest — the streaming twin of
  * `Similarity.appendAnnToIndex`, the [[IndexStream]] shape every
  * persisted index family shares: each micro-batch of newly-embedded
  * vectors
  * (vec_id, embedding) is encoded under the STORED codebooks (never
  * retrained) and appended straight into the partitioned code
  * table(s), then looked up against the grown index
  * (Similarity.annSearch) — the online shape of a vector-ingest
  * pipeline: "index this vector; who were its neighbors?" — with the
  * ranked results landing in a batch_id-partitioned parquet sink.
  *
  * The lake append itself is idempotent at vec_id granularity, so a
  * replayed micro-batch re-appends nothing and then runs its lookup
  * against byte-identical index state — effectively-exactly-once
  * directly on the stored table. Every batch adds ≤1 file per touched
  * inverted list, so restart maintenance is COMPACTION
  * (`IndexFamily.ann.compact`).
  *
  * Lookup semantics: a vector's neighbors are drawn from the corpus
  * plus everything ingested up to and including its own batch,
  * excluding itself — deterministic under replay because the append
  * completes (idempotently) before the search runs.
  */
object AnnStream {

  /** One micro-batch — deterministic given (corpus, stored index
    * state, batch rows). `batch` carries (vec_id, embedding); codes
    * fold into every kind in `kinds`, the lookup runs on `kinds.head`. */
  private[graft] def processBatch(spark: SparkSession, dir: String,
      batch: DataFrame, sinkPath: String, batchId: Long,
      kinds: Seq[String]): Unit =
      graft.pipeline.IndexFamily.ann.withLock(dir) {
    val batchVecs = graft.pipeline.Similarity.normedOfBatch(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      kinds.foreach { k =>
        graft.pipeline.Similarity.appendAnnToIndex(spark, dir, batchVecs, k)
      }
      IndexStream.overwritePartition(
        graft.pipeline.Similarity.annSearchNormed(spark, dir, batchVecs,
          kinds.head), batchId, sinkPath)
    } finally batchVecs.unpersist()
  }

  /** Start the continuous ingest+lookup over a stream of embedding
    * rows (vec_id, embedding). `sinkPath` receives batch_id-partitioned
    * parquet (probe_id, rank, vec_id, adist, batch_id). Every
    * (re)start compacts the ann family first ([[IndexStream.start]]):
    * the per-batch append files of every present code kind and of the
    * refine vectors fold back toward one per inverted list or bucket. */
  def start(spark: SparkSession, dir: String, vecs: DataFrame,
      sinkPath: String, checkpoint: String,
      kinds: Seq[String] = Seq("trained")): StreamingQuery =
    IndexStream.start(spark, graft.pipeline.IndexFamily.ann, dir, vecs,
        checkpoint) {
      (batch, batchId) =>
        processBatch(spark, dir, batch, sinkPath, batchId, kinds)
    }
}
