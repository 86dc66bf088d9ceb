package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ANN-index ingest — the streaming twin of
  * `Similarity.appendAnnToIndex`, completing the pattern DedupStream /
  * SimhashStream / SemanticStream set for the other persisted index
  * families: each micro-batch of newly-embedded vectors
  * (vec_id, embedding) is encoded under the STORED codebooks (never
  * retrained) and appended straight into the partitioned code
  * table(s), then looked up against the grown index
  * (Similarity.annSearch) — the online shape of a vector-ingest
  * pipeline: "index this vector; who were its neighbors?" — with the
  * ranked results landing in a batch_id-partitioned parquet sink.
  *
  * UNLIKE the dedup streams this needs NO side-table chain: the lake
  * append itself is idempotent at vec_id granularity, so a replayed
  * micro-batch re-appends nothing and then runs its lookup against
  * byte-identical index state — effectively-exactly-once directly on
  * the stored table. The cost profile moves instead: every batch adds
  * ≤1 file per touched inverted list, so restart maintenance is
  * COMPACTION (`IndexFamily.ann.compact`), not folding.
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
      graft.pipeline.Similarity.annSearchNormed(spark, dir, batchVecs, kinds.head)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(sinkPath)
    } finally batchVecs.unpersist()
  }

  /** Start the continuous ingest+lookup over a stream of embedding
    * rows (vec_id, embedding). `sinkPath` receives batch_id-partitioned
    * parquet (probe_id, rank, vec_id, adist, batch_id). On every
    * (re)start the ann family compacts (`IndexFamily.ann.compact`):
    * the accumulated per-batch append files of every present code kind
    * and of the refine vectors fold back toward one per inverted list
    * or bucket — the maintenance pass a long-running ingest owes the
    * scan path — and pending takedowns materialize and leave the
    * sidecar, the same end state [[graft.pipeline.Maintenance.compactAll]]
    * reaches. */
  def start(spark: SparkSession, dir: String, vecs: DataFrame,
      sinkPath: String, checkpoint: String,
      kinds: Seq[String] = Seq("trained")): StreamingQuery = {
    graft.pipeline.IndexFamily.ann.compact(spark, dir)
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(spark, dir, batch, sinkPath, batchId, kinds)
      }
      .start()
  }
}
