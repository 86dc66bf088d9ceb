package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{Dedup, IndexFamily, Similarity}

/** Continuous SemDeDup — the streaming twin of `dedup_semantic` (r11
  * verdict item 5), structured like [[DedupStream]]: each micro-batch
  * of newly-embedded vectors (vec_id, embedding) is routed through the
  * SAME corpus-derived centroid hierarchy as the batch pass
  * (pipeline.Similarity.semAssignOver — so a streamed vector lands in
  * exactly the fine cluster the batch pass would give it), folded
  * straight into BOTH stored tables (Similarity.appendSemToIndex: the
  * bucketed assignment table and the streamed-vector extension table,
  * whose vectors the exact cosine verification of a later batch
  * needs), probed against the grown assignment table, cosine-verified
  * over the spliced vector base, and the qualifying (v1, v2, cos)
  * pairs land in a batch_id-partitioned parquet sink. After a fold the
  * batch query sees the grown corpus too.
  *
  * Delivery: effectively exactly-once, the [[DedupStream]] contract.
  */
object SemanticStream {

  /** One micro-batch — deterministic given (stored index state, batch
    * rows, batchId). `batch` carries (vec_id, embedding). */
  private[graft] def processBatch(spark: SparkSession, dir: String,
      batch: DataFrame, sinkPath: String, batchId: Long): Unit =
      IndexFamily.sem.withLock(dir) {
    val batchVecs = Similarity.normedOfBatch(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      import spark.implicits._
      // assigned ONCE per micro-batch (localCheckpointed inside), then
      // reused for the fold AND the pair join
      val batchPost = Similarity.semAssignOver(spark, dir,
        batchVecs.select(col("vec_id"), col("v"), col("nrm"))
          .as[(Long, Array[Double], Double)],
        Dedup.BroadcastVerifyBytes)
      Similarity.appendSemToIndex(spark, dir, batchPost, batchVecs)
      IndexStream.overwritePartition(
        Similarity.semDeltaPairsFromPost(spark, dir, batchPost, batchVecs),
        batchId, sinkPath)
    } finally batchVecs.unpersist()
  }

  /** Start the continuous semantic dedup over a stream of embedding
    * rows (vec_id, embedding). `sinkPath` receives batch_id-partitioned
    * parquet (v1, v2, cos, batch_id). Every (re)start compacts the sem
    * family first ([[IndexStream.start]]). */
  def start(spark: SparkSession, dir: String, vecs: DataFrame,
      sinkPath: String, checkpoint: String): StreamingQuery =
    IndexStream.start(spark, IndexFamily.sem, dir, vecs, checkpoint) {
      (batch, batchId) => processBatch(spark, dir, batch, sinkPath, batchId)
    }
}
