package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.IndexFamily

/** The one shape every index stream shares (DedupStream /
  * SimhashStream / SemanticStream / AnnStream / SpanStream /
  * ScoreStream): each micro-batch folds straight into its family's
  * stored tables with the family's idempotent append, then writes its
  * sink rows as a batch_id-keyed dynamic partition overwrite — the
  * effectively-exactly-once contract: a replayed batch re-appends
  * nothing and rewrites its own partition with identical content. */
private[streaming] object IndexStream {

  /** Start a stream over `input`: compact `family` for `dir` first —
    * the restart maintenance, since every fold adds ≤1 file per touched
    * bucket or inverted list and file count is the scan's bottleneck
    * over a long-lived stream; pending takedowns materialize and the
    * sidecars clear, the same end state
    * [[graft.pipeline.Maintenance.compactAll]] reaches — then run
    * `processBatch(batch, batchId)` on every micro-batch. */
  def start(spark: SparkSession, family: IndexFamily, dir: String,
      input: DataFrame, checkpoint: String)(
      processBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    family.compact(spark, dir)
    input.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch, batchId)
      }
      .start()
  }

  def overwritePartition(df: DataFrame, batchId: Long,
      path: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)
}
