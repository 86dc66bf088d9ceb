package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** What the index-stream specs share: private corpus copies (every
  * fold grows the corpus index, which must never happen to the shared
  * sf corpus), a micro-batch driver, and the per-bucket file count a
  * restart compaction promises. */
object IndexStreamFixtures {

  /** A private copy of the sf corpus `table` ("documents" or
    * "embeddings"). */
  def freshCorpus(spark: SparkSession, sfDir: String, table: String,
      prefix: String): String = {
    val d = graft.SparkSpec.tempDir(prefix)
    spark.read.parquet(s"$sfDir/$table.parquet")
      .write.parquet(s"$d/$table.parquet")
    d
  }

  /** Run each of `batches` through the stream `start(input,
    * checkpoint)` as one micro-batch, calling `before(i)` before batch
    * i arrives. */
  def streamBatches[T: Encoder](spark: SparkSession, cols: Seq[String],
      batches: Seq[T]*)(start: (DataFrame, String) => StreamingQuery)(
      before: Int => Unit = _ => ()): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val q = start(input.toDF().toDF(cols: _*), graft.SparkSpec.tempDir("stream_ckpt"))
    try batches.zipWithIndex.foreach { case (b, i) =>
      before(i)
      input.addData(b)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** Sink rows of micro-batch `batchId` that name `id` in either of the
    * pair columns `cols`, and all sink rows of that batch. */
  def batchRows(spark: SparkSession, sink: String, batchId: Long,
      cols: (String, String), id: Long): (Long, Long) = {
    val rows = spark.read.parquet(sink).filter(col("batch_id") === batchId)
    (rows.filter(col(cols._1) === id || col(cols._2) === id).count(),
      rows.count())
  }

  /** Data files per bucket of the one table named `prefix` + corpus
    * `dir`'s slug (bucket id = the `_NNNNN` suffix Spark's bucketed
    * writer gives each file). */
  def filesPerBucket(spark: SparkSession, prefix: String,
      dir: String): Map[Int, Int] = {
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith(prefix) &&
        n.contains(graft.pipeline.IndexFamily.slug(dir)))
    assert(tbl.length == 1, s"expected one $prefix table for $dir")
    val Bucket = """.*_(\d{5})\.c\d{3}.*\.parquet""".r
    new java.io.File(graft.sources.TableIO.indexPath(tbl.head)).listFiles()
      .map(_.getName).collect { case Bucket(b) => b.toInt }
      .groupBy(identity).map { case (b, fs) => b -> fs.length }
  }
}
