package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming twin of the persisted ANN index's maintenance path:
  * AnnStream folds each micro-batch of (vec_id, embedding) rows into
  * the stored code table (encode-only, idempotent — no side-table
  * chain) and looks the batch up against the grown index. Proofs:
  *  - each streamed copy of a corpus vector retrieves its original,
  *    and a later batch's copy retrieves BOTH the original and the
  *    earlier batch's ingested twin (the index grows mid-stream);
  *  - the sink rows equal a batch-path replay (appendAnnToIndex +
  *    annSearch per batch against a second identical corpus) row for
  *    row — stream and batch maintenance are definitionally the same;
  *  - a restart compacts the per-batch append files
  *    (`IndexFamily.ann.compact`) and the restarted stream keeps serving.
  *
  * Isolated corpus copies throughout — streaming appends into the
  * shared sfDir index would poison every other suite's ANN state.
  */
class AnnStreamSpec extends SparkSpec {

  private val Off1 = 1000000L
  private val Off2 = 2000000L
  private val Off3 = 3000000L

  private def freshCorpus(): String = {
    val d = SparkSpec.tempDir("graft_annstream")
    graft.Tables.embeddings(spark, sfDir)
      .write.parquet(d + "/embeddings.parquet")
    d
  }

  private lazy val cDir: String = freshCorpus()

  private def probeVec(p: Long): Array[Float] =
    graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === p).head().getSeq[Float](1).toArray

  private def sinkRows(sink: String): Set[(Long, Long, Int, Long, Double)] =
    spark.read.parquet(sink)
      // partition-dir discovery infers batch_id as int — pin long
      .select(col("batch_id").cast("long"), col("probe_id"), col("rank"),
        col("vec_id"), col("adist"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4))).toSet

  private def neighbors(rows: Set[(Long, Long, Int, Long, Double)],
      probe: Long): Set[Long] =
    rows.filter(_._2 == probe).map(_._4)

  private lazy val sink: String =
    SparkSpec.tempDir("ann_sink")

  private lazy val streamed: Set[(Long, Long, Int, Long, Double)] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val ckpt = SparkSpec.tempDir("ann_ckpt")
    val q = AnnStream.start(spark, cDir,
      input.toDF().toDF("vec_id", "embedding"), sink, ckpt)
    try {
      input.addData((Off1 + 0, probeVec(0)), (Off1 + 1, probeVec(1)))
      q.processAllAvailable()
      input.addData((Off2 + 0, probeVec(0)))
      q.processAllAvailable()
    } finally q.stop()
    sinkRows(sink)
  }

  test("streamed vectors retrieve corpus originals and earlier-batch twins") {
    assert(neighbors(streamed, Off1 + 0).contains(0L))
    assert(neighbors(streamed, Off1 + 1).contains(1L))
    // batch 2's copy of vector 0 sees the original AND batch 1's twin:
    // the stored index grew between the micro-batches
    assert(neighbors(streamed, Off2 + 0).contains(0L))
    assert(neighbors(streamed, Off2 + 0).contains(Off1 + 0))
  }

  test("sink rows equal the batch-path replay on an identical corpus") {
    val s = spark
    import s.implicits._
    val dir2 = freshCorpus()
    def search(batch: Seq[(Long, Array[Float])], batchId: Long) = {
      val raw = batch.toDF("vec_id", "embedding")
      graft.pipeline.Similarity.appendAnnToIndex(spark, dir2,
        graft.pipeline.Similarity.normedOfBatch(raw), "trained")
      graft.pipeline.Similarity.annSearch(spark, dir2, raw).collect()
        .map(r => (batchId, r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
    }
    val replay =
      search(Seq((Off1 + 0, probeVec(0)), (Off1 + 1, probeVec(1))), 0L) ++
        search(Seq((Off2 + 0, probeVec(0))), 1L)
    assert(streamed === replay)
  }

  test("restart compacts the appended files and keeps serving") {
    streamed // ensure the first stream ran
    def files(): Int = {
      val tbl = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_anncodes_trained_"))
        .filter(_.contains(cDir.replaceAll("[^A-Za-z0-9]", "_")))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(graft.sources.TableIO.indexPath(tbl.head))).length
    }
    val before = files()
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val ckpt2 = SparkSpec.tempDir("ann_ckpt2")
    val q = AnnStream.start(spark, cDir,
      input.toDF().toDF("vec_id", "embedding"), sink, ckpt2)
    try {
      assert(files() < before,
        "the restart compaction must fold the per-batch append files")
      input.addData((Off3 + 2, probeVec(2)))
      q.processAllAvailable()
    } finally q.stop()
    assert(neighbors(sinkRows(sink), Off3 + 2).contains(2L))
  }
}
