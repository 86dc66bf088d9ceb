package graft.streaming

import graft.SparkSpec
import graft.pipeline.{Dedup, Maintenance}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import IndexStreamFixtures._

/** Batch-parity proof for the continuous simhash pass (r11 verdict
  * item 5): streaming a delta through SimhashStream (split across
  * micro-batches) must surface exactly the pair set of the batch
  * `dedup_simhash` operator restricted to delta-touching pairs — same
  * signature kernel, same triple keys, same canonical-emission +
  * hamming arithmetic, so the only degree of freedom is the candidate
  * restriction, which must be lossless for pairs with a delta member.
  * Every case that streams NEW documents runs on a private corpus
  * copy: each micro-batch folds into the corpus index. */
class SimhashStreamSpec extends SparkSpec {

  /** (text of the first corpus doc, max corpus doc_id). */
  private def seed(dir: String): (String, Long) = (
    graft.Tables.documents(spark, dir).orderBy("doc_id")
      .select("text").head().getString(0),
    graft.Tables.documents(spark, dir).agg(max("doc_id")).head().getLong(0))

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Number](2).longValue())).toSet // hamming is int (bit_count)

  test("streamed delta equals batch dedup_simhash on delta-touching pairs") {
    val s = spark
    import s.implicits._
    val dm = graft.pipeline.Dedup.DeltaMod
    val full = pairs(graft.pipeline.Dedup.simhash(spark, sfDir)
      .select("d1", "d2", "hamming"))
    val expected = full.filter { case (d1, d2, _) =>
      d1 % dm == 0 || d2 % dm == 0 }
    assert(expected.nonEmpty, "corpus should contain delta-touching pairs")
    assert(full.size > expected.size,
      "fixture should contain base-base pairs outside the delta")

    val delta = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % dm === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (first, second) = delta.splitAt(delta.length / 2)

    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val sink = SparkSpec.tempDir("sh_sink")
    val ckpt = SparkSpec.tempDir("sh_ckpt")
    val q = SimhashStream.start(spark, sfDir,
      input.toDF().toDF("doc_id", "text"), sink, ckpt)
    try {
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = pairs(spark.read.parquet(sink)
      .select("d1", "d2", "hamming").distinct())
    assert(streamed === expected)
  }

  test("new documents pair with the corpus AND across micro-batches") {
    val cDir = freshCorpus(spark, sfDir, "documents", "sh_new_corpus")
    val (srcText, maxId) = seed(cDir)
    val n1 = maxId + 21
    val n2 = maxId + 22

    val sink = SparkSpec.tempDir("sh_new_sink")
    val s = spark
    import s.implicits._
    streamBatches(spark, Seq("doc_id", "text"),
        Seq((n1, srcText)), Seq((n2, srcText))) {
      (in, ckpt) => SimhashStream.start(spark, cDir, in, sink, ckpt)
    }()

    val streamed = pairs(spark.read.parquet(sink)
      .select("d1", "d2", "hamming"))
    // identical text => identical signature => hamming 0, found via the
    // STORED index (batch 0 folded n1 into it before batch 1 probed)
    assert(streamed.contains((n1, n2, 0L)),
      s"cross-batch new-new pair missing from $streamed")
    // and each copy paired with the corpus original through the stored
    // index (hamming 0 against the source doc)
    val srcId = graft.Tables.documents(spark, cDir)
      .filter(col("text") === srcText)
      .agg(min("doc_id")).head().getLong(0)
    assert(streamed.contains((srcId, n1, 0L)) || streamed.contains((srcId, n2, 0L)),
      s"corpus pair missing from $streamed")
  }

  /** Failure recovery re-runs a batch with the SAME batch_id: the fold
    * appends nothing twice and the sink partition is rewritten with
    * identical rows — the sink AND the stored table, row for row. */
  test("replaying a batch_id rewrites identical sink and stored rows") {
    val s = spark
    import s.implicits._
    val cDir = freshCorpus(spark, sfDir, "documents", "sh_replay_corpus")
    val (srcText, maxId) = seed(cDir)
    val sink = SparkSpec.tempDir("sh_replay")
    def batchDf(id: Long) = Seq((id, srcText)).toDF("doc_id", "text")
    SimhashStream.processBatch(spark, cDir, batchDf(maxId + 11), sink, 0L)
    SimhashStream.processBatch(spark, cDir, batchDf(maxId + 12), sink, 1L)
    def snapshot(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def state() = (snapshot(spark.read.parquet(sink)),
      snapshot(Dedup.simhashIndexTable(spark, cDir, raw = true)))
    val before = state()
    SimhashStream.processBatch(spark, cDir, batchDf(maxId + 12), sink, 1L)
    assert(state() === before)
  }

  /** Restart maintenance: a run's folds land in the STORED triple
    * index, a restart compacts it back to one file per bucket, and the
    * new run's batches still pair with the previous run's docs. */
  test("restart compacts the stored table and keeps the cross-run pair") {
    val cDir = freshCorpus(spark, sfDir, "documents", "sh_restart_corpus")
    val (srcText, maxId) = seed(cDir)
    val sink = SparkSpec.tempDir("sh_restart")
    val s = spark
    import s.implicits._
    val start = (in: org.apache.spark.sql.DataFrame, ckpt: String) =>
      SimhashStream.start(spark, cDir, in, sink, ckpt)

    streamBatches(spark, Seq("doc_id", "text"), Seq((maxId + 1, srcText)))(
      start)()
    val storedIds = Dedup.simhashIndexTable(spark, cDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(storedIds(maxId + 1), "run 1 should have folded its doc")

    streamBatches(spark, Seq("doc_id", "text"), Seq((maxId + 2, srcText)))(
      start) { _ =>
      assert(filesPerBucket(spark, "graft_simhash_idx_", cDir)
        .values.forall(_ <= 1),
        "restart should have compacted the index to one file per bucket")
    }
    val streamed = pairs(spark.read.parquet(sink)
      .select("d1", "d2", "hamming"))
    assert(streamed.contains((maxId + 1, maxId + 2, 0L)),
      s"cross-run pair missing from $streamed")
  }

  /** A takedown is visible to the very next micro-batch (the
    * DedupStreamSpec case): the taken-down new doc n1 never pairs with
    * batch 1's copy n2. */
  private def takedownReachesNextBatch(permanent: Boolean): Unit = {
    val s = spark
    import s.implicits._
    val cDir = freshCorpus(spark, sfDir, "documents", "sh_td_corpus")
    val (srcText, maxId) = seed(cDir)
    val (n1, n2) = (maxId + 1, maxId + 2)
    val sink = SparkSpec.tempDir("sh_td")
    def takedown() = Maintenance.takedown(spark, cDir, docIds = Seq(n1),
      permanent = permanent)
    if (permanent) takedown()
    streamBatches(spark, Seq("doc_id", "text"),
        Seq((n1, srcText)), Seq((n2, srcText))) {
      (in, ckpt) => SimhashStream.start(spark, cDir, in, sink, ckpt)
    } { i => if (i == 1 && !permanent) takedown() }
    val (naming, all) = batchRows(spark, sink, 1L, ("d1", "d2"), n1)
    assert(all > 0, "batch 1 should still pair with the corpus original")
    assert(naming === 0L, s"batch 1 paired the taken-down doc $n1")
  }

  test("a takedown reaches the next micro-batch") {
    takedownReachesNextBatch(permanent = false)
  }

  test("a permanently removed doc never pairs in a later micro-batch") {
    takedownReachesNextBatch(permanent = true)
  }
}
