package graft.streaming

import graft.SparkSpec
import graft.pipeline.{Maintenance, Similarity}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import IndexStreamFixtures._

/** Batch-parity proof for the continuous SemDeDup pass (r11 verdict
  * item 5): streaming a delta of embedding rows through SemanticStream
  * must surface exactly the pair set of the batch `dedup_semantic`
  * operator restricted to delta-touching pairs — the streamed vectors
  * route through the SAME corpus-derived centroid hierarchy
  * (semAssignOver), so assignment, candidate join and cosine
  * verification are all definitionally identical; only the candidate
  * restriction differs, and it must be lossless for delta pairs.
  * Every case that streams NEW vectors runs on a private corpus copy:
  * each micro-batch folds into the corpus index. */
class SemanticStreamSpec extends SparkSpec {

  /** ((vec_id, embedding) of the first corpus vector, max vec_id). */
  private def seed(dir: String): ((Long, Array[Float]), Long) = {
    val s = spark
    import s.implicits._
    (graft.Tables.embeddings(spark, dir)
      .orderBy(col("vec_id")).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].head(),
     graft.Tables.embeddings(spark, dir).agg(max("vec_id")).head().getLong(0))
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("streamed delta equals batch dedup_semantic on delta-touching pairs") {
    val s = spark
    import s.implicits._
    val dm = graft.pipeline.Dedup.DeltaMod
    val full = pairs(graft.pipeline.Similarity.dedupSemantic(spark, sfDir)
      .select("v1", "v2", "cos"))
    val expected = full.filter { case (v1, v2, _) =>
      v1 % dm == 0 || v2 % dm == 0 }
    assert(expected.nonEmpty, "corpus should contain delta-touching pairs")
    assert(full.size > expected.size,
      "fixture should contain base-base pairs outside the delta")

    val delta = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % dm === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val (first, second) = delta.splitAt(delta.length / 2)

    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val sink = SparkSpec.tempDir("sem_sink")
    val ckpt = SparkSpec.tempDir("sem_ckpt")
    val q = SemanticStream.start(spark, sfDir,
      input.toDF().toDF("vec_id", "embedding"), sink, ckpt)
    try {
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = pairs(spark.read.parquet(sink)
      .select("v1", "v2", "cos").distinct())
    assert(streamed === expected)
  }

  test("new vectors pair with the corpus AND across micro-batches") {
    val s = spark
    import s.implicits._
    val cDir = freshCorpus(spark, sfDir, "embeddings", "sem_new_corpus")
    val (src, maxId) = seed(cDir)
    val n1 = maxId + 31
    val n2 = maxId + 32

    val sink = SparkSpec.tempDir("sem_new_sink")
    streamBatches(spark, Seq("vec_id", "embedding"),
        Seq((n1, src._2)), Seq((n2, src._2))) {
      (in, ckpt) => SemanticStream.start(spark, cDir, in, sink, ckpt)
    }()

    val streamed = pairs(spark.read.parquet(sink).select("v1", "v2", "cos"))
    // identical vector => cosine exactly 1.0; the new-new pair comes
    // through the STORED tables batch 0 folded into (n1's cluster key
    // and its vector), the corpus pair through the assignment table
    assert(streamed.contains((n1, n2, 1.0)),
      s"cross-batch new-new pair missing from $streamed")
    assert(streamed.contains((src._1, n1, 1.0)),
      s"corpus pair missing from $streamed")
  }

  /** Failure recovery re-runs a batch with the SAME batch_id: the fold
    * appends nothing twice and the sink partition is rewritten with
    * identical rows — the sink AND both stored tables, row for row. */
  test("replaying a batch_id rewrites identical sink and stored rows") {
    val s = spark
    import s.implicits._
    val cDir = freshCorpus(spark, sfDir, "embeddings", "sem_replay_corpus")
    val (src, maxId) = seed(cDir)
    val sink = SparkSpec.tempDir("sem_replay")
    def batchDf(id: Long) = Seq((id, src._2)).toDF("vec_id", "embedding")
    SemanticStream.processBatch(spark, cDir, batchDf(maxId + 11), sink, 0L)
    SemanticStream.processBatch(spark, cDir, batchDf(maxId + 12), sink, 1L)
    def snapshot(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def state() = (snapshot(spark.read.parquet(sink)),
      snapshot(Similarity.semPostingTable(spark, cDir,
        graft.pipeline.Dedup.BroadcastVerifyBytes, raw = true)),
      snapshot(Similarity.semStreamVecsTable(spark, cDir, raw = true)))
    val before = state()
    SemanticStream.processBatch(spark, cDir, batchDf(maxId + 12), sink, 1L)
    assert(state() === before)
  }

  /** Restart maintenance: a run's folds land in BOTH stored tables
    * (assignment table + streamed-vector extension), a restart compacts
    * them back to one file per bucket, and the new run pairs with the
    * previous run's vectors — including the exact cosine verification,
    * whose vectors come off the folded extension table. */
  test("restart compacts the stored tables and keeps the cross-run pair") {
    val s = spark
    import s.implicits._
    val cDir = freshCorpus(spark, sfDir, "embeddings", "sem_restart_corpus")
    val (src, maxId) = seed(cDir)
    val n1 = maxId + 41
    val n2 = maxId + 42
    val sink = SparkSpec.tempDir("sem_restart")
    val start = (in: org.apache.spark.sql.DataFrame, ckpt: String) =>
      SemanticStream.start(spark, cDir, in, sink, ckpt)

    streamBatches(spark, Seq("vec_id", "embedding"), Seq((n1, src._2)))(
      start)()
    val folded = Similarity.semStreamVecsTable(spark, cDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(folded(n1), "run 1 should have folded its vector")

    streamBatches(spark, Seq("vec_id", "embedding"), Seq((n2, src._2)))(
      start) { _ =>
      Seq("graft_sempost_", "graft_semvecs_").foreach { t =>
        assert(filesPerBucket(spark, t, cDir).values.forall(_ <= 1),
          s"restart should have compacted $t to one file per bucket")
      }
    }
    val streamed = pairs(spark.read.parquet(sink).select("v1", "v2", "cos"))
    // the cross-run pair needs BOTH folded artifacts: n1's cluster key
    // from the assignment table and n1's vector for the cosine
    assert(streamed.contains((n1, n2, 1.0)),
      s"cross-run pair missing from $streamed")
    // and the BATCH query sees the grown corpus: the folded vector's
    // pairs appear in dedup_semantic for this dir
    val batch = pairs(Similarity.dedupSemantic(spark, cDir)
      .select("v1", "v2", "cos"))
    assert(batch.contains((src._1, n1, 1.0)),
      s"grown-corpus batch pair missing")
  }

  /** A takedown is visible to the very next micro-batch (the
    * DedupStreamSpec case): the taken-down new vector n1 never pairs
    * with batch 1's copy n2. */
  private def takedownReachesNextBatch(permanent: Boolean): Unit = {
    val s = spark
    import s.implicits._
    val cDir = freshCorpus(spark, sfDir, "embeddings", "sem_td_corpus")
    val (src, maxId) = seed(cDir)
    val (n1, n2) = (maxId + 1, maxId + 2)
    val sink = SparkSpec.tempDir("sem_td")
    def takedown() = Maintenance.takedown(spark, cDir, vecIds = Seq(n1),
      permanent = permanent)
    if (permanent) takedown()
    streamBatches(spark, Seq("vec_id", "embedding"),
        Seq((n1, src._2)), Seq((n2, src._2))) {
      (in, ckpt) => SemanticStream.start(spark, cDir, in, sink, ckpt)
    } { i => if (i == 1 && !permanent) takedown() }
    val (naming, all) = batchRows(spark, sink, 1L, ("v1", "v2"), n1)
    assert(all > 0, "batch 1 should still pair with the corpus original")
    assert(naming === 0L, s"batch 1 paired the taken-down vector $n1")
  }

  test("a takedown reaches the next micro-batch") {
    takedownReachesNextBatch(permanent = false)
  }

  test("a permanently removed vector never pairs in a later micro-batch") {
    takedownReachesNextBatch(permanent = true)
  }

  test("a corpus-resident vec_id folds no duplicate into semvecs") {
    import org.apache.spark.sql.functions._
    val cDir = SparkSpec.tempDir("graft_semdup")
    graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") < 64)
      .write.parquet(cDir + "/embeddings.parquet")
    val S = graft.pipeline.Similarity
    // replay shape: a batch whose ids ALREADY live in the corpus — the
    // posting append skips them (the first-touch build assigned the
    // whole corpus), and the vector append must skip them too, or
    // dedupSemantic's corpus ∪ semvecs verification base emits every
    // pair for these ids twice
    val corpusBatch = S.normedOfBatch(
      graft.Tables.embeddings(spark, cDir).filter(col("vec_id") < 8))
    import spark.implicits._
    val post = S.semAssignOver(spark, cDir,
      corpusBatch.select(col("vec_id"), col("v"), col("nrm"))
        .as[(Long, Array[Double], Double)],
      graft.pipeline.Dedup.BroadcastVerifyBytes)
    assert(S.appendSemToIndex(spark, cDir, post, corpusBatch) === 0L)
    assert(S.semStreamVecsTable(spark, cDir).count() === 0L,
      "corpus-resident vec_ids duplicated into graft_semvecs_")
    val dups = S.dedupSemantic(spark, cDir)
      .groupBy(col("v1"), col("v2")).count()
      .filter(col("count") > 1).count()
    assert(dups === 0L, "duplicate (v1, v2) pairs in dedup_semantic")
  }
}
