package graft.streaming

import graft.SparkSpec
import graft.pipeline.{Dedup, Maintenance}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import IndexStreamFixtures._

/** Batch-parity proof for the continuous near-dup pass: streaming the
  * dedup_incremental delta through DedupStream (split across several
  * micro-batches) must surface exactly the pair set the batch
  * incremental pass computes on the same delta — the stored index is
  * shared state, so a pair whose members arrive in different batches
  * is still found (each member probes the index, which holds the
  * other). Every case that streams NEW documents runs on a private
  * corpus copy: each micro-batch folds into the corpus index. */
class DedupStreamSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("d1", "d2", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** (text of the first corpus doc, max corpus doc_id). */
  private def seed(dir: String): (String, Long) = (
    graft.Tables.documents(spark, dir).orderBy("doc_id")
      .select("text").head().getString(0),
    graft.Tables.documents(spark, dir).agg(max("doc_id")).head().getLong(0))

  test("streamed delta equals batch dedup_incremental on the same delta") {
    val s = spark
    import s.implicits._
    val batchPairs = graft.pipeline.Dedup.incremental(spark, sfDir)
      .select("d1", "d2", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchPairs.nonEmpty, "delta should contain qualifying pairs")

    val delta = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % graft.pipeline.Dedup.DeltaMod === 0)
      .select("doc_id", "text")
      .as[(Long, String)].collect()
    // split the delta across micro-batches so cross-batch pairs are
    // exercised (found via the shared index, not intra-batch joins)
    val (first, second) = delta.splitAt(delta.length / 2)

    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val sink = SparkSpec.tempDir("dedup_sink")
    val ckpt = SparkSpec.tempDir("dedup_ckpt")
    val q = DedupStream.start(spark, sfDir,
      input.toDF().toDF("doc_id", "text"), sink, ckpt)
    try {
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(sink)
      .select("d1", "d2", "jac").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batchPairs)
    // and the cross-batch path was real: at least one pair spans the
    // two micro-batches (otherwise the split proved nothing)
    val firstIds = first.map(_._1).toSet
    val secondIds = second.map(_._1).toSet
    val spanning = batchPairs.exists { case (a, b, _) =>
      (firstIds(a) && secondIds(b)) || (firstIds(b) && secondIds(a))
    }
    assert(spanning, "fixture should contain a pair spanning the batches")
  }

  /** The advertised use case: documents the stored corpus has NEVER
    * seen. Two copies of one corpus document arrive in two different
    * micro-batches — each must pair with the corpus original (index
    * probe), with every near-dup partner of the original, and with
    * EACH OTHER (cross-batch new-new: batch 0 folded its copy into the
    * stored index before batch 1 probed it). */
  test("genuinely new documents pair with the corpus AND across batches") {
    val s = spark
    import s.implicits._
    val cDir = freshCorpus(spark, sfDir, "documents", "dedup_new_corpus")
    val full = pairs(Dedup.minhashLsh(spark, cDir))
    // a corpus doc that has at least one near-dup partner, so the
    // "partners of the original" leg is non-trivial
    val srcId = full.head._1
    val srcText = graft.Tables.documents(spark, cDir)
      .filter(col("doc_id") === srcId).select("text").head().getString(0)
    val maxId = seed(cDir)._2
    val n1 = maxId + 1
    val n2 = maxId + 2

    val sink = SparkSpec.tempDir("dedup_new_sink")
    streamBatches(spark, Seq("doc_id", "text"),
        Seq((n1, srcText)), Seq((n2, srcText))) {
      (in, ckpt) => DedupStream.start(spark, cDir, in, sink, ckpt)
    }()

    val partners = full.collect {
      case (a, b, j) if a == srcId => (b, j)
      case (a, b, j) if b == srcId => (a, j)
    }
    val expected =
      (for { n <- Seq(n1, n2); (p, j) <- partners + ((srcId, 1.0)) }
        yield (math.min(n, p), math.max(n, p), j)).toSet + ((n1, n2, 1.0))
    val streamed = pairs(spark.read.parquet(sink))
    assert(streamed === expected)
    // the cross-batch new-new pair is present — through the stored index
    assert(streamed.contains((n1, n2, 1.0)))
  }

  /** Failure recovery re-runs a batch with the SAME batch_id; the
    * idempotent fold and the dynamic-partition-overwrite sink must make
    * that replay replace — ROW-level equality, not just DISTINCT-set
    * equality, of the sink AND the stored tables. */
  test("replaying a batch_id is idempotent (row-level, all sinks)") {
    val s = spark
    import s.implicits._
    val cDir = freshCorpus(spark, sfDir, "documents", "dedup_replay_corpus")
    val (srcText, maxId) = seed(cDir)
    val sink = SparkSpec.tempDir("dedup_replay")
    def batchDf(id: Long) = Seq((id, srcText)).toDF("doc_id", "text")
    DedupStream.processBatch(spark, cDir, batchDf(maxId + 11), sink, 0L)
    DedupStream.processBatch(spark, cDir, batchDf(maxId + 12), sink, 1L)
    def snapshot(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def state() = (snapshot(spark.read.parquet(sink)),
      snapshot(Dedup.minhashIndexTable(spark, cDir, raw = true)),
      snapshot(Dedup.shingleIndexTable(spark, cDir, raw = true)))
    val before = state()
    // the replay: batch 1 runs again, identical input, same batch_id
    DedupStream.processBatch(spark, cDir, batchDf(maxId + 12), sink, 1L)
    assert(state() === before)
    // and nothing duplicated: every (d1, d2) appears exactly once
    val dup = spark.read.parquet(sink).groupBy("d1", "d2")
      .count().filter(col("count") > 1).count()
    assert(dup === 0L)
  }

  /** Restart maintenance: a run's folds land in the STORED lake tables,
    * a restart compacts them back to one file per bucket, and the new
    * run's batches still pair with the previous run's docs through the
    * stored index. */
  test("restart compacts the stored tables and keeps the cross-run pair") {
    val s = spark
    import s.implicits._
    val cDir = freshCorpus(spark, sfDir, "documents", "dedup_restart_corpus")
    val (srcText, maxId) = seed(cDir)
    val sink = SparkSpec.tempDir("dedup_restart")
    val start = (in: org.apache.spark.sql.DataFrame, ckpt: String) =>
      DedupStream.start(spark, cDir, in, sink, ckpt)

    // run 1: one NEW doc folds into the stored tables
    streamBatches(spark, Seq("doc_id", "text"), Seq((maxId + 1, srcText)))(
      start)()
    val storedIds = Dedup.shingleIndexTable(spark, cDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(storedIds(maxId + 1), "run 1 should have folded its doc")

    // run 2 (restart): compaction runs before the first batch
    streamBatches(spark, Seq("doc_id", "text"), Seq((maxId + 2, srcText)))(
      start) { _ =>
      Seq("graft_minhash_idx_", "graft_shingles_").foreach { t =>
        assert(filesPerBucket(spark, t, cDir).values.forall(_ <= 1),
          s"restart should have compacted $t to one file per bucket")
      }
    }
    assert(pairs(spark.read.parquet(sink)).contains((maxId + 1, maxId + 2, 1.0)),
      "cross-run pair missing")
  }

  /** A takedown is visible to the very next micro-batch: batch 0 folds
    * a new doc n1, n1 is taken down, and batch 1's copy n2 of the same
    * text must not pair with it (it still pairs with the corpus
    * original). `permanent` removes n1 before batch 0 instead — the
    * fold's never-reingest filter keeps it out of the index. */
  private def takedownReachesNextBatch(permanent: Boolean): Unit = {
    val s = spark
    import s.implicits._
    val cDir = freshCorpus(spark, sfDir, "documents", "dedup_td_corpus")
    val (srcText, maxId) = seed(cDir)
    val (n1, n2) = (maxId + 1, maxId + 2)
    val sink = SparkSpec.tempDir("dedup_td")
    def takedown() = Maintenance.takedown(spark, cDir, docIds = Seq(n1),
      permanent = permanent)
    if (permanent) takedown()
    streamBatches(spark, Seq("doc_id", "text"),
        Seq((n1, srcText)), Seq((n2, srcText))) {
      (in, ckpt) => DedupStream.start(spark, cDir, in, sink, ckpt)
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
