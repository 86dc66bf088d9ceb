package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec
import graft.pipeline.Maintenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-family lake-maintenance concurrency (r15 verdict item 6):
  * several streaming twins folding into the SAME session catalog
  * concurrently, with Maintenance.compactAll racing the folds and the
  * families' own restart-maintenance passes — the collision a
  * long-lived deployment actually hits. Every fold and compaction
  * serializes per (family, corpus) through its IndexFamily's lock
  * (an un-serialized compaction stages a table out, DROPS it, and
  * rewrites — an append in that window is silently LOST, and a fold's
  * probe read inside the drop window throws), while different
  * families stay genuinely concurrent. The proof is per-family result
  * identity with a serial run of the identical call sequence on an
  * identical corpus copy. */
class CrossFamilySpec extends SparkSpec {

  private def freshCorpus(prefix: String): String = {
    val d = SparkSpec.tempDir(prefix)
    graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 0)
      .write.parquet(d + "/documents.parquet")
    graft.Tables.embeddings(spark, sfDir)
      .write.parquet(d + "/embeddings.parquet")
    d
  }

  // --- the three families' two-batch day feeds (identical per dir) ---

  private def spanBatches(dir: String): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val delta = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 9 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    (delta.map { case (id, t) => (id + 1000000L, t) }.toSeq
       .toDF("doc_id", "text"),
     delta.map { case (id, t) => (id + 2000000L, t) }.toSeq
       .toDF("doc_id", "text"))
  }

  private def dedupBatches(dir: String): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val delta = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % graft.pipeline.Dedup.DeltaMod === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (a, b) = delta.splitAt(delta.length / 2)
    (a.toSeq.toDF("doc_id", "text"), b.toSeq.toDF("doc_id", "text"))
  }

  private def annBatches(dir: String): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val delta = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 16 === 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    (delta.map { case (id, v) => (id + 1000000L, v) }.toSeq
       .toDF("vec_id", "embedding"),
     delta.map { case (id, v) => (id + 2000000L, v) }.toSeq
       .toDF("vec_id", "embedding"))
  }

  /** The per-family call sequence — two folds with the family's own
    * restart-maintenance pass between them (what a stop/start does). */
  private def runSpan(dir: String, sink: String): Unit = {
    val (b1, b2) = spanBatches(dir)
    SpanStream.processBatch(spark, dir, b1, sink, 0L)
    graft.pipeline.IndexFamily.span.compact(spark, dir)
    SpanStream.processBatch(spark, dir, b2, sink, 1L)
  }

  private def runDedup(dir: String, sink: String): Unit = {
    val (b1, b2) = dedupBatches(dir)
    DedupStream.processBatch(spark, dir, b1, sink, 0L)
    graft.pipeline.IndexFamily.dedup.compact(spark, dir)
    DedupStream.processBatch(spark, dir, b2, sink, 1L)
  }

  private def runAnn(dir: String, sink: String): Unit = {
    val (b1, b2) = annBatches(dir)
    AnnStream.processBatch(spark, dir, b1, sink, 0L, Seq("md5"))
    graft.pipeline.IndexFamily.ann.compact(spark, dir)
    AnnStream.processBatch(spark, dir, b2, sink, 1L, Seq("md5"))
  }

  // --- per-family result captures -------------------------------------

  private def spanResult(dir: String): Set[(Long, Long)] =
    graft.pipeline.Dedup.spanIndexTable(spark, dir)
      .select(col("doc_id"), col("i")).distinct().collect()
      .map(r => (r.getLong(0), r.getAs[Number]("i").longValue())).toSet

  private def dedupResult(sink: String): Set[(Long, Long, Double)] =
    spark.read.parquet(sink).select("d1", "d2", "jac").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def annResult(sink: String): Set[(Long, Long, Int, Long)] =
    spark.read.parquet(sink)
      .select(col("batch_id").cast("long"), col("probe_id"), col("rank"),
        col("vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet

  test("three twins + compactAll interleaved equal the serial run " +
      "per family") {
    def sinks() = (
      SparkSpec.tempDir("xf_span"),
      SparkSpec.tempDir("xf_dedup"),
      SparkSpec.tempDir("xf_ann"))

    // serial reference
    val dS = freshCorpus("xf_serial")
    val (spS, ddS, anS) = sinks()
    runSpan(dS, spS); runDedup(dS, ddS); runAnn(dS, anS)
    Maintenance.compactAll(spark, dS)
    val (spanRef, dedupRef, annRef) =
      (spanResult(dS), dedupResult(ddS), annResult(anS))
    assert(spanRef.nonEmpty && dedupRef.nonEmpty && annRef.nonEmpty,
      "reference artifacts must be non-trivial")

    // concurrent run: three family threads + a maintenance thread
    // hammering compactAll between and DURING their folds
    val dC = freshCorpus("xf_conc")
    val (spC, ddC, anC) = sinks()
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        start.await()
        try body catch { case e: Throwable => errs.add(e) }
        finally done.countDown()
      }, name)
      t.setDaemon(true); t.start(); t
    }
    thread("xf-span") { runSpan(dC, spC) }
    thread("xf-dedup") { runDedup(dC, ddC) }
    thread("xf-ann") { runAnn(dC, anC) }
    thread("xf-maint") {
      (1 to 3).foreach { _ =>
        Maintenance.compactAll(spark, dC)
        Thread.sleep(20)
      }
    }
    start.countDown()
    assert(done.await(5, TimeUnit.MINUTES), "concurrent folds hung")
    assert(errs.isEmpty, s"concurrent fold/compaction failed: " +
      s"${Option(errs.peek()).map(_.toString)}")

    // one final sweep so the concurrent dir ends compacted like the
    // serial one, then per-family identity
    Maintenance.compactAll(spark, dC)
    assert(spanResult(dC) === spanRef, "span family drifted under concurrency")
    assert(dedupResult(ddC) === dedupRef, "dedup family drifted under concurrency")
    assert(annResult(anC) === annRef, "ann family drifted under concurrency")
  }
}
