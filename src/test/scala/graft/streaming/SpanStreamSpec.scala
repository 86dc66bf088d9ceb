package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch-parity proof for the continuous span-index fold (r14 verdict
  * item 6): streaming a delta through SpanStream split across
  * micro-batches must leave the stored spanidx table EXACTLY equal to
  * a full rebuild over the combined corpus — including the cross-batch
  * promotion case, where a batch-2 span duplicates a batch-1 singleton
  * and must promote batch 1's stored position through the lake table
  * alone (SpanStream has no side chain by design). Isolated corpus
  * copies throughout: folding foreign docs into the shared sfDir
  * tables would poison the despan/dedup_substring oracles.
  */
class SpanStreamSpec extends SparkSpec {

  private def starts(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id"), col("i")).distinct()
      .collect()
      .map(r => (r.getLong(0), r.getAs[Number]("i").longValue())).toSet

  private def freshCorpus(prefix: String): String = {
    val d = SparkSpec.tempDir(prefix)
    graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 0)
      .write.parquet(d + "/documents.parquet")
    d
  }

  test("streamed folds equal the full rebuild across micro-batches") {
    val s = spark
    import s.implicits._
    val cDir = freshCorpus("spst_corpus")
    // day batches copy corpus docs under fresh ids: every span of a
    // copied doc is a guaranteed cross-batch duplicate
    val delta = graft.Tables.documents(spark, cDir)
      .filter(col("doc_id") % 9 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val day1 = delta.map { case (id, t) => (id + 1000000L, t) }
    val day2 = delta.map { case (id, t) => (id + 2000000L, t) }

    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val sink = SparkSpec.tempDir("spst_sink")
    val ckpt = SparkSpec.tempDir("spst_ckpt")
    val q = SpanStream.start(spark, cDir,
      input.toDF().toDF("doc_id", "text"), sink, ckpt)
    try {
      input.addData(day1.toSeq)
      q.processAllAvailable()
      input.addData(day2.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val folded = starts(graft.pipeline.Dedup.spanIndexTable(spark, cDir))
    val comb = SparkSpec.tempDir("spst_comb")
    val deltaDf = (day1 ++ day2).toSeq.toDF("doc_id", "text")
      .withColumn("source", lit("s"))
    graft.Tables.documents(spark, cDir)
      .unionByName(deltaDf, allowMissingColumns = true)
      .write.parquet(comb + "/documents.parquet")
    val rebuilt = starts(graft.pipeline.Dedup.spanIndexTable(spark, comb))
    assert(folded === rebuilt,
      s"stream drifted from rebuild: ${(folded diff rebuilt).take(5)} extra, " +
        s"${(rebuilt diff folded).take(5)} missing")
    // the accounting sink carries every spannable streamed doc once
    val acct = spark.read.parquet(sink)
    assert(acct.select("doc_id").distinct().count() ===
      (day1 ++ day2).count(_._2.length >= graft.pipeline.Dedup.SpanLen).toLong)
  }

  test("a batch-1 singleton duplicated by batch 2 promotes through the store") {
    val s = spark
    import s.implicits._
    // corpus with NO internal 40-char repeats; batch 1 adds a unique
    // doc (still singleton), batch 2 duplicates it — the promotion
    // must flow through the stored posting table, not stream state
    val d = SparkSpec.tempDir("spst_promo")
    val rnd = new scala.util.Random(11)
    val uniq = Array.fill(150)(('a' + rnd.nextInt(26)).toChar).mkString
    Seq((1L, "short corpus doc", "s")).toDF("doc_id", "text", "source")
      .write.parquet(d + "/documents.parquet")

    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val sink = SparkSpec.tempDir("spst_p_sink")
    val ckpt = SparkSpec.tempDir("spst_p_ckpt")
    val q = SpanStream.start(spark, d,
      input.toDF().toDF("doc_id", "text"), sink, ckpt)
    try {
      input.addData((10L, uniq))
      q.processAllAvailable()
      // batch 1 landed postings but no spanidx rows (all singletons)
      assert(starts(graft.pipeline.Dedup.spanIndexTable(spark, d))
        === Set.empty[(Long, Long)])
      input.addData((20L, uniq))
      q.processAllAvailable()
    } finally q.stop()

    val after = starts(graft.pipeline.Dedup.spanIndexTable(spark, d))
    val nSpans = uniq.length - graft.pipeline.Dedup.SpanLen + 1
    assert(after.count(_._1 == 10L) === nSpans,
      "batch-1 owner positions missing — promotion did not fire")
    assert(after.count(_._1 == 20L) === nSpans, "batch-2 positions missing")
  }

  test("restart compacts the span tables back toward one file per bucket") {
    val s = spark
    import s.implicits._
    val d = SparkSpec.tempDir("spst_cmp")
    val txt = "d" + ("restart compaction boilerplate sentence for spans " * 3)
    Seq((1L, txt, "s")).toDF("doc_id", "text", "source")
      .write.parquet(d + "/documents.parquet")
    val sink = SparkSpec.tempDir("spst_c_sink")
    // two folds: snapshot build + two appends → multi-file buckets
    SpanStream.processBatch(spark, d,
      Seq((10L, txt)).toDF("doc_id", "text"), sink, 0L)
    SpanStream.processBatch(spark, d,
      Seq((20L, txt)).toDF("doc_id", "text"), sink, 1L)
    val before = starts(graft.pipeline.Dedup.spanIndexTable(spark, d))
    assert(before.nonEmpty)
    def dataFiles(prefix: String): Int = {
      val tbl = spark.catalog.listTables().collect().map(_.name)
        .filter(n => n.startsWith(prefix) &&
          n.contains(d.replaceAll("[^A-Za-z0-9]", "_"))).head
      val root = new java.io.File(graft.sources.TableIO.indexPath(tbl))
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(root)
    }
    val filesBefore = dataFiles("graft_spanidx_")
    // restart: the span family compacts before the stream begins
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val ckpt = SparkSpec.tempDir("spst_c_ckpt")
    val q = SpanStream.start(spark, d,
      input.toDF().toDF("doc_id", "text"), sink, ckpt)
    q.stop()
    assert(starts(graft.pipeline.Dedup.spanIndexTable(spark, d)) === before,
      "compaction changed the index content")
    assert(dataFiles("graft_spanidx_") < filesBefore,
      s"compaction did not reduce the file count from $filesBefore")
    assert(dataFiles("graft_spanidx_") <= graft.pipeline.Dedup.IndexBuckets)
    assert(dataFiles("graft_spanpost_") <= graft.pipeline.Dedup.IndexBuckets)
  }

  test("a replayed micro-batch folds nothing and rewrites identical sink rows") {
    val s = spark
    import s.implicits._
    val d = SparkSpec.tempDir("spst_replay")
    val txt = "c" + ("span stream replay boilerplate sentence " * 3)
    Seq((1L, txt, "s")).toDF("doc_id", "text", "source")
      .write.parquet(d + "/documents.parquet")
    val sink = SparkSpec.tempDir("spst_r_sink")
    val batch = Seq((10L, txt), (11L, "tiny")).toDF("doc_id", "text")

    SpanStream.processBatch(spark, d, batch, sink, 0L)
    val idx1 = starts(graft.pipeline.Dedup.spanIndexTable(spark, d))
    val acct1 = spark.read.parquet(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // forced replay of the SAME batch_id — the recovery path
    SpanStream.processBatch(spark, d, batch, sink, 0L)
    val idx2 = starts(graft.pipeline.Dedup.spanIndexTable(spark, d))
    val acct2 = spark.read.parquet(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(idx2 === idx1, "replay must not change the stored index")
    assert(acct2 === acct1, "replay must rewrite identical sink content")
    // and postings landed exactly once per (hash, doc)
    val postTbl = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_spanpost_") &&
        n.contains(d.replaceAll("[^A-Za-z0-9]", "_")))
    assert(postTbl.length === 1)
    val dupPost = spark.table(postTbl.head)
      .groupBy(col("h"), col("h2"), col("doc_id"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(dupPost === 0L, "replay duplicated postings")
  }
}
