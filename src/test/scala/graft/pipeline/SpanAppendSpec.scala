package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental fold for the span-dedup index (r13 verdict item 3) —
  * the one persisted artifact family that was still write-once:
  * `Dedup.appendSpanToIndex` folds a day's batch into the stored
  * spanidx/spanpost tables so a grown corpus never re-pays the
  * discovery build. Proofs, mirroring IndexAppendSpec's treatment:
  *  - fold-equals-rebuild: after folding day-1 and day-2 batches, the
  *    stored duplicated-start set is EXACTLY the full rebuild's on the
  *    combined corpus (and hence despan's excision is identical);
  *  - day-2 spans find day-1's through the STORED tables alone —
  *    including the promotion case (a day-1 singleton span that day-2
  *    duplicates must promote day-1's position, not just day-2's);
  *  - idempotent at doc granularity (replay = 0 folded);
  *  - a torn append (spanidx landed, postings lost) heals on replay
  *    without corrupting counts — re-appended spanidx rows are
  *    interval-merge-harmless duplicates, postings land exactly once;
  *  - the delta probe leaves the stored posting scan exchange-free
  *    (the bucketed-layout property every other stored index pins).
  *
  * Isolated corpus copy (own fingerprint, own tables) — folding
  * foreign docs into the shared sfDir tables would poison the
  * despan/dedup_substring oracles every other suite relies on.
  */
class SpanAppendSpec extends SparkSpec {

  private val Day1Off = 1000000L
  private val Day2Off = 2000000L

  private lazy val cDir: String = {
    val d = SparkSpec.tempDir("graft_span_corpus")
    graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 0)
      .write.parquet(d + "/documents.parquet")
    d
  }

  // day batches COPY corpus docs under fresh ids: every span of a
  // copied doc is a guaranteed cross-batch duplicate, and docs the
  // corpus held once become the promotion case
  private def dayBatch(off: Long): DataFrame =
    graft.Tables.documents(spark, cDir)
      .filter(col("doc_id") % 9 === 0)
      .withColumn("doc_id", col("doc_id") + off)

  private def starts(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id"), col("i")).distinct()
      .collect()
      .map(r => (r.getLong(0), r.getAs[Number]("i").longValue())).toSet

  private def combinedDir(batches: DataFrame*): String = {
    val d = SparkSpec.tempDir("graft_span_comb")
    batches.foldLeft(graft.Tables.documents(spark, cDir))(_ unionAll _)
      .write.parquet(d + "/documents.parquet")
    d
  }

  test("folds equal the full rebuild, including the promotion case") {
    val day1 = dayBatch(Day1Off)
    val day2 = dayBatch(Day2Off)
    assert(Dedup.appendSpanToIndex(spark, cDir, day1) === day1.count())
    assert(Dedup.appendSpanToIndex(spark, cDir, day2) === day2.count())
    val folded = starts(Dedup.spanIndexTable(spark, cDir))
    val rebuilt = starts(Dedup.spanIndexTable(spark,
      combinedDir(day1, day2)))
    assert(folded === rebuilt,
      s"fold drifted from rebuild: ${(folded diff rebuilt).take(5)} extra, " +
        s"${(rebuilt diff folded).take(5)} missing")
    // the promotion fired: day-1 positions appear even though day-1's
    // spans were corpus-singletons... (corpus docs %9==0 are copied, so
    // their spans were already duplicated; the COPIES' first fold must
    // still promote nothing extra). Directly assert day-2 positions
    // found day-1's duplicates through the stored tables alone:
    assert(folded.exists(_._1 >= Day2Off), "day-2 spans missing")
    assert(folded.exists(p => p._1 >= Day1Off && p._1 < Day2Off),
      "day-1 spans missing from the folded index")
  }

  test("a singleton span promoted by a later batch lands the OWNER's position") {
    // fresh corpus with one unique long doc; a batch duplicates it
    val d = SparkSpec.tempDir("graft_span_promo")
    import spark.implicits._
    // no INTERNAL 40-char repeats (seeded random), so the snapshot
    // index is genuinely empty and the fold's promotion is the only
    // way doc 1's positions can enter it
    val rnd = new scala.util.Random(7)
    val uniq = Array.fill(140)(('a' + rnd.nextInt(26)).toChar).mkString
    Seq((1L, uniq, "s"), (2L, "short", "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(d + "/documents.parquet")
    // snapshot: no duplicated spans at all
    assert(starts(Dedup.spanIndexTable(spark, d)) === Set.empty[(Long, Long)])
    val batch = Seq((10L, uniq, "s")).toDF("doc_id", "text", "source")
    assert(Dedup.appendSpanToIndex(spark, d, batch) === 1L)
    val after = starts(Dedup.spanIndexTable(spark, d))
    // every span position of BOTH the original (promoted) and the copy
    val nSpans = uniq.length - Dedup.SpanLen + 1
    assert(after.count(_._1 == 1L) === nSpans, "owner positions missing")
    assert(after.count(_._1 == 10L) === nSpans, "batch positions missing")
  }

  test("appendSpanToIndex is idempotent: a replayed batch folds 0 docs") {
    val day1 = dayBatch(Day1Off)
    Dedup.appendSpanToIndex(spark, cDir, day1)
    assert(Dedup.appendSpanToIndex(spark, cDir, day1) === 0L)
  }

  test("sub-SpanLen docs cannot break replay idempotency") {
    // a doc shorter than SpanLen produces ZERO spans, so it can never
    // land a posting row — if it counted as "fresh" a replayed batch
    // containing one would fold nonzero forever (ADVICE r14)
    val d = SparkSpec.tempDir("graft_span_short")
    import spark.implicits._
    val long = "b" + ("shared boilerplate sentence for span tests " * 3)
    Seq((1L, long, "s")).toDF("doc_id", "text", "source")
      .write.parquet(d + "/documents.parquet")
    val batch = Seq((10L, long, "s"), (11L, "tiny", "s"), (12L, "", "s"))
      .toDF("doc_id", "text", "source")
    // first fold: only the spannable doc counts
    assert(Dedup.appendSpanToIndex(spark, d, batch) === 1L)
    // replay folds 0 even though the short docs still have no postings
    assert(Dedup.appendSpanToIndex(spark, d, batch) === 0L)
    // an all-short batch is a no-op fold from the start
    val shortOnly = Seq((20L, "abc", "s")).toDF("doc_id", "text", "source")
    assert(Dedup.appendSpanToIndex(spark, d, shortOnly) === 0L)
  }

  test("a torn append (idx landed, postings lost) heals on replay") {
    val d = SparkSpec.tempDir("graft_span_torn")
    import spark.implicits._
    val txt = "a" + ("some shared boilerplate sentence for spans " * 3)
    Seq((1L, txt, "s")).toDF("doc_id", "text", "source")
      .write.parquet(d + "/documents.parquet")
    Dedup.spanIndexTable(spark, d)
    val post = Dedup.spanPostTable(spark, d)
    val batch = Seq((10L, txt, "s")).toDF("doc_id", "text", "source")
    // simulate the torn write: run the full fold, then surgically
    // remove the batch's posting rows (as if the second append never
    // landed) - the replay must treat the docs as fresh and re-land
    // them exactly once, with despan-visible rows staying merge-clean
    Dedup.appendSpanToIndex(spark, d, batch)
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_spanpost_") &&
        n.contains(d.replaceAll("[^A-Za-z0-9]", "_")))
    assert(tbl.length === 1)
    val keep = spark.table(tbl.head).filter(col("doc_id") =!= 10L)
    val path = new java.io.File(graft.sources.TableIO.indexPath(tbl.head)).getAbsolutePath
    val snap = keep.collect()
    val schema = keep.schema
    spark.sql(s"DROP TABLE ${tbl.head}")
    graft.sources.TableIO.writeBucketed(
      spark.createDataFrame(java.util.Arrays.asList(snap: _*), schema),
      tbl.head, path, Seq("h", "h2"), Dedup.IndexBuckets)
    // replay: docs are fresh again by the posting table's own key
    assert(Dedup.appendSpanToIndex(spark, d, batch) === 1L)
    // postings landed exactly once per (hash, doc)
    val dupPost = spark.table(tbl.head)
      .groupBy(col("h"), col("h2"), col("doc_id"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(dupPost === 0L, "healing replay duplicated postings")
    // and the index still equals the rebuild after interval-dedup
    val comb = SparkSpec.tempDir("graft_span_torn_c")
    graft.Tables.documents(spark, d).unionAll(batch)
      .write.parquet(comb + "/documents.parquet")
    assert(starts(Dedup.spanIndexTable(spark, d)) ===
      starts(Dedup.spanIndexTable(spark, comb)))
  }

  test("the delta probe leaves the stored posting scan exchange-free") {
    import spark.implicits._
    val probe = Seq((1L, 2L)).toDF("h", "h2")
    val plan = Dedup.spanPostTable(spark, cDir)
      .join(probe.hint("merge"), Seq("h", "h2"))
      .queryExecution.executedPlan.toString()
    // the stored side reads SelectedBucketsCount with no Exchange
    // between scan and join (the probe side may shuffle - it is the
    // batch-scale delta)
    val storedSide = plan.split("\n").filter(_.contains("graft_spanpost_"))
    assert(storedSide.nonEmpty, s"no bucketed scan in:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"stored posting scan must use its bucket layout:\n$plan")
  }
}
