package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The deletion path for the persisted index families (r16 verdict
  * item 2 — takedown / right-to-be-forgotten): `IndexFamily.remove`
  * records ids in an equality-delete sidecar, every read subtracts it
  * immediately, and compaction materializes it physically. Proofs per
  * family:
  *  - post-delete index content equals a fresh build minus the docs
  *    (for the span family via a literally rebuilt minus-corpus — the
  *    only family with cross-doc derived state, where deletion must
  *    run the fold's singleton-promotion in reverse);
  *  - deletes are idempotent, and replaying an ingest batch containing
  *    a tombstoned doc appends nothing (sticky until compaction);
  *  - a compaction crash in the drop window recovers WITH the deletion
  *    intact (unfiltered staging + surviving sidecar);
  *  - Maintenance.compactAll materializes the deletion physically and
  *    clears the sidecars without changing any query result.
  *
  * Isolated corpus (own fingerprint, own tables) — the IndexAppendSpec
  * discipline. */
class IndexDeleteSpec extends SparkSpec {

  private val CopyOff = 5000000L

  // corpus = a doc slice + full-text copies of a sub-slice, so
  // cross-doc duplicate pairs and duplicated spans exist by
  // construction; drop set = SOME copies (their originals' spans then
  // demote iff no other copy keeps them duplicated)
  private lazy val cDir: String = {
    val d = SparkSpec.tempDir("graft_del_corpus")
    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0)
    val copies = docs.filter(col("doc_id") % 9 === 0)
      .withColumn("doc_id", col("doc_id") + CopyOff)
    docs.unionByName(copies).write.parquet(d + "/documents.parquet")
    graft.Tables.embeddings(spark, sfDir)
      .write.parquet(d + "/embeddings.parquet")
    d
  }

  private lazy val dropIds: Seq[Long] =
    graft.Tables.documents(spark, cDir)
      .filter(col("doc_id") >= CopyOff).select("doc_id")
      .collect().map(_.getLong(0)).sorted.take(2).toSeq

  // the fresh-build-minus-docs corpus: same rows minus the drop set
  private lazy val cDir2: String = {
    val d = SparkSpec.tempDir("graft_del_minus")
    graft.Tables.documents(spark, cDir)
      .filter(!col("doc_id").isin(dropIds: _*))
      .write.parquet(d + "/documents.parquet")
    d
  }

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("minhash+shingle delete equals fresh-build-minus; replay no-op; compaction materializes") {
    val all = graft.Tables.documents(spark, cDir)
    val remaining = all.filter(!col("doc_id").isin(dropIds: _*))
    // build both tables, then delete
    Dedup.minhashIndexTable(spark, cDir).count()
    assert(IndexFamily.dedup.remove(spark, cDir, dropIds) === dropIds.size.toLong)
    assert(IndexFamily.dedup.remove(spark, cDir, dropIds) === 0L) // idempotent

    // fresh-build-minus identity: per-doc state only, so the filtered
    // view must equal postings/shingles computed from the survivors
    val freshPost = rowSet(Dedup.postingsOf(Dedup.shinglesOfDocs(remaining)))
    assert(rowSet(Dedup.minhashIndexTable(spark, cDir)) === freshPost)
    val survivorIds = remaining.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(Dedup.shingleIndexTable(spark, cDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet === survivorIds)

    // replaying an ingest containing a tombstoned doc appends nothing
    val batch = all.filter(col("doc_id").isin(dropIds: _*))
    assert(Dedup.appendToIndex(spark, cDir, batch) === 0L)
    assert(rowSet(Dedup.minhashIndexTable(spark, cDir)) === freshPost)

    // crash window: compaction staged out + dropped the table, died
    // before the rewrite — recovery restores the UNFILTERED snapshot
    // and the sidecar still filters it
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_minhash_idx_"))
      .filter(_.contains(cDir.replaceAll("[^A-Za-z0-9]", "_"))).head
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location.toString
    spark.table(tbl).write.parquet(
      loc.stripSuffix("/") + "_compact_staging")
    spark.sql(s"DROP TABLE $tbl")
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    assert(rowSet(Dedup.minhashIndexTable(spark, cDir)) === freshPost)

    // physical materialization: raw rows gone, sidecar gone, view same
    val rawBefore = Dedup.minhashIndexTable(spark, cDir, raw = true).count()
    IndexFamily.dedup.compact(spark, cDir)
    assert(Dedup.minhashIndexTable(spark, cDir, raw = true).count()
      < rawBefore)
    assert(spark.catalog.listTables().collect().map(_.name)
      .count(n => n.startsWith("graft_tomb_dedup_") &&
        n.contains(cDir.replaceAll("[^A-Za-z0-9]", "_"))) === 0)
    assert(rowSet(Dedup.minhashIndexTable(spark, cDir)) === freshPost)
  }

  test("simhash delete equals fresh-build-minus and compaction preserves it") {
    val remaining = graft.Tables.documents(spark, cDir)
      .filter(!col("doc_id").isin(dropIds: _*))
    Dedup.simhashIndexTable(spark, cDir).count()
    assert(IndexFamily.simhash.remove(spark, cDir, dropIds)
      === dropIds.size.toLong)
    val fresh = rowSet(
      Dedup.simhashPostingsOfDocs(Dedup.simhashSigsOfDocs(remaining)))
    assert(rowSet(Dedup.simhashIndexTable(spark, cDir)) === fresh)
    IndexFamily.simhash.compact(spark, cDir)
    assert(rowSet(Dedup.simhashIndexTable(spark, cDir)) === fresh)
    assert(rowSet(Dedup.simhashIndexTable(spark, cDir, raw = true))
      === fresh)
  }

  test("span delete demotes singletons: index equals a literal rebuild minus the docs") {
    Dedup.spanIndexTable(spark, cDir).count()
    assert(IndexFamily.span.remove(spark, cDir, dropIds)
      === dropIds.size.toLong)
    assert(IndexFamily.span.remove(spark, cDir, dropIds) === 0L)
    // THE demotion proof: the filtered view must equal the span index
    // a fresh build over corpus-minus-dropped produces — including
    // spans of SURVIVING docs that stopped being duplicated when their
    // only other copy was deleted
    val rebuilt = rowSet(Dedup.spanIndexTable(spark, cDir2))
    assert(rowSet(Dedup.spanIndexTable(spark, cDir)) === rebuilt)
    // and the APPLY pass agrees doc for doc with the minus-corpus
    val survivors = rowSet(Dedup.despan(spark, cDir)
      .filter(!col("doc_id").isin(dropIds: _*)))
    assert(survivors === rowSet(Dedup.despan(spark, cDir2)))
    // physical materialization keeps both identities
    IndexFamily.span.compact(spark, cDir)
    assert(rowSet(Dedup.spanIndexTable(spark, cDir)) === rebuilt)
    assert(rowSet(Dedup.spanIndexTable(spark, cDir, raw = true)) === rebuilt)
  }

  test("span delete then re-duplicating append then compact keeps the re-promoted marker") {
    // own corpus: the sequence needs full control of the sidecar
    // lifecycle (the shared cDir's span sidecars are compacted away by
    // the demotion test above). Original docs + one copy each → every
    // original's spans are duplicated; dropping the copies demotes
    // them; a SECOND copy appended afterwards re-promotes them — the
    // r17 ADVICE corruption sequence: the demotion must not survive
    // the re-duplication, through compaction included.
    val d = SparkSpec.tempDir("graft_del_redup")
    val originals = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 11 === 1)
      .filter(length(col("text")) >= Dedup.SpanLen)
    val copies = originals.withColumn("doc_id", col("doc_id") + CopyOff)
    originals.unionByName(copies).write.parquet(d + "/documents.parquet")
    Dedup.spanIndexTable(spark, d).count() // first build
    val drop = graft.Tables.documents(spark, d)
      .filter(col("doc_id") >= CopyOff).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(IndexFamily.span.remove(spark, d, drop) === drop.size.toLong)
    // the batch: a fresh copy of every original, new ids
    val batch = originals.withColumn("doc_id", col("doc_id") + 2 * CopyOff)
    assert(Dedup.appendSpanToIndex(spark, d, batch) > 0L)
    // rebuild oracle: survivors + batch as a fresh corpus
    val d2 = SparkSpec.tempDir("graft_del_redup2")
    originals.unionByName(batch).write.parquet(d2 + "/documents.parquet")
    val rebuilt = rowSet(Dedup.spanIndexTable(spark, d2))
    assert(rowSet(Dedup.spanIndexTable(spark, d)) === rebuilt)
    // compaction must KEEP the re-promoted markers (the invalidated
    // demotion), not materialize the stale demotion physically
    IndexFamily.span.compact(spark, d)
    assert(rowSet(Dedup.spanIndexTable(spark, d)) === rebuilt)
    assert(rowSet(Dedup.spanIndexTable(spark, d, raw = true)) === rebuilt)
    // and despan agrees with the rebuilt corpus doc-for-doc over the
    // originals (the only docs present in both corpus parquets)
    assert(rowSet(Dedup.despan(spark, d).filter(col("doc_id") < CopyOff))
      === rowSet(Dedup.despan(spark, d2).filter(col("doc_id") < CopyOff)))
  }

  test("semantic delete drops the vecs from postings and pairs; compaction clears") {
    val vecDrop = Similarity.semPostingTable(spark, cDir,
        Dedup.BroadcastVerifyBytes, raw = true)
      .select("vec_id").limit(2).collect().map(_.getLong(0)).toSeq
    assert(IndexFamily.sem.remove(spark, cDir, vecDrop)
      === vecDrop.size.toLong)
    val expected = rowSet(Similarity.semPostingTable(spark, cDir,
        Dedup.BroadcastVerifyBytes, raw = true)
      .filter(!col("vec_id").isin(vecDrop: _*)))
    assert(rowSet(Similarity.semPostingTable(spark, cDir,
      Dedup.BroadcastVerifyBytes)) === expected)
    val pairs = Similarity.dedupSemantic(spark, cDir)
    val ids = pairs.select("v1")
      .unionByName(pairs.select(col("v2").as("v1")))
      .collect().map(_.getLong(0)).toSet
    assert(vecDrop.forall(v => !ids(v)))
    IndexFamily.sem.compact(spark, cDir)
    assert(rowSet(Similarity.semPostingTable(spark, cDir,
      Dedup.BroadcastVerifyBytes, raw = true)) === expected)
  }

  test("ann delete removes the vecs from every read; compactAll materializes and clears") {
    val codes = Similarity.codeTable(spark, cDir, "md5", raw = true)
    val vecDrop = codes.select("vec_id").limit(2).collect()
      .map(_.getLong(0)).toSeq
    assert(IndexFamily.ann.remove(spark, cDir, vecDrop)
      === vecDrop.size.toLong)
    val expected = rowSet(Similarity.codeTable(spark, cDir, "md5",
      raw = true).filter(!col("vec_id").isin(vecDrop: _*)))
    assert(rowSet(Similarity.codeTable(spark, cDir, "md5")) === expected)
    // an ADC search can never return a removed vec
    val res = Similarity.annIvfPq(spark, cDir)
    assert(res.filter(col("vec_id").isin(vecDrop: _*)).count() === 0L)
    // full-family sweep: physical rows gone, sidecar cleared, view same
    Maintenance.compactAll(spark, cDir)
    assert(rowSet(Similarity.codeTable(spark, cDir, "md5", raw = true))
      === expected)
    assert(spark.catalog.listTables().collect().map(_.name)
      .count(n => n.startsWith("graft_tomb_ann_") &&
        n.contains(cDir.replaceAll("[^A-Za-z0-9]", "_"))) === 0)
    // REBUILT plan post-compaction (a pre-compaction lazy frame holds
    // the dropped sidecar in its plan — the documented
    // reader-vs-nightly-window caveat, IndexFamily.IndexLocks doc)
    assert(Similarity.annIvfPq(spark, cDir)
      .filter(col("vec_id").isin(vecDrop: _*)).count() === 0L)
  }

  test("lmscore delete removes the doc's row; compaction materializes") {
    TrainingPrep.bigramScoredTable(spark, cDir).count()
    assert(IndexFamily.lmscore.remove(spark, cDir, dropIds)
      === dropIds.size.toLong)
    val scored = TrainingPrep.bigramLogprob(spark, cDir)
    assert(scored.filter(col("doc_id").isin(dropIds: _*)).count() === 0L)
    val expected = rowSet(scored)
    val rawBefore = TrainingPrep.bigramScoredTable(spark, cDir,
      raw = true).count()
    assert(IndexFamily.lmscore.compact(spark, cDir) === 1)
    assert(TrainingPrep.bigramScoredTable(spark, cDir, raw = true).count()
      < rawBefore)
    assert(rowSet(TrainingPrep.bigramLogprob(spark, cDir)) === expected)
  }
}
