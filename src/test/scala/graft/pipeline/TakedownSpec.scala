package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The unified takedown orchestrator (r18 verdict item 2):
  * `Maintenance.takedown(spark, dir, docIds, vecIds, permanent)` is
  * the ONE compliance entry point — a single call must make every
  * persisted family of both id domains forget the ids, with the same
  * per-family guarantees the individual `IndexFamily.remove` calls pin in
  * IndexDeleteSpec (rebuild-minus identity, sticky replay, compaction
  * preserving). The streaming twins read the same sidecar-filtered
  * views these assertions scan (their per-family specs pin that), so
  * the view-level identities here cover the stream serving path too.
  *
  * Isolated corpus (own fingerprint, own tables) — the IndexDeleteSpec
  * discipline. */
class TakedownSpec extends SparkSpec {

  private val CopyOff = 5000000L

  // docs + full-text copies of a sub-slice so duplicated spans exist
  // (the family whose delete path has cross-doc derived state)
  private lazy val cDir: String = {
    val d = SparkSpec.tempDir("graft_takedown")
    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0)
    val copies = docs.filter(col("doc_id") % 9 === 0)
      .withColumn("doc_id", col("doc_id") + CopyOff)
    docs.unionByName(copies).write.parquet(d + "/documents.parquet")
    graft.Tables.embeddings(spark, sfDir)
      .write.parquet(d + "/embeddings.parquet")
    d
  }

  private lazy val dropDocs: Seq[Long] =
    graft.Tables.documents(spark, cDir)
      .filter(col("doc_id") >= CopyOff).select("doc_id")
      .collect().map(_.getLong(0)).sorted.take(2).toSeq

  private lazy val dropVecs: Seq[Long] =
    graft.Tables.embeddings(spark, cDir)
      .select("vec_id").limit(2).collect().map(_.getLong(0)).toSeq

  // fresh-build-minus oracle corpus for the doc families
  private lazy val cDirMinus: String = {
    val d = SparkSpec.tempDir("graft_takedown_m")
    graft.Tables.documents(spark, cDir)
      .filter(!col("doc_id").isin(dropDocs: _*))
      .write.parquet(d + "/documents.parquet")
    d
  }

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("one takedown call scrubs every family; replay and compaction preserve it") {
    val remaining = graft.Tables.documents(spark, cDir)
      .filter(!col("doc_id").isin(dropDocs: _*))
    // materialize every persisted family BEFORE the takedown, so each
    // has real stored state to forget
    Dedup.minhashIndexTable(spark, cDir).count()
    Dedup.simhashIndexTable(spark, cDir).count()
    Dedup.spanIndexTable(spark, cDir).count()
    TrainingPrep.bigramScoredTable(spark, cDir).count()
    Multimodal.dhashSigs(spark, cDir, raw = true).count()
    Similarity.codeTable(spark, cDir, "md5", raw = true).count()
    Similarity.semPostingTable(spark, cDir,
      Dedup.BroadcastVerifyBytes, raw = true).count()

    val mmRawMinus = rowSet(Multimodal.dhashSigs(spark, cDir, raw = true)
      .filter(!col("doc_id").isin(dropDocs: _*)))

    val annRawMinus = rowSet(Similarity.codeTable(spark, cDir, "md5",
      raw = true).filter(!col("vec_id").isin(dropVecs: _*)))
    val semRawMinus = rowSet(Similarity.semPostingTable(spark, cDir,
        Dedup.BroadcastVerifyBytes, raw = true)
      .filter(!col("vec_id").isin(dropVecs: _*)))

    // THE call under test: both domains, every family, one entry point
    val recorded = Maintenance.takedown(spark, cDir, dropDocs, dropVecs)
    assert(recorded.keySet ===
      Set("dedup", "simhash", "span", "lmscore", "mm", "ann", "sem"))
    assert(recorded.values.forall(_ === dropDocs.size.toLong))
    // idempotent: a second identical call records nothing anywhere
    assert(Maintenance.takedown(spark, cDir, dropDocs, dropVecs)
      .values.forall(_ === 0L))

    // doc families: rebuild-minus identity (per-doc state → fresh
    // postings of the survivors; span → literal minus-corpus rebuild
    // including the reverse singleton demotion)
    val freshPost =
      rowSet(Dedup.postingsOf(Dedup.shinglesOfDocs(remaining)))
    assert(rowSet(Dedup.minhashIndexTable(spark, cDir)) === freshPost)
    val freshSim = rowSet(
      Dedup.simhashPostingsOfDocs(Dedup.simhashSigsOfDocs(remaining)))
    assert(rowSet(Dedup.simhashIndexTable(spark, cDir)) === freshSim)
    val spanRebuilt = rowSet(Dedup.spanIndexTable(spark, cDirMinus))
    assert(rowSet(Dedup.spanIndexTable(spark, cDir)) === spanRebuilt)
    // query surfaces over those indexes agree too
    assert(rowSet(Dedup.despan(spark, cDir)
        .filter(!col("doc_id").isin(dropDocs: _*)))
      === rowSet(Dedup.despan(spark, cDirMinus)))
    assert(TrainingPrep.bigramLogprob(spark, cDir)
      .filter(col("doc_id").isin(dropDocs: _*)).count() === 0L)
    // image family (r19 verdict item 8 — the persisted dHash signature
    // table): filtered view == raw-minus, and the pair surface stops
    // serving the dropped docs
    assert(rowSet(Multimodal.dhashSigs(spark, cDir)) === mmRawMinus)
    assert(Multimodal.imageDhash(spark, cDir)
      .filter(col("d1").isin(dropDocs: _*) ||
        col("d2").isin(dropDocs: _*)).count() === 0L)

    // vec families: filtered view == raw-minus (FAISS remove_ids
    // stance — a delete never retrains), and no search surface can
    // return a removed vec
    assert(rowSet(Similarity.codeTable(spark, cDir, "md5")) === annRawMinus)
    assert(Similarity.annIvfPq(spark, cDir)
      .filter(col("vec_id").isin(dropVecs: _*)).count() === 0L)
    assert(rowSet(Similarity.semPostingTable(spark, cDir,
      Dedup.BroadcastVerifyBytes)) === semRawMinus)
    val semPairs = Similarity.dedupSemantic(spark, cDir)
    val semIds = semPairs.select("v1")
      .unionByName(semPairs.select(col("v2").as("v1")))
      .collect().map(_.getLong(0)).toSet
    assert(dropVecs.forall(v => !semIds(v)))

    // replay: an ingest batch containing a taken-down doc appends
    // nothing (sticky until compaction)
    val batch = graft.Tables.documents(spark, cDir)
      .filter(col("doc_id").isin(dropDocs: _*))
    assert(Dedup.appendToIndex(spark, cDir, batch) === 0L)
    assert(rowSet(Dedup.minhashIndexTable(spark, cDir)) === freshPost)

    // nightly sweep: physical materialization across ALL families in
    // one compactAll, every identity preserved, doc/ann sidecars gone
    Maintenance.compactAll(spark, cDir)
    assert(rowSet(Dedup.minhashIndexTable(spark, cDir, raw = true))
      === freshPost)
    assert(rowSet(Dedup.simhashIndexTable(spark, cDir, raw = true))
      === freshSim)
    assert(rowSet(Dedup.spanIndexTable(spark, cDir, raw = true))
      === spanRebuilt)
    assert(rowSet(Similarity.codeTable(spark, cDir, "md5", raw = true))
      === annRawMinus)
    assert(rowSet(Similarity.semPostingTable(spark, cDir,
      Dedup.BroadcastVerifyBytes, raw = true)) === semRawMinus)
    assert(rowSet(Multimodal.dhashSigs(spark, cDir, raw = true))
      === mmRawMinus)
    val cSlug = cDir.replaceAll("[^A-Za-z0-9]", "_")
    assert(spark.catalog.listTables().collect().map(_.name)
      .count(n => (n.startsWith("graft_tomb_dedup_") ||
        n.startsWith("graft_tomb_ann_") ||
        n.startsWith("graft_tomb_mm_")) && n.contains(cSlug)) === 0)
  }

  test("a takedown reaches the signature view another session already read") {
    // own corpus (docs + full-text copies, so duplicated spans exist,
    // and vectors): no sidecar exists when session B first reads, so
    // every view B built had Tombstones.minus as the identity
    val d = SparkSpec.tempDir("graft_takedown_x")
    val docs = graft.Tables.documents(spark, sfDir).limit(60)
    docs.unionByName(docs.limit(6).withColumn("doc_id", col("doc_id") + CopyOff))
      .write.parquet(d + "/documents.parquet")
    graft.Tables.embeddings(spark, sfDir).limit(60)
      .write.parquet(d + "/embeddings.parquet")
    // every family's tables: (family, id column, frame)
    def views(s: org.apache.spark.sql.SparkSession,
        raw: Boolean): Seq[(String, String, DataFrame)] = Seq(
      ("dedup", "doc_id", Dedup.minhashIndexTable(s, d, raw)),
      ("dedup", "doc_id", Dedup.shingleIndexTable(s, d, raw)),
      ("simhash", "doc_id", Dedup.simhashIndexTable(s, d, raw)),
      ("span", "doc_id", Dedup.spanIndexTable(s, d, raw)),
      ("span", "doc_id", Dedup.spanPostTable(s, d, raw)),
      ("lmscore", "doc_id", TrainingPrep.bigramScoredTable(s, d, raw)),
      ("mm", "doc_id", Multimodal.dhashSigs(s, d, raw)),
      ("ann", "vec_id", Similarity.codeTable(s, d, "md5", raw)),
      ("sem", "vec_id", Similarity.semPostingTable(s, d,
        Dedup.BroadcastVerifyBytes, raw)))
    def ids(df: DataFrame, c: String): Set[Long] =
      df.select(c).collect().map(_.getLong(0)).toSet
    val b = spark.newSession()
    val before = views(b, raw = false).map { case (_, c, df) => (c, ids(df, c)) }
    // one doc and one vec every table of its domain holds
    def common(c: String): Long =
      before.filter(_._1 == c).map(_._2).reduce(_ intersect _).min
    val gone = Map("doc_id" -> common("doc_id"), "vec_id" -> common("vec_id"))
    val sigsBefore = ids(Multimodal.dhashSigs(b, d), "doc_id")

    assert(Maintenance.takedown(spark, d, Seq(gone("doc_id")),
      Seq(gone("vec_id"))) === IndexFamily.all.map(_.key -> 1L).toMap)
    // the signature view session B cached, and every default view in B,
    // in this session and in a session opened after the takedown
    assert(ids(Multimodal.dhashSigs(b, d), "doc_id") === sigsBefore - gone("doc_id"))
    assert(ids(Multimodal.dhashSigs(spark, d), "doc_id")
      === sigsBefore - gone("doc_id"))
    Seq(b, spark, spark.newSession()).foreach { s =>
      views(s, raw = false).foreach { case (f, c, df) =>
        assert(!ids(df, c).contains(gone(c)), s"$f view still serves ${gone(c)}")
      }
    }
    // the physical tables keep the ids until the nightly sweep
    views(spark.newSession(), raw = true).foreach { case (f, c, df) =>
      assert(ids(df, c).contains(gone(c)), s"$f raw table lost ${gone(c)} early")
    }
    Maintenance.compactAll(spark, d)
    views(spark.newSession(), raw = true).foreach { case (f, c, df) =>
      assert(!ids(df, c).contains(gone(c)), s"$f compaction kept ${gone(c)}")
    }
  }

  test("a scoped permanent remove reaches a view another session cached") {
    // the registry is shared by every family of the domain: a permanent
    // remove through dedup alone must still drop the mm signature view
    // session B cached before it
    val d = SparkSpec.tempDir("graft_takedown_r")
    graft.Tables.documents(spark, sfDir).limit(40)
      .write.parquet(d + "/documents.parquet")
    val b = spark.newSession()
    def sigIds(s: org.apache.spark.sql.SparkSession): Set[Long] =
      Multimodal.dhashSigs(s, d).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    val before = sigIds(b)
    val gone = before.min
    assert(IndexFamily.dedup.remove(spark, d, Seq(gone), permanent = true)
      === 1L)
    assert(sigIds(b) === before - gone)
  }

  test("permanent takedown records both id domains in the registry once") {
    // separate corpus: registry state must not leak into the main test
    val d = SparkSpec.tempDir("graft_takedown_p")
    graft.Tables.documents(spark, sfDir).limit(50)
      .write.parquet(d + "/documents.parquet")
    graft.Tables.embeddings(spark, sfDir).limit(50)
      .write.parquet(d + "/embeddings.parquet")
    val docs = Seq(1L, 2L)
    val vecs = Seq(3L)
    Maintenance.takedown(spark, d, docs, vecs, permanent = true)
    assert(Registry.ids(spark, d, Registry.Doc) === docs)
    assert(Registry.ids(spark, d, Registry.Vec) === vecs)
    // never-reingest: a replayed append of a permanently removed doc
    // lands nothing even AFTER its sidecar would have compacted away
    val batch = graft.Tables.documents(spark, d)
      .filter(col("doc_id").isin(docs: _*))
    assert(Dedup.appendToIndex(spark, d, batch) === 0L)
  }
}
