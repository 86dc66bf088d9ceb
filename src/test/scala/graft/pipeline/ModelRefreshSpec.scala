package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Drop-fraction-triggered deterministic model refresh (r17 verdict
  * item 1): permanent removals below [[Maintenance.ModelRefreshThreshold]]
  * never retrain (FAISS remove_ids stance — reads serve through
  * registry/sidecar filtering of the old generation); once the
  * permanently removed fraction of a domain's training population
  * crosses the threshold, `Maintenance.compactAll` advances the model
  * basis and re-fits every present trained artifact with the same
  * fixed-round trainers. The gold standard per family: the refreshed
  * artifact must be IDENTICAL to a fresh train over a corpus that
  * never contained the removed rows.
  *
  * Isolated corpora (own fingerprints, own tables, own registries) —
  * the IndexDeleteSpec discipline. */
class ModelRefreshSpec extends SparkSpec {

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def tablesFor(d: String, prefix: String): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq
      .filter(n => n.startsWith(prefix) &&
        n.contains(d.replaceAll("[^A-Za-z0-9]", "_"))).sorted

  test("doc domain: threshold crossing retrains LM + classifier to fresh-train-minus identity") {
    val d = SparkSpec.tempDir("graft_refresh_doc")
    graft.Tables.documents(spark, sfDir)
      .write.parquet(d + "/documents.parquet")
    // train the old generation of EVERY doc-domain trained family:
    // the scored LM artifact + classifier weights, the BPE merges,
    // and (via one tiny fold) the frozen-LM type/unigram tables
    TrainingPrep.bigramScoredTable(spark, d, raw = true).count()
    QualityClf.qualityClf(spark, d).count()
    val oldMerges = Bpe.trainMerges(spark, d)
    val foldBatch = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 97 === 3)
      .withColumn("doc_id", col("doc_id") + 7000000L)
    assert(TrainingPrep.appendScored(spark, d, foldBatch) > 0L)
    val oldTables =
      tablesFor(d, "graft_lmscore_") ++ tablesFor(d, "graft_qclf_") ++
        tablesFor(d, "graft_bpe_") ++ tablesFor(d, "graft_lmtypes_") ++
        tablesFor(d, "graft_lmuni_")
    assert(oldTables.size === 5)

    // 2% of the corpus permanently removed (ids above every seed
    // range) — crosses the 1% threshold
    val removed = graft.Tables.documents(spark, d)
      .filter(col("doc_id") >= 300 && col("doc_id") < 310)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(removed.size >= 5)
    assert(IndexFamily.lmscore.remove(spark, d, removed,
      permanent = true) === removed.size.toLong)

    val counts = Maintenance.compactAll(spark, d)
    assert(counts.getOrElse("models_doc", 0) >= 5,
      s"expected LM + classifier + BPE + fold-LM refreshes, got $counts")
    // old-generation tables dropped, new generation (basis-suffixed)
    // tables in their place
    val newTables =
      tablesFor(d, "graft_lmscore_") ++ tablesFor(d, "graft_qclf_") ++
        tablesFor(d, "graft_bpe_") ++ tablesFor(d, "graft_lmtypes_") ++
        tablesFor(d, "graft_lmuni_")
    assert(newTables.size === 5)
    assert(newTables.toSet.intersect(oldTables.toSet).isEmpty)
    assert(newTables.forall(_.contains("_g")))

    // the gold standard: identical to a fresh train over a corpus
    // that never contained the removed docs — for EVERY family
    val m = SparkSpec.tempDir("graft_refresh_minus")
    graft.Tables.documents(spark, d)
      .filter(!col("doc_id").isin(removed: _*))
      .write.parquet(m + "/documents.parquet")
    assert(rowSet(TrainingPrep.bigramLogprob(spark, d)
        .filter(col("doc_id") < 7000000L))
      === rowSet(TrainingPrep.bigramLogprob(spark, m)))
    assert(rowSet(QualityClf.qualityClf(spark, d))
      === rowSet(QualityClf.qualityClf(spark, m)))
    // force the persisted-table read of the new gen
    ArtifactCache.drop(s"bpe:$d")
    assert(Bpe.trainMerges(spark, d) === Bpe.trainMerges(spark, m))
    assert(oldMerges.nonEmpty) // the old generation really trained
    // the FOLDED (stream-only) docs' scores SURVIVE the refresh —
    // re-scored under the new generation's LM from the persisted
    // raw-doc extension table (r18 ADVICE medium item: previously the
    // rebuild silently dropped them until the source replayed), so a
    // replay of the same batch is now a no-op on the refreshed table
    assert(TrainingPrep.bigramLogprob(spark, d)
      .filter(col("doc_id") >= 7000000L).count() > 0L)
    assert(TrainingPrep.appendScored(spark, d, foldBatch) === 0L)
    // the rebuilt frozen-LM tables (lmtypes/lmuni): folding the SAME
    // novel batch into the fresh-minus twin must score it identically
    // to the refresh's own re-fold (pins the backoff tables' content)
    assert(TrainingPrep.appendScored(spark, m, foldBatch) > 0L)
    val batchIds = foldBatch.select("doc_id").collect()
      .map(_.getLong(0)).toSeq
    assert(rowSet(TrainingPrep.bigramLogprob(spark, d)
        .filter(col("doc_id").isin(batchIds: _*)))
      === rowSet(TrainingPrep.bigramLogprob(spark, m)
        .filter(col("doc_id").isin(batchIds: _*))))

    // below-threshold no-op pin: ONE more permanent removal (0.2%)
    // must not advance the generation again
    val one = graft.Tables.documents(spark, d)
      .filter(col("doc_id") === 311).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(one.size === 1)
    IndexFamily.lmscore.remove(spark, d, one, permanent = true)
    val counts2 = Maintenance.compactAll(spark, d)
    assert(!counts2.contains("models_doc"), s"no-op expected, got $counts2")
    assert((tablesFor(d, "graft_lmscore_") ++ tablesFor(d, "graft_qclf_") ++
        tablesFor(d, "graft_bpe_") ++ tablesFor(d, "graft_lmtypes_") ++
        tablesFor(d, "graft_lmuni_"))
      === newTables)
    // ...but the removed doc's row still leaves every read immediately
    // (registry filtering, not retraining)
    assert(TrainingPrep.bigramLogprob(spark, d)
      .filter(col("doc_id").isin(one: _*)).count() === 0L)
  }

  test("a basis advance reaches a session that read the old basis") {
    val d = SparkSpec.tempDir("graft_refresh_x")
    graft.Tables.documents(spark, sfDir).limit(100)
      .write.parquet(d + "/documents.parquet")
    val b = spark.newSession()
    assert(Registry.basisSuffix(b, d, Registry.Doc) === "")
    // 5% permanently removed — crosses the 1% threshold
    val removed = graft.Tables.documents(spark, d).select("doc_id")
      .collect().map(_.getLong(0)).sorted.take(5).toSeq
    Registry.addPermanent(spark, d, Registry.Doc, removed)
    Maintenance.compactAll(spark, d)
    val advanced = Registry.basisSuffix(spark, d, Registry.Doc)
    assert(advanced.startsWith("_g"))
    assert(Registry.basisSuffix(b, d, Registry.Doc) === advanced)
  }

  test("vec domain: threshold crossing retrains books + codes to fresh-train-minus identity") {
    val d = SparkSpec.tempDir("graft_refresh_vec")
    graft.Tables.embeddings(spark, sfDir)
      .write.parquet(d + "/embeddings.parquet")
    // old generation: trained books + the trained-kind code table
    Similarity.codeTable(spark, d, "trained", raw = true).count()
    val oldCb = Similarity.trainedCodebook(spark, d)
    val oldTables = tablesFor(d, "graft_anncodes_trained_")
    assert(oldTables.size === 1)

    // 2% of the vectors permanently removed, above the codebook /
    // centroid seed ranges (ids < 256 seed the trainers)
    val removed = (300L until 310L).toSeq
    assert(IndexFamily.ann.remove(spark, d, removed,
      permanent = true) === removed.size.toLong)
    val counts = Maintenance.compactAll(spark, d)
    assert(counts.getOrElse("models_vec", 0) >= 3,
      s"expected books + codes refresh, got $counts")
    val newTables = tablesFor(d, "graft_anncodes_trained_")
    assert(newTables.size === 1 && newTables != oldTables)

    // gold standard vs a corpus that never contained the removed vecs
    val m = SparkSpec.tempDir("graft_refreshv_minus")
    graft.Tables.embeddings(spark, d)
      .filter(!col("vec_id").isin(removed: _*))
      .write.parquet(m + "/embeddings.parquet")
    val newCb = Similarity.trainedCodebook(spark, d)
    val freshCb = Similarity.trainedCodebook(spark, m)
    assert(newCb.map(_.map(_.toSeq).toSeq).toSeq
      === freshCb.map(_.map(_.toSeq).toSeq).toSeq)
    assert(newCb.map(_.map(_.toSeq).toSeq).toSeq
      !== oldCb.map(_.map(_.toSeq).toSeq).toSeq)
    assert(rowSet(Similarity.codeTable(spark, d, "trained"))
      === rowSet(Similarity.codeTable(spark, m, "trained")))

    // below-threshold no-op pin
    assert(IndexFamily.ann.remove(spark, d, Seq(311L),
      permanent = true) === 1L)
    val counts2 = Maintenance.compactAll(spark, d)
    assert(!counts2.contains("models_vec"), s"no-op expected, got $counts2")
    assert(tablesFor(d, "graft_anncodes_trained_") === newTables)
    // registry filtering still hides it from every read immediately
    assert(Similarity.codeTable(spark, d, "trained")
      .filter(col("vec_id") === 311L).count() === 0L)
  }
}
