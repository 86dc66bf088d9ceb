package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The trained quality classifier (r16 verdict item 1): fixed-round
  * deterministic logistic regression whose labels come from the
  * engine's own LM terciles.
  *
  * Note on separation: on the synthetic corpus the quality features
  * are nearly independent of the bigram-LM strata (offline AUC ≈ 0.55
  * at any round count — measured r17), so these tests pin the
  * TRAINING CONTRACT (determinism, convergence movement, label
  * provenance, apply consistency), not a discrimination level the
  * data cannot support. */
class QualityClfSpec extends SparkSpec {

  test("training is deterministic: retrain after cache clear gives identical weights") {
    val w1 = QualityClf.trainedWeights(spark, sfDir)
    // (a) reload path: memo cleared, persisted sidecar present — the
    // reloaded model must BE the trained model (parquet doubles
    // round-trip bit-exactly, the persistedBook discipline)
    ArtifactCache.drop(s"qclf_w:$sfDir")
    ArtifactCache.drop(s"quality_train_$sfDir")
    val w2 = QualityClf.trainedWeights(spark, sfDir)
    assert(w1.toSeq == w2.toSeq)
    // (b) true retrain: drop the sidecar too, so the whole GD chain
    // re-runs — fixed-round determinism, not just storage identity
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_qclf_"))
      .filter(_.contains(sfDir.replaceAll("[^A-Za-z0-9]", "_"))).head
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location
    spark.sql(s"DROP TABLE $tbl")
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ArtifactCache.drop(s"qclf_w:$sfDir")
    ArtifactCache.drop(s"quality_train_$sfDir")
    val w3 = QualityClf.trainedWeights(spark, sfDir)
    assert(w1.toSeq == w3.toSeq)
    // every weight sits on the 6-dp lattice the oracle mirrors
    w1.foreach(w => assert(graft.Num.roundEpsJvm(w, 6) == w))
  }

  test("training moves the weights off zero init") {
    val w = QualityClf.trainedWeights(spark, sfDir)
    assert(w.length == QualityClf.NumFeatures)
    assert(w.exists(_ != 0.0))
    // the bias heads toward logit(1/3) < 0: head tercile is the
    // positive class, so an untrained p=0.5 over-predicts it
    assert(w(0) < 0.0)
  }

  test("labels are the lmBuckets head tercile") {
    val clf = QualityClf.qualityClf(spark, sfDir)
    val heads = TrainingPrep.lmBuckets(spark, sfDir)
      .filter(col("bucket") === "head").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val labeled = clf.filter(col("label") === 1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(labeled == heads)
    // and the classifier scores exactly the lmBuckets population
    assert(clf.count() == TrainingPrep.lmBuckets(spark, sfDir).count())
  }

  test("apply keeps exactly the docs whose score clears the threshold") {
    val kept = QualityClf.qualityApply(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = QualityClf.qualityClf(spark, sfDir)
      .filter(col("clf_score") >= QualityClf.Threshold)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == expected)
    assert(kept.nonEmpty)
  }
}
