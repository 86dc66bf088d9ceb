package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The frozen-LM fold (r17): `TrainingPrep.appendScored` scores a new
  * batch under the STORED corpus LM and appends into the score
  * artifact — the production CCNet ingest (LM trains once, scores
  * every later batch frozen, like the PQ codebooks). Proofs:
  *  - copy identity: a folded doc whose text equals a corpus doc's
  *    scores EXACTLY the corpus doc's stored score (every bigram type
  *    known → same per-type lp, same 6-dp rounding);
  *  - the fold is idempotent at doc granularity (replay folds 0);
  *  - OOV backoff is finite and deterministic (a doc of tokens the LM
  *    never saw scores the documented Laplace-floored unigram
  *    remainder, not -inf/NaN);
  *  - downstream consumers see the grown corpus: lmBuckets cuts its
  *    terciles over stored + folded rows.
  * Isolated corpus (own fingerprint/tables — the IndexAppendSpec
  * discipline). */
class LmFoldSpec extends SparkSpec {

  private val CopyOff = 7000000L

  private lazy val cDir: String = {
    val d = SparkSpec.tempDir("graft_lmfold")
    graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 0)
      .write.parquet(d + "/documents.parquet")
    d
  }

  test("copy identity: folded copies score exactly their originals' stored scores") {
    val originals = graft.Tables.documents(spark, cDir)
      .filter(col("doc_id") % 9 === 0)
    val batch = originals.withColumn("doc_id", col("doc_id") + CopyOff)
    val n = batch.count()
    assert(n > 0)
    assert(TrainingPrep.appendScored(spark, cDir, batch) === n)
    val scored = TrainingPrep.bigramLogprob(spark, cDir)
      .select(col("doc_id"), col("n_bigrams"), col("avg_logprob"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    originals.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(scored.contains(id + CopyOff), s"copy of $id missing")
      assert(scored(id + CopyOff) === scored(id),
        s"copy of $id diverged from its original under the frozen LM")
    }
    // replay folds nothing
    assert(TrainingPrep.appendScored(spark, cDir, batch) === 0L)
  }

  test("OOV backoff is finite and deterministic") {
    import spark.implicits._
    // tokens the corpus LM cannot contain (corpus text is lowercase
    // alphanumeric words; these carry unique uppercase markers)
    val oov = Seq((CopyOff + 900001L, "QZX1UNSEEN QZX2UNSEEN QZX3UNSEEN"))
      .toDF("doc_id", "text")
    assert(TrainingPrep.appendScored(spark, cDir, oov) === 1L)
    val row = TrainingPrep.bigramLogprob(spark, cDir)
      .filter(col("doc_id") === CopyOff + 900001L).collect().head
    assert(row.getLong(1) === 2L) // two bigrams
    val lp = row.getDouble(2)
    assert(!lp.isNaN && !lp.isInfinite)
    // the documented floor: ln((1-lambda) * 1 / tot) per OOV bigram
    val tot = TrainingPrep.lmUniTable(spark, cDir)
      .agg(max(col("tot"))).head().getLong(0)
    val expected = graft.Num.roundEpsJvm(
      math.log((1 - TrainingPrep.BigramLambda) / tot), 6)
    assert(lp === expected)
  }

  test("lmBuckets cuts terciles over the grown corpus") {
    val buckets = TrainingPrep.lmBuckets(spark, cDir)
    val folded = buckets.filter(col("doc_id") >= CopyOff)
    assert(folded.count() > 0)
    // folded copies share their originals' scores, so they share a
    // bucket with them (ties share a bucket by the count-based cut)
    val byId = buckets.collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    graft.Tables.documents(spark, cDir)
      .filter(col("doc_id") % 9 === 0 && col("doc_id") < CopyOff)
      .select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      byId.get(id + CopyOff).foreach { b =>
        assert(b === byId(id), s"copy of $id landed in a different bucket")
      }
    }
  }
}
