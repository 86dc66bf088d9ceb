package graft.pipeline

import graft.SparkSpec
import graft.functions.Portable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed incremental curation pass (r17 verdict item 3):
  * `TrainingPrep.curateBatch` takes a new document batch through dup
  * probe → score fold → LM stratum → stored-weights classifier →
  * sampling gate in ONE call over the stored artifacts. Proofs:
  *  - equality with the stages run SERIALLY through their public
  *    operators, across a two-batch split — on an identical twin
  *    corpus the hand-sequenced pipeline produces row-for-row the
  *    same decisions;
  *  - cross-batch dup pairs: a batch-2 copy of a batch-1 doc is
  *    flagged through the STORED index alone (batch 1's fold is the
  *    only trace of it);
  *  - replay idempotency: re-curating a batch folds nothing and
  *    returns identical decisions.
  *
  * Isolated corpora (own fingerprints, own tables) — the
  * IndexAppendSpec discipline. */
class CurateBatchSpec extends SparkSpec {

  private val B1 = 4000000L
  private val B2 = 8000000L

  private def mkCorpus(): String = {
    val d = SparkSpec.tempDir("graft_curate")
    graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 0)
      .write.parquet(d + "/documents.parquet")
    d
  }

  // batch 1: copies of corpus docs (dups of lake content) + novel docs
  // (texts the corpus never had)
  private def batch1(d: String): DataFrame =
    graft.Tables.documents(spark, d).filter(col("doc_id") % 9 === 0)
      .withColumn("doc_id", col("doc_id") + B1)
      .unionByName(graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 3 === 1).filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + B1))

  // batch 2: copies of batch 1's NOVEL docs (cross-batch dups — their
  // text exists only through batch 1's fold) + fresh novel docs
  private def batch2(d: String): DataFrame =
    graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 1).filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + B2)
      .unionByName(graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 3 === 2).filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + B2))

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** The stages run serially through their public operators — the
    * parity oracle curateBatch must equal. */
  private def serial(d: String, batch: DataFrame): DataFrame = {
    val ids = batch.select(col("doc_id")).distinct()
    val idSet = ids.collect().map(_.getLong(0)).toSet
    // stage 1: dup probe before any fold
    val pairs = Dedup.deltaPairs(spark, d, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dupIds = pairs.flatMap { case (a, b) =>
      Seq((a, b), (b, a))
    }.collect {
      case (doc, partner) if idSet(doc) &&
        (!idSet(partner) || partner < doc) => doc
    }.toSet
    // stage 2: the folds
    TrainingPrep.appendScored(spark, d, batch)
    Dedup.appendToIndex(spark, d, batch)
    // stage 3: grown-corpus terciles + stored-weights classifier +
    // per-stratum hash gate
    val rate = TrainingPrep.LmSampleRates
    val lm = TrainingPrep.lmBuckets(spark, d)
      .filter(col("doc_id").isin(idSet.toSeq: _*))
    lm.join(QualityClf.scoreDocs(spark, d, batch), Seq("doc_id"))
      .withColumn("hmod", expr(Portable.hexToLongSpark(
        "md5(CAST(doc_id AS STRING))", 1, 15) + " % 100"))
      .withColumn("is_dup", col("doc_id").isInCollection(dupIds))
      .withColumn("gate",
        col("hmod") < when(col("bucket") === "head", rate("head"))
          .when(col("bucket") === "middle", rate("middle"))
          .otherwise(rate("tail")))
      .select(col("doc_id"), col("n_bigrams"), col("avg_logprob"),
        col("bucket"), col("clf_score"), col("is_dup"),
        (!col("is_dup") && col("clf_score") >= QualityClf.Threshold &&
          col("gate")).as("kept"))
  }

  test("two-batch parity with the serial stages, incl. cross-batch dups") {
    val dA = mkCorpus() // curateBatch side
    val dB = mkCorpus() // hand-sequenced twin
    val out1 = TrainingPrep.curateBatch(spark, dA, batch1(dA))
    val exp1 = serial(dB, batch1(dB))
    assert(rowSet(out1) === rowSet(exp1))
    assert(out1.count() > 0)
    // the corpus-copy half of batch 1 (ids ≡ 0 mod 3 before the
    // offset) is all dups; the novel half (≡ 1) has non-dups
    val copies1 = out1.filter((col("doc_id") - B1) % 3 === 0)
    assert(copies1.count() > 0)
    assert(copies1.filter(!col("is_dup")).count() === 0L)
    assert(out1.filter(!col("is_dup")).count() > 0)

    val out2 = TrainingPrep.curateBatch(spark, dA, batch2(dA))
    val exp2 = serial(dB, batch2(dB))
    assert(rowSet(out2) === rowSet(exp2))
    // cross-batch dup pairs: every batch-2 copy of a batch-1 novel doc
    // is flagged through the stored index alone
    val crossIds = batch2(dA).filter((col("doc_id") - B2) % 3 === 1)
      .filter(size(split(col("text"), " ")) >= 2) // the scorable domain
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(crossIds.nonEmpty)
    val cross = out2.filter(col("doc_id").isin(crossIds: _*))
    assert(cross.count() === crossIds.size.toLong)
    assert(cross.filter(!col("is_dup")).count() === 0L,
      "batch-2 copies of batch-1 docs must be dups via the stored index")
    // and a kept doc is never a dup, always past both gates
    assert(out2.filter(col("kept") && (col("is_dup") ||
      col("clf_score") < QualityClf.Threshold)).count() === 0L)
  }

  test("replay idempotency: re-curating a batch folds nothing, decisions identical") {
    val d = mkCorpus()
    val first = rowSet(TrainingPrep.curateBatch(spark, d, batch1(d)))
    val scoredRows = TrainingPrep.bigramScoredTable(spark, d, raw = true)
      .count()
    val again = rowSet(TrainingPrep.curateBatch(spark, d, batch1(d)))
    assert(again === first)
    assert(TrainingPrep.bigramScoredTable(spark, d, raw = true).count()
      === scoredRows)
  }
}
