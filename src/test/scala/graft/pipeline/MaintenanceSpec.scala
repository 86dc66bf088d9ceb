package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The unified nightly pass: `Maintenance.compactAll` rewrites
  * whichever persisted index tables exist for a corpus — and ONLY
  * those (no table is created by maintaining it) — with results
  * identical across the rewrite. Isolated corpus copy, as everywhere
  * appends are exercised. */
class MaintenanceSpec extends SparkSpec {

  private val Off = 1000000L

  private lazy val cDir: String = {
    val d = SparkSpec.tempDir("graft_maint")
    graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 0)
      .write.parquet(d + "/documents.parquet")
    graft.Tables.embeddings(spark, sfDir)
      .write.parquet(d + "/embeddings.parquet")
    d
  }

  test("compactAll sweeps exactly the families on disk, results intact") {
    // build + fold two families: minhash dedup and the trained ANN kind
    val day1 = graft.Tables.documents(spark, cDir)
      .filter(col("doc_id") % 9 === 0)
      .withColumn("doc_id", col("doc_id") + Off)
    Dedup.appendToIndex(spark, cDir, day1)
    val batch = Similarity.normedOfBatch(
      graft.Tables.embeddings(spark, cDir)
        .filter(col("vec_id") < Similarity.NumProbes)
        .withColumn("vec_id", col("vec_id") + Off))
    Similarity.appendAnnToIndex(spark, cDir, batch, "trained")

    val pairsBefore = Dedup.deltaPairs(spark, cDir, day1).collect()
      .map(_.toSeq).toSet
    val annBefore = Similarity.annIvfPqTrained(spark, cDir).collect()
      .map(_.toSeq).toSet

    val swept = Maintenance.compactAll(spark, cDir)
    // minhash + shingles exist (simhash was never built): dedup = 2;
    // ann = one kind's code table + the vector extension; no semantic
    assert(swept === Map("dedup" -> 2, "ann" -> 2), swept.toString)

    assert(Dedup.deltaPairs(spark, cDir, day1).collect()
      .map(_.toSeq).toSet === pairsBefore)
    assert(Similarity.annIvfPqTrained(spark, cDir).collect()
      .map(_.toSeq).toSet === annBefore)

    // idempotent sweep: same families, still-identical results
    assert(Maintenance.compactAll(spark, cDir) === swept)
  }
}
