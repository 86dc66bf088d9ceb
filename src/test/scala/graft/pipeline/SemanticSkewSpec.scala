package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Adversarial hot-bucket coverage for the SEMANTIC candidate
  * self-join (r11 verdict item 6, the SkewSpec pattern): hundreds of
  * near-identical vectors route to the same fine cluster, so the
  * cent_id self-join's quadratic emission concentrates in one
  * partition. The join now runs through the family's hot-gated
  * bucketPairs; the salted arm must emit the IDENTICAL pair set — the
  * hardening is a parallelism fix, not an approximation. */
class SemanticSkewSpec extends SparkSpec {

  private val Cluster = 200
  private val Distinct = 20

  private lazy val cDir: String = {
    val dir = SparkSpec.tempDir("graft-semskew")
    import spark.implicits._
    val dim = Similarity.Dim
    val vecs = (0 until Cluster + Distinct).map { i =>
      val v =
        if (i < Cluster) {
          // one tight cluster: unit-ish direction + a tiny i-dependent
          // perturbation (cosine stays ~1 across the cluster)
          Array.tabulate(dim)(d =>
            (1.0f + (if (d == i % dim) 0.001f * (i % 7 + 1) else 0f)))
        } else {
          // far-apart spikes: dominant one-hot direction per doc
          Array.tabulate(dim)(d =>
            if (d == i % dim) 50f + i else 0.01f)
        }
      (i.toLong, v, (i % 3).toLong)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("the adversarial corpus concentrates one fine cluster past the threshold") {
    val posting = Similarity.semPostingTable(spark, cDir,
      Dedup.BroadcastVerifyBytes)
    val maxBucket = posting.groupBy(col("cent_id")).count()
      .agg(max("count")).head().getLong(0)
    assert(maxBucket >= Cluster,
      s"corpus not adversarial enough: max cluster $maxBucket")
  }

  test("salted hot arm emits the identical pair set as the cold self-join") {
    // threshold 32 → the cluster bucket is hot → salted join path;
    // default threshold (2048) keeps the plain self-join on this size
    val cold = Similarity.dedupSemantic(spark, cDir,
        Dedup.BroadcastVerifyBytes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Similarity.dedupSemantic(spark, cDir,
        Dedup.BroadcastVerifyBytes, hotThreshold = 32L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cold.nonEmpty)
    assert(salted === cold)
    // and the full near-identical clique is present: every cluster
    // pair shares the fine cluster and verifies at cosine ~1
    val clusterPairs = cold.filter { case (a, b, _) => a < Cluster && b < Cluster }
    assert(clusterPairs.size === Cluster * (Cluster - 1) / 2,
      s"expected the full ${Cluster}-clique, got ${clusterPairs.size}")
  }
}
