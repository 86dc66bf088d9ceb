package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** dedup_semantic is the sub-quadratic production path next to the
  * exhaustive dedup_embedding baseline: verification is exact, so its
  * output must be a SUBSET of the exhaustive pairs with identical
  * cosines — the only permitted deviation is a missed pair whose two
  * vectors share none of their SemProbe clusters. The recall floor is
  * pinned on the real corpus (this geometry is the hard case: theta
  * ≈ 66° pairs barely correlate with cluster assignment — SURVEY
  * §5.10), and the tight-cluster fixture proves recall = 1 in the
  * regime the algorithm is built for (true near-dups inside one tight
  * cluster). */
class SemanticDedupSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("semantic dedup is an exact-verified subset of the exhaustive pairs, recall floor held") {
    val truth = pairs(Similarity.embeddingPairs(spark, sfDir))
    val got = pairs(Similarity.dedupSemantic(spark, sfDir))
    assert(truth.nonEmpty, "corpus should contain qualifying pairs")
    // no false positives, and every emitted cosine is the exhaustive one
    assert(got.subsetOf(truth))
    // recall floor on the near-orthogonal corpus (measured 54/59)
    assert(got.size.toDouble / truth.size >= 0.85,
      s"recall ${got.size}/${truth.size} under floor")
  }

  test("broadcast and distributed routing arms produce identical postings") {
    // the byte probe picks the arm at runtime; both must compute the
    // SAME hierarchical assignment (the cogroup arm's per-bucket top-p
    // + global merge vs the kernel arm's direct global top-p).
    // useStored = false: the comparison must exercise the BUILD — two
    // reads of the persisted posting table would be vacuously equal
    ArtifactCache.clear()
    val fast = pairs(Similarity.dedupSemantic(spark, sfDir,
      Dedup.BroadcastVerifyBytes, useStored = false))
    ArtifactCache.clear()
    val dist = pairs(Similarity.dedupSemantic(spark, sfDir, 0L,
      useStored = false))
    ArtifactCache.clear()
    assert(dist === fast)
  }

  test("assignment posting is a lake table: a fresh session reads it, self-join shuffle-free") {
    val first = pairs(Similarity.dedupSemantic(spark, sfDir))
    // a fresh session shares only the catalog + files on disk — the
    // session artifact caches are empty, so equality proves the pass
    // ran off the STORED posting table
    val s2 = spark.newSession()
    val again = Similarity.dedupSemantic(s2, sfDir)
    assert(again.queryExecution.executedPlan.toString()
      .contains("graft_sempost"))
    assert(pairs(again) === first)
    // the candidate self-join on cent_id comes off the bucket layout
    // on BOTH sides: zero Exchange of any kind under a forced
    // non-broadcast plan
    import org.apache.spark.sql.functions.col
    val posting = Similarity.semPostingTable(s2, sfDir, Dedup.BroadcastVerifyBytes)
    val prev = s2.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val selfJoin = posting.select(col("vec_id").as("v1"), col("cent_id"))
        .join(posting.select(col("vec_id").as("v2"), col("cent_id")), "cent_id")
      val plan = selfJoin.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"bucketed self-join shuffled:\n$plan")
    } finally s2.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("tight near-dup clusters are recovered completely (the algorithm's design regime)") {
    // two tight clusters plus singleton noise: every qualifying pair is
    // within-cluster, so soft assignment must route both members to a
    // shared centroid and recall must be exactly 1
    val dim = Similarity.Dim
    def vec(axis: Int, theta: Double, axis2: Int): Array[Float] = {
      val v = Array.fill(dim)(0.0f)
      v(axis) = math.cos(theta).toFloat
      v(axis2) = math.sin(theta).toFloat
      v
    }
    val rows = Seq.newBuilder[(Long, Array[Float], Int)]
    // centroid seeds are vec_id < IvfCentroids: spread the first 16 ids
    // across distinct axes so the seed table covers both clusters
    (0 until 16).foreach(i => rows += ((i.toLong, vec(2 * (i % 8), 0.3 * (i / 8), 2 * (i % 8) + 1), 0)))
    // tight cluster around axis 0 (near seed 0/8)
    (0 until 8).foreach(i => rows += ((100L + i, vec(0, 0.01 * i, 1), 1)))
    // tight cluster around axis 6
    (0 until 8).foreach(i => rows += ((200L + i, vec(6, 0.01 * i, 7), 2)))
    val dir = SparkSpec.tempDir("graft-semdedup")
    val s = spark
    import s.implicits._
    rows.result().toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    ArtifactCache.clear()
    try {
      val truth = pairs(Similarity.embeddingPairs(spark, dir))
      val got = pairs(Similarity.dedupSemantic(spark, dir))
      assert(truth.exists { case (a, b, _) => a >= 100 && b < 200 },
        "fixture should contain within-cluster qualifying pairs")
      assert(got === truth, "recall must be 1 on tight clusters")
    } finally ArtifactCache.clear()
  }
}
