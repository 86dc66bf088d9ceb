package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The cosine-threshold pair join must be EXACT: identical output to a
  * plain all-pairs pass, whatever candidate plan the operator uses
  * (unlike the LSH/IVF search structures, nothing true may drop). The
  * boundary fixture exists so any future candidate-pruning rewrite —
  * round 6 evaluated and rejected a pivot-pruned metric ε-join, see
  * SURVEY §5.10 — has the adversarial case ready. */
class EmbeddingPairsSpec extends SparkSpec {

  private def brute(dir: String): Set[(Long, Long, Double)] = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    (for {
      (i, vi) <- rows; (j, vj) <- rows if i < j
      dot = vi.zip(vj).map { case (a, b) => a * b }.sum
      cos = graft.Num.roundEpsJvm(dot / (nrm(vi) * nrm(vj)), 6)
      if cos >= Similarity.CosineThreshold
    } yield (i, j, cos)).toSet
  }

  test("embedding pair join equals the exhaustive all-pairs result on the corpus") {
    val got = Similarity.embeddingPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val truth = brute(sfDir)
    assert(truth.nonEmpty, "corpus should contain qualifying pairs")
    assert(got === truth)
  }

  test("tight clusters with boundary pairs survive the candidate plan exactly") {
    // adversarial fixture for any candidate-pruning arithmetic: two
    // tight clusters on nearly-orthogonal axes (cross pairs far BELOW
    // threshold) plus a pair engineered to sit right AT the cosine
    // threshold, where any epsilon-sign error in a prune comparison
    // would drop a true boundary pair
    val dim = Similarity.Dim
    val t = Similarity.CosineThreshold
    val ang = math.acos(t) // exactly-threshold angle
    def vec(axis: Int, theta: Double, axis2: Int): Array[Float] = {
      val v = Array.fill(dim)(0.0f)
      v(axis) = math.cos(theta).toFloat
      v(axis2) = math.sin(theta).toFloat
      v
    }
    val rows = Seq.newBuilder[(Long, Array[Float], Int)]
    // cluster A around axis 0 (ids 0..9), tiny jitter angles
    (0 until 10).foreach(i =>
      rows += ((i.toLong, vec(0, i * 0.01, 1), 0)))
    // cluster B around axis 2 (ids 10..19)
    (0 until 10).foreach(i =>
      rows += ((10L + i, vec(2, i * 0.01, 3), 1)))
    // boundary pair: id 20 on axis 4, id 21 at ~the threshold angle
    rows += ((20L, vec(4, 0.0, 5), 2))
    rows += ((21L, vec(4, ang - 1e-4, 5), 2)) // just inside
    rows += ((22L, vec(4, ang + 0.05, 5), 2)) // clearly outside
    val dir = SparkSpec.tempDir("graft-embpairs")
    val s = spark
    import s.implicits._
    rows.result().toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    ArtifactCache.clear()
    try {
      val got = Similarity.embeddingPairs(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val truth = brute(dir)
      assert(got === truth)
      // the fixture really exercises what it claims: within-cluster
      // pairs exist, no cross-cluster pair qualifies, and the boundary
      // pair is present while the just-outside one is not
      assert(truth.exists { case (a, b, _) => a < 10 && b < 10 })
      assert(!truth.exists { case (a, b, _) => a < 10 && b >= 10 && b < 20 })
      assert(truth.contains((20L, 21L,
        got.find(p => p._1 == 20L && p._2 == 21L).map(_._3).getOrElse(-1.0))))
      assert(!truth.exists { case (a, b, _) => (a, b) == (20L, 22L) })
    } finally ArtifactCache.clear()
  }
}
