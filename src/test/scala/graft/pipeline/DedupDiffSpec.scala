package graft.pipeline

import graft.SparkSpec

/** Randomized differential check: on corpora of synthetic near-dup
  * clusters, the MinHash+LSH path must return EXACTLY the pairs the
  * exhaustive prefix-filtered Jaccard join returns — same verified
  * predicate, so any difference is a candidate-generation miss. The
  * corpora keep true pairs at J ≥ 0.8 (k ≤ 4 token substitutions in
  * 40-token docs → J ≥ 36/44) and cross-cluster overlap at zero, so
  * the banding miss probability is ≈ (1 − 0.8³)³² < 1e-10; the fixed
  * seed makes every run bit-identical regardless. */
class DedupDiffSpec extends SparkSpec {

  private def corpus(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val dir = SparkSpec.tempDir(s"graft-diff$seed")
    import spark.implicits._
    var id = -1L
    val docs = Seq.newBuilder[(Long, String, String, String, Long)]
    def add(text: String): Long = {
      id += 1
      docs += ((id, text, "en", s"src${id % 3}", text.length.toLong))
      id
    }
    val expected = Seq.newBuilder[(Long, Long)]
    (0 until 5).foreach { c =>
      val base = (0 until 40).map(i => s"c${c}tok${i}w${rnd.nextInt(1000)}")
      val members = (0 to 1 + rnd.nextInt(2)).map { m =>
        val toks = if (m == 0) base
        else {
          val k = 1 + rnd.nextInt(4) // J >= 36/44 ≈ 0.818
          val idx = rnd.shuffle(base.indices.toList).take(k).toSet
          base.zipWithIndex.map { case (t, i) =>
            if (idx(i)) s"mut${c}m${m}i$i" else t }
        }
        add(toks.mkString(" "))
      }
      for (i <- members.indices; j <- i + 1 until members.size)
        expected += ((members(i), members(j)))
    }
    (0 until 10).foreach(i => add(
      (0 until 30).map(j => s"uniq${seed}d${i}t$j").mkString(" ")))
    docs.result().toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("clusters and dedup-apply survive a clean corpus (no near-dup pairs)") {
    // regression: labelSum over an EMPTY label frame is a null sum —
    // the fixpoint compareTo NPE'd on any corpus with zero LSH
    // candidate pairs (the common case: an already-clean corpus)
    val dir = SparkSpec.tempDir("graft-clean")
    import spark.implicits._
    (0 until 25).map(i =>
        (i.toLong, (0 until 30).map(j => s"clean${i}tok$j").mkString(" "),
          "en", s"src${i % 3}", 30L * 10))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Dedup.clusters(spark, dir).count() === 0L)
    // apply keeps every document when nothing was matched
    assert(Dedup.dedupApply(spark, dir).count() === 25L)
  }

  test("minhash LSH finds exactly the exhaustive-Jaccard pairs") {
    Seq(11, 22, 33).foreach { seed =>
      val dir = corpus(seed)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("d1", "d2").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exhaustive = pairs(Dedup.ngramJaccard(spark, dir))
      val lsh = pairs(Dedup.minhashLsh(spark, dir))
      assert(lsh == exhaustive,
        s"seed $seed\nlsh-only=${lsh -- exhaustive}\nmissed=${exhaustive -- lsh}")
      assert(exhaustive.nonEmpty, s"seed $seed produced no true pairs")
      // and the jaccard values agree pairwise too
      val jx = Dedup.ngramJaccard(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val jl = Dedup.minhashLsh(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(jx == jl, s"seed $seed jaccard values differ")
    }
  }
}
