package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The scale generator's two invariants, proved on the real corpus:
  * factor 1 is the IDENTITY (replica 0 applies no perturbation — the
  * scaled corpus answers every query like the original), and factor k
  * scales the per-replica structure linearly (row counts k×, replica
  * keyspaces disjoint, within-replica near-dup structure preserved,
  * cross-replica embedding cosines scrambled). */
class ScaleUpSpec extends SparkSpec {

  private lazy val x1Dir: String = {
    val dir = SparkSpec.tempDir("graft-x1")
    ScaleUp.run(spark, sfDir, dir, 1)
    dir
  }

  private lazy val x2Dir: String = {
    val dir = SparkSpec.tempDir("graft-x2")
    ScaleUp.run(spark, sfDir, dir, 2)
    dir
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("factor 1 is semantics-preserving across query families") {
    // relational, cube, and dedup answers must be IDENTICAL on the
    // factor-1 copy — any replica-0 perturbation or key shift would
    // show up as a changed row
    Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
      "q1_pricing" -> (graft.relational.TpchQueries.q1 _),
      "skope_zonal_mean" -> (graft.cube.SkopeQueries.zonalMean _),
      "dedup_exact" -> (graft.pipeline.Dedup.exact _),
      "emb_quantize" -> (graft.pipeline.Similarity.embQuantize _)
    ).foreach { case (name, fn) =>
      assert(rows(fn(spark, x1Dir)) === rows(fn(spark, sfDir)),
        s"$name changed on the factor-1 copy")
    }
  }

  test("factor 2 doubles fact rows with disjoint keyspaces, dims verbatim") {
    def count(dir: String, t: String): Long =
      spark.read.parquet(s"$dir/$t.parquet").count()
    Seq("lineitem", "orders", "events", "documents", "embeddings")
      .foreach { t =>
        assert(count(x2Dir, t) === 2 * count(sfDir, t), s"$t not doubled")
      }
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      assert(count(x2Dir, t) === count(sfDir, t), s"dim $t changed")
    }
    // replica keyspaces are disjoint: doubled tables keep unique keys
    Seq("orders" -> "o_orderkey", "events" -> "event_id",
      "documents" -> "doc_id", "embeddings" -> "vec_id")
      .foreach { case (t, k) =>
        val df = spark.read.parquet(s"$x2Dir/$t.parquet")
        assert(df.select(k).distinct().count() === df.count(),
          s"$t.$k collides across replicas")
      }
  }

  test("replica rotation preserves within-replica cosines, scrambles across") {
    import graft.functions.VectorFunctions.{dot_product, l2_norm}
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val v = spark.read.parquet(s"$x2Dir/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", l2_norm(col("v")))
    def cos(a: DataFrame, b: DataFrame): DataFrame =
      a.select(col("vec_id").as("ia"), col("v").as("va"), col("nrm").as("na"))
        .join(b.select(col("vec_id").as("ib"), col("v").as("vb"),
          col("nrm").as("nb")), col("ia") % n === col("ib") % n && col("ia") < col("ib"))
        .select((dot_product(col("va"), col("vb")) / (col("na") * col("nb")))
          .as("cos"))
    // same base vector, replica 0 vs replica 1: the sign-flip rotation
    // must leave them DECORRELATED (an additive perturbation would
    // keep cos ≈ 1 and square the near-dup pair output)
    val cross = cos(v.filter(col("vec_id") < n), v.filter(col("vec_id") >= n))
      .agg(max(abs(col("cos")))).head().getDouble(0)
    assert(cross < 0.9, s"cross-replica copies still correlated: $cross")
    // and WITHIN replica 1 the pair structure is exactly replica 0's:
    // cos(Sx, Sy) = cos(x, y) for the shared diagonal ±1 rotation
    def pairCos(lo: Long, hi: Long): Map[(Long, Long), Double] = {
      val s = v.filter(col("vec_id") >= lo && col("vec_id") < hi)
      s.select(col("vec_id").as("ia"), col("v").as("va"), col("nrm").as("na"))
        .join(s.select(col("vec_id").as("ib"), col("v").as("vb"),
          col("nrm").as("nb")), col("ia") < col("ib"))
        .filter(col("ib") - col("ia") <= 20) // a bounded pair sample
        .select(col("ia"), col("ib"),
          (dot_product(col("va"), col("vb")) / (col("na") * col("nb")))
            .as("cos"))
        .collect()
        .map(r => (r.getLong(0) % n, r.getLong(1) % n) -> r.getDouble(2))
        .toMap
    }
    val orig = pairCos(0, 40)
    val rotated = pairCos(n, n + 40)
    assert(orig.nonEmpty && orig.keySet === rotated.keySet)
    orig.foreach { case (k, c) =>
      assert(math.abs(c - rotated(k)) < 1e-9,
        s"pair $k cosine changed under rotation")
    }
  }

  test("skew mode concentrates ~20% of facts on one hot key, counts unchanged") {
    val dir = SparkSpec.tempDir("graft-skew")
    ScaleUp.run(spark, sfDir, dir, 2, skew = true)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    // row counts equal the uniform factor-2 corpus exactly
    assert(li.count() ===
      2 * spark.read.parquet(s"$sfDir/lineitem.parquet").count())
    assert(ord.count() ===
      2 * spark.read.parquet(s"$sfDir/orders.parquet").count())
    // the hot keys own ~20% of their fact table (hash residue 1-of-5;
    // binomial noise at sf0.001×2 is a few points)
    def topShare(df: DataFrame, key: String): (Long, Double) = {
      val total = df.count().toDouble
      val top = df.groupBy(col(key)).count()
        .orderBy(col("count").desc).head()
      (top.getLong(0), top.getLong(1) / total)
    }
    val (hotOrd, ordShare) = topShare(li, "l_orderkey")
    assert(math.abs(ordShare - 0.2) < 0.05,
      s"hot order $hotOrd owns ${ordShare * 100}%")
    // the supplier dimension is 10 keys at this SF, so the hot one
    // keeps its ~8% uniform share on top of the remapped 20%
    val (hotSupp, suppShare) = topShare(li, "l_suppkey")
    assert(suppShare > 0.2 && suppShare < 0.35,
      s"hot supplier $hotSupp owns ${suppShare * 100}%")
    val (hotCust, custShare) = topShare(ord, "o_custkey")
    assert(math.abs(custShare - 0.2) < 0.05,
      s"hot customer $hotCust owns ${custShare * 100}%")
    // hot keys still reference real dimension/parent rows
    assert(spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderkey") === hotOrd).count() === 1)
    assert(spark.read.parquet(s"$dir/supplier.parquet")
      .filter(col("s_suppkey") === hotSupp).count() === 1)
    assert(spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_custkey") === hotCust).count() === 1)
  }
}
