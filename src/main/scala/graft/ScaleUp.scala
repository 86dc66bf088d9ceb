package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence data generator: replicate the driver's sf corpus by
  * an integer factor (`ScaleUp <srcDir> <outDir> <factor>`), so Bench
  * can be run at 10× the largest provided SF and the per-query scaling
  * recorded in BASELINE.md (the "survives 100×" evidence the brief
  * asks for — measured, not asserted).
  *
  * Scaling model (TPC-H-like: facts grow, dimensions stay):
  *  - region/nation/customer/supplier/part copied as-is;
  *  - orders/lineitem replicated with order keys shifted per replica,
  *    so each replica is a self-consistent order graph against the
  *    SHARED dimensions (per-customer and per-part fan-in grows with
  *    the factor — the realistic join-skew direction);
  *  - events replicated with shifted event ids on the SAME cell grid
  *    (cells accumulate factor× more observations; the band axis and
  *    grid extents — the dataset contract — are unchanged);
  *  - documents replicated with shifted doc ids and replica-salted
  *    TOKENS (every word suffixed `~r<i>`), so cross-replica text
  *    similarity is zero and the near-dup pair structure scales
  *    linearly with the factor — naive verbatim copies would square
  *    the candidate-pair count and benchmark a different problem;
  *  - embeddings replicated with shifted ids under a per-replica
  *    deterministic SIGN-FLIP rotation (dimension d negated when
  *    hash(rep, d) is odd; replica 0 is the identity): a diagonal ±1
  *    map preserves norms and all within-replica cosines exactly, while
  *    cross-replica cosines scramble toward 0 — so the cosine-threshold
  *    pair structure scales linearly with the factor. (An additive
  *    perturbation keeps replicas of one vector near-identical, which
  *    squares the qualifying-pair OUTPUT and benchmarks a different,
  *    output-bound problem.)
  *
  * Everything is a declarative plan over one `spark.range(factor)`
  * broadcast — no driver-side loops, so generating a genuinely large
  * corpus on a cluster is the same code.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val (srcDir, outDir, factorStr, skew) = args match {
      case Array(s, o, f) => (s, o, f, false)
      case Array(s, o, f, "skew") => (s, o, f, true)
      case _ => throw new IllegalArgumentException(
        "usage: ScaleUp <srcDir> <outDir> <factor> [skew]")
    }
    val spark = Bench.session()
    run(spark, srcDir, outDir, factorStr.toInt, skew)
    println(s"""{"scaled":"$outDir","factor":$factorStr,"skew":$skew}""")
    spark.stop()
  }

  /** The generator proper, session supplied by the caller (the spec
    * drives it on the shared test session; `main` owns its own).
    *
    * `skew = true` additionally concentrates ~20% of each TPC-H fact
    * table onto ONE hot key — o_custkey (one customer owns a fifth of
    * all orders), l_orderkey (one order owns a fifth of all line
    * items) and l_suppkey (one supplier ships a fifth of them) — the
    * data-lake reality the uniform replicator can't produce. Row
    * selection is a deterministic hash of the row's own keys, so the
    * skewed corpus is reproducible and its row counts equal the
    * uniform corpus's exactly (same replication, different key
    * distribution). The hot keys are each table's minimum key, which
    * survives replication (replica 0 is unshifted). */
  def run(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int, skew: Boolean = false): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    // dimensions: verbatim
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(src(t), t, 1))

    val rep = broadcast(spark.range(factor)
      .select(col("id").cast("long").as("rep")))

    // spread the EXPANSION stage: a small source is one scan partition,
    // and the crossJoin's factor× blow-up used to run inside that one
    // task — at factor 1000 that pushed 11 GB of lineitem through a
    // single core (the sf100 point surfaced this). Fan the SOURCE out
    // to the final layout first, so each task expands its own slice
    // and the blown-up rows never shuffle at all (the write below is
    // repartition-free for the fanned tables).
    def fan(df: DataFrame, parts: Int): DataFrame =
      df.repartition(parts)
    def writeExpanded(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // key shift per replica: one step past the source's max key keeps
    // every replica's keyspace disjoint
    def step(df: DataFrame, key: String): Long = {
      val row = df.agg(max(col(key))).head()
      require(!row.isNullAt(0),
        s"cannot scale an empty source table (no $key values)")
      row.getLong(0) + 1L
    }

    val orders = src("orders")
    val orderStep = step(orders, "o_orderkey")
    // hot keys for skew mode: the minima survive replication unshifted
    def minKey(df: DataFrame, key: String): Long =
      df.agg(min(col(key))).head().getLong(0)
    // a row joins the hot 20% when a hash of its own keys lands in one
    // of five residue classes — deterministic, uniform, reproducible
    def hot(keys: Column*): Column = pmod(hash(keys: _*), lit(5)) === 0

    val ordersScaled = fan(orders, 4 * factor).crossJoin(rep)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * orderStep)
      .drop("rep")
    writeExpanded(
      if (!skew) ordersScaled
      else {
        val hotCust = minKey(src("customer"), "c_custkey")
        ordersScaled.withColumn("o_custkey",
          when(hot(col("o_orderkey")), lit(hotCust))
            .otherwise(col("o_custkey")))
      }, "orders")

    val lineitem = src("lineitem")
    val lineitemScaled = fan(lineitem, 8 * factor).crossJoin(rep)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * orderStep)
      .drop("rep")
    writeExpanded(
      if (!skew) lineitemScaled
      else {
        val hotOrder = minKey(orders, "o_orderkey")
        val hotSupp = minKey(src("supplier"), "s_suppkey")
        lineitemScaled
          .withColumn("l_orderkey",
            when(hot(col("l_orderkey"), col("l_linenumber")),
              lit(hotOrder)).otherwise(col("l_orderkey")))
          .withColumn("l_suppkey",
            when(hot(col("l_suppkey"), col("l_orderkey"),
              col("l_linenumber")), lit(hotSupp))
              .otherwise(col("l_suppkey")))
      }, "lineitem")

    val events = src("events")
    val eventStep = step(events, "event_id")
    // preserve the source's within-file time ordering (range partition +
    // sort on the raw ns column) so band-range row-group pruning keeps
    // working at the scaled volume
    fan(events, 4 * factor).crossJoin(rep)
      .withColumn("event_id", col("event_id") + col("rep") * eventStep)
      .drop("rep")
      .repartitionByRange(4 * factor, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    val documents = src("documents")
    val docStep = step(documents, "doc_id")
    writeExpanded(fan(documents, 2 * factor).crossJoin(rep)
      .withColumn("doc_id", col("doc_id") + col("rep") * docStep)
      .withColumn("text",
        when(col("rep") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("~r"), col("rep"))), " ")))
      .withColumn("n_chars", length(col("text")))
      .drop("rep"), "documents")

    val embeddings = src("embeddings")
    val vecStep = step(embeddings, "vec_id")
    writeExpanded(fan(embeddings, 2 * factor).crossJoin(rep)
      .withColumn("vec_id", col("vec_id") + col("rep") * vecStep)
      .withColumn("embedding",
        transform(col("embedding"),
          (x, i) => (x * when(col("rep") === 0, 1.0f)
            .otherwise((pmod(hash(col("rep"), i), lit(2)) * 2 - 1)
              .cast("float"))).cast("float")))
      .drop("rep"), "embeddings")
  }
}
