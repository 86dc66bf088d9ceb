package graft

/** Pins the r19-optimization scan fan-out (Tables.fanOutScan):
  *
  *  1. a below-parallelism corpus scan is redistributed to the session
  *     default (the one-row-group local corpus case that serialized
  *     the map side of every text pipeline — OPTIMIZATION_r19.md);
  *  2. a corpus whose scan already plans at/above the session
  *     parallelism passes through IDENTICALLY (the production no-op
  *     guarantee: a large corpus always arrives already split, so no
  *     code path ever shuffles one);
  *  3. the rows are the same multiset either way — the exchange may
  *     reorder, never add/drop/alter.
  *
  * The probe keys on the CORPUS DIR's raw documents scan, memoized per
  * (session, dir) — never on the caller's derived frame, whose .rdd
  * under AQE would eagerly run upstream stages just to read a
  * partition count (r19 ADVICE medium item).
  */
class FanOutScanSpec extends SparkSpec {

  test("one-row-group corpus scan fans out to default parallelism, same rows") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val before = docs.rdd.getNumPartitions
    assume(before < spark.sparkContext.defaultParallelism,
      "local testdata stopped being a one-task scan — re-pin this spec")
    val fanned = Tables.fanOutScan(docs, spark, sfDir)
    assert(fanned.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    // same multiset of rows (doc_id is unique in documents, so set
    // equality + count equality is a multiset compare)
    assert(fanned.count() === docs.count())
    assert(fanned.select("doc_id").except(docs.select("doc_id")).isEmpty)
    assert(docs.select("doc_id").except(fanned.select("doc_id")).isEmpty)
  }

  test("corpus already at/above session parallelism passes through unchanged") {
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    // a corpus dir whose documents scan plans >= p splits: p + 3 files
    val dir = SparkSpec.tempDir("graft_fanout")
    (1 to 1000).map(i => (i.toLong, s"doc $i"))
      .toDF("doc_id", "text").repartition(p + 3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    assume(docs.rdd.getNumPartitions >= p,
      "multi-file fixture planned under session parallelism — re-pin")
    // identity: the SAME frame comes back, so no exchange is planned
    assert(Tables.fanOutScan(docs, spark, dir) eq docs)
  }
}
