package graft.sources

import graft.{SparkSpec, Tables}

class TableIOSpec extends SparkSpec {

  private def roundTrip(fmt: TableIO.Format, table: String): Unit = {
    val df = Tables.load(spark, sfDir, table)
    val dir = SparkSpec.tempDir(s"graft_io_${fmt.name}")
    TableIO.write(df, dir, fmt)
    val back = TableIO.read(spark, dir, fmt, df.schema)
    assert(back.schema == df.schema, s"$fmt schema drift")
    val a = df.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.sameElements(b), s"$fmt round-trip of $table lost rows")
  }

  test("csv round-trips a flat table with explicit schema") {
    roundTrip(TableIO.Csv, "customer")
  }

  test("json round-trips documents") {
    roundTrip(TableIO.Json, "documents")
  }

  test("orc round-trips embeddings including the array column") {
    roundTrip(TableIO.Orc, "embeddings")
  }

  test("parquet round-trips lineitem with partitioning") {
    val df = Tables.lineitem(spark, sfDir)
    val dir = SparkSpec.tempDir("graft_io_part")
    TableIO.write(df, dir, TableIO.Parquet, partitionBy = Seq("l_returnflag"))
    val back = TableIO.read(spark, dir, TableIO.Parquet, df.schema)
    assert(back.count() == df.count())
    // partition layout exists on disk
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("l_returnflag=")))
  }

  test("csv refuses nested columns instead of silently stringifying") {
    val df = Tables.embeddings(spark, sfDir)
    val dir = SparkSpec.tempDir("graft_io_bad")
    intercept[IllegalArgumentException] {
      TableIO.write(df, dir, TableIO.Csv)
    }
  }

  test("timestamps survive csv with microsecond precision") {
    val df = Tables.events(spark, sfDir).select("event_id", "ts", "value")
    val dir = SparkSpec.tempDir("graft_io_ts")
    TableIO.write(df, dir, TableIO.Csv)
    val back = TableIO.read(spark, dir, TableIO.Csv, df.schema)
    val a = df.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("compaction rewrites a small-files table into target-sized files") {
    // the small-files problem in miniature: events sprayed across 64
    // tiny files, compacted back to ~target-sized ones
    val df = Tables.events(spark, sfDir)
    val smallDir = SparkSpec.tempDir("graft_small")
    TableIO.write(df.repartition(64), smallDir, TableIO.Parquet)
    def dataFiles(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && !f.getName.endsWith(".crc"))
    val before = dataFiles(smallDir)
    assert(before.length == 64, s"expected 64 small files, got ${before.length}")
    val totalBytes = before.map(_.length).sum
    val target = totalBytes / 4 // aim for ~4 output files
    val outDir = SparkSpec.tempDir("graft_compact")
    val n = TableIO.compact(spark, smallDir, outDir, TableIO.Parquet,
      df.schema, targetBytes = target)
    val after = dataFiles(outDir)
    assert(n >= 4 && n <= 5, s"expected ~4 target files, planned $n")
    assert(after.length == n, s"planned $n files, wrote ${after.length}")
    // no rows harmed
    val back = TableIO.read(spark, outDir, TableIO.Parquet, df.schema)
    assert(back.count() == df.count())
    // sizes are near the target (round-robin balance): every file
    // within 2x of the mean
    val mean = after.map(_.length).sum / after.length
    after.foreach(f => assert(f.length > mean / 2 && f.length < mean * 2,
      s"file ${f.getName} size ${f.length} far from mean $mean"))
  }

  test("partitioned compaction yields one file per partition directory") {
    // round-robin would spread every partition value over all tasks and
    // re-split per value (n*P tiny files); the partitioned path must
    // hash-cluster so each dataset directory holds exactly one file
    val df = Tables.events(spark, sfDir)
      .select("event_id", "ts", "event_type", "value")
    val smallDir = SparkSpec.tempDir("graft_small_p")
    TableIO.write(df.repartition(16), smallDir, TableIO.Parquet,
      partitionBy = Seq("event_type"))
    val outDir = SparkSpec.tempDir("graft_compact_p")
    TableIO.compact(spark, smallDir, outDir, TableIO.Parquet, df.schema,
      targetBytes = 4L * 1024, partitionBy = Seq("event_type"))
    val dirs = new java.io.File(outDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = d.listFiles().filter(f =>
        f.isFile && f.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${d.getName}: expected 1 compacted file, got ${files.length}")
    }
    val back = TableIO.read(spark, outDir, TableIO.Parquet, df.schema)
    assert(back.count() == df.count())
  }

  test("co-bucketed fact tables join with zero shuffle and zero sort") {
    // The 100 TB claim made concrete: lineitem and orders bucketed +
    // sorted on their join key at write time must sort-merge join
    // straight off the scan — no Exchange, no Sort in the plan.
    // Broadcast is disabled so the shuffle-free-ness comes from the
    // bucket layout, not from the tables being small.
    val liDir = SparkSpec.tempDir("graft_bkt_li")
    val ordDir = SparkSpec.tempDir("graft_bkt_ord")
    TableIO.writeBucketed(
      Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_extendedprice", "l_discount"),
      "bkt_lineitem", liDir, Seq("l_orderkey"), 8, Seq("l_orderkey"))
    TableIO.writeBucketed(
      Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority"),
      "bkt_orders", ordDir, Seq("o_orderkey"), 8, Seq("o_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // sorted-bucket scans report their ordering only behind this flag
      // (and only with one file per bucket, which writeBucketed
      // guarantees via its pre-shuffle)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val joined = spark.table("bkt_lineitem")
        .join(spark.table("bkt_orders"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"co-bucketed join still shuffles:\n$plan")
      assert(!plan.contains("Sort ["),
        s"in-bucket sorting not exploited, plan re-sorts:\n$plan")
      assert(joined.count() ==
        Tables.lineitem(spark, sfDir).join(Tables.orders(spark, sfDir),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
    }
  }
}
