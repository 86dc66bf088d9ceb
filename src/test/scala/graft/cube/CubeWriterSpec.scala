package graft.cube

import graft.SparkSpec

class CubeWriterSpec extends SparkSpec {

  test("materialized cube prunes partitions and matches direct compute") {
    val out = SparkSpec.tempDir("graft-cube")
    CubeWriter.materialize(spark, sfDir, out)

    val slice = CubeWriter.readSlice(spark, out, "click", 5, 25)
    val plan = slice.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") &&
      plan.contains("dataset_id"), "dataset partition pruning missing")
    assert(plan.contains("PushedFilters") && plan.contains("band"),
      "band range not pushed to the scan")

    // values identical to the on-the-fly cube
    val direct = EventCube.cube(spark, sfDir, "click")
      .filter("band BETWEEN 5 AND 25")
      .select("band", "user_id", "v")
    val mat = slice.select("band", "user_id", "v")
    assert(mat.exceptAll(direct).isEmpty && direct.exceptAll(mat).isEmpty)
  }

  test("Z-ordered cube: x/y pushed, per-file spatial footprint shrinks, values preserved") {
    import org.apache.spark.sql.functions._
    val out = SparkSpec.tempDir("graft-zcube")
    CubeWriter.materializeZOrdered(spark, sfDir, out)

    val slice = CubeWriter.readSpatialSlice(spark, out, "click",
      2, 5, 3, 8, 5, 25)
    val plan = slice.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("x") &&
      plan.contains("y") && plan.contains("band"),
      "x/y/band bounds must reach the scan")

    // per-file spatial footprint RELATIVE to the dataset's own extent
    // (sparse SFs do not populate the whole grid): every
    // Morton-clustered file's (x, y) bounding box must cover a fraction
    // of it; any band-sorted file spans all of it (that is the trade)
    val e = spark.read.parquet(out).filter(col("dataset_id") === "click")
      .agg(min("x"), max("x"), min("y"), max("y")).head()
    val extent = (e.getLong(1) - e.getLong(0) + 1).toDouble *
      (e.getLong(3) - e.getLong(2) + 1)
    def footprints(path: String): Seq[Double] = {
      val files = new java.io.File(s"$path/dataset_id=click")
        .listFiles().filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
      files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("x"), max("x"), min("y"), max("y")).head()
        val area = (r.getLong(1) - r.getLong(0) + 1).toDouble *
          (r.getLong(3) - r.getLong(2) + 1)
        area / extent
      }
    }
    val zF = footprints(out)
    assert(zF.size >= 3, s"expected multiple Morton-range files, got ${zF.size}")
    assert(zF.max <= 0.5,
      s"every Z-file must cover <= half the dataset extent, worst ${zF.max}")

    val outBand = SparkSpec.tempDir("graft-bcube")
    CubeWriter.materialize(spark, sfDir, outBand)
    val bF = footprints(outBand)
    assert(bF.forall(_ >= 0.99),
      s"band-sorted files span the full extent by construction: $bF")

    // values identical across both layouts
    val a = spark.read.parquet(out).select("dataset_id", "band", "user_id", "v")
    val b = spark.read.parquet(outBand).select("dataset_id", "band", "user_id", "v")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("morton key interleaves bits with spatial locality") {
    import org.apache.spark.sql.functions._
    val df = spark.range(150).toDF("id")
      .select((col("id") % 10).as("x"), (col("id") / 10).cast("long").as("y"))
      .select(col("x"), col("y"), CubeWriter.morton(col("x"), col("y")).as("mz"))
      .collect()
    val byCell = df.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // spot values: (0,0)=0, (1,0)=1, (0,1)=2, (1,1)=3, (2,2)=12, (9,14)=...
    assert(byCell((0L, 0L)) == 0L && byCell((1L, 0L)) == 1L &&
      byCell((0L, 1L)) == 2L && byCell((1L, 1L)) == 3L && byCell((2L, 2L)) == 12L)
    // bijective over the grid
    assert(byCell.values.toSet.size == 150)
    // locality: consecutive Morton codes are never far apart spatially —
    // check the max Chebyshev step between mz-order neighbors is small
    val inOrder = df.sortBy(_.getLong(2))
    val maxStep = inOrder.sliding(2).map { case Array(a, b) =>
      math.max(math.abs(a.getLong(0) - b.getLong(0)),
        math.abs(a.getLong(1) - b.getLong(1)))
    }.max
    assert(maxStep <= 9, s"Z-curve jump $maxStep")
  }
}
