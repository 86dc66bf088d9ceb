package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.GeoTiff
import org.apache.spark.sql.functions._

/** The archive-watch guarantee on real encoder-produced granules:
  * every granule ingested exactly once across two stream runs (stop +
  * restart between them), final cube == batch readCube of the same
  * directory. */
class GeoTiffStreamSpec extends SparkSpec {

  private def granule(seed: Int, bands: Int = 2): Array[Byte] = {
    val w = 4; val h = 3
    GeoTiff.encodeF32(w, h,
      (0 until bands).map(b => Array.tabulate(w * h)(i =>
        if ((i + seed) % 7 == 0) Float.NaN else (seed * 100 + b * 10 + i).toFloat)),
      -120.0, 50.0, 1.0, 1.0)
  }

  test("streaming ingest: exactly-once across restart, equals batch readCube") {
    val arch = new java.io.File(SparkSpec.tempDir("graft-arch"))
    val out = SparkSpec.tempDir("graft-arch-out")
    val ckpt = SparkSpec.tempDir("graft-arch-ckpt")

    def drop(seed: Int): Unit =
      Files.write(new java.io.File(arch, f"granule_$seed%03d.tif").toPath,
        granule(seed))

    // run 1: three granules land, one AvailableNow drain ingests them
    (1 to 3).foreach(drop)
    val q1 = GeoTiffStream.ingestAvailable(
      GeoTiffStream.readCubeStream(spark, arch.toString), out, ckpt)
    q1.awaitTermination()

    // run 2: two more granules land AFTER the first run stopped; the
    // restart must ingest only the new ones (source commit log)
    (4 to 5).foreach(drop)
    val q2 = GeoTiffStream.ingestAvailable(
      GeoTiffStream.readCubeStream(spark, arch.toString), out, ckpt)
    q2.awaitTermination()

    val streamed = spark.read.parquet(out)
      .select(col("path"), col("band"), col("x"), col("y"), col("v"))
    val batch = GeoTiff.readCube(spark, arch.toString + "/*.tif")
      .select(col("path"), col("band"), col("x"), col("y"), col("v"))
    // exactly once: multiset equality (a re-ingested granule would
    // duplicate its rows; a skipped one would be missing)
    assert(streamed.count() == 5 * 2 * 12L)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed cube differs from the batch re-read")

    // nodata cells came through as nulls, values as float-widened
    val nNull = streamed.filter(col("v").isNull).count()
    assert(nNull > 0, "fixture granules carry NaN cells by construction")
  }
}
