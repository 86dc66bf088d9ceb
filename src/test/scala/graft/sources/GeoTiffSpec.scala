package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** GeoTIFF ingestion against the skope archive rasters the inventory
  * queries read (SkopeQueries' hand-laid fixtures, in the reference's
  * timeseries/data file names and layouts; each SPARK_GRAFT_GEOTIFF*
  * override points one at a reference checkout's GDAL-written file
  * instead) plus synthetic TIFFs covering the layout variations the
  * parser claims (big-endian, multi-strip, tiled, planar, deflate,
  * multi-page).
  *
  * Fixture ground truth (the closed forms the oracle SQL states, and
  * the reference's tests assert of its own files): value(band b, row r,
  * col c) = float32(100·b + 10·r + 1.1·c) for the float32 variables
  * (100·b + 10·r + c for the integer ones), UL corner (-123, 45),
  * 1°×1° cells — EXCEPT the deliberate nodata cells: (row 3, col 4)
  * in every band plus (row 2, col 4) in band 3 for the annual
  * variables, and (row 3, col 4) in every band for monthly float32.
  * tests/routers/test_datasets.py:test_annual_time_ranges asserts the
  * point series at (-123, 45) is [i·100 for i in bands].
  */
class GeoTiffSpec extends SparkSpec {

  import graft.cube.SkopeQueries.{geotiffFixture, geotiffInt16Fixture,
    geotiffMonthlyFixture, geotiffUint16Fixture}

  /** The annual fixtures' nodata cells as (band, row, col). */
  private def annualNodata(b: Int, y: Int, x: Int): Boolean =
    (y == 3 && x == 4) || (b == 3 && y == 2 && x == 4)

  test("annual float32 fixture: dims, geo-transform, values") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(geotiffFixture))
    val r = GeoTiff.parse(bytes)
    assert((r.width, r.height, r.bands) === (5, 5, 5))
    assert(r.hasGeo)
    assert((r.ulLon, r.ulLat, r.pxW, r.pxH) === (-123.0, 45.0, 1.0, 1.0))
    for (b <- 1 to 5; y <- 0 until 5; x <- 0 until 5)
      if (annualNodata(b, y, x))
        assert(r.value(b, y, x).isNaN, s"nodata band $b cell ($x,$y)")
      else
        assert(r.value(b, y, x) ===
          (100.0 * b + 10.0 * y + 1.1 * x).toFloat.toDouble,
          s"band $b cell ($x,$y)")
  }

  test("point (-123,45) series reproduces test_annual_time_ranges: [i*100]") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(geotiffFixture))
    val r = GeoTiff.parse(bytes)
    val (cx, cy) = r.cellOf(-123.0, 45.0)
    assert((cx, cy) === (0, 0))
    assert((1 to 5).map(b => r.value(b, cy, cx)) ===
      (1 to 5).map(_ * 100.0))
  }

  test("integer fixtures decode with their declared sample formats") {
    def load(path: String) = GeoTiff.parse(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)))
    val u16 = load(geotiffUint16Fixture)
    for (b <- 1 to 5; y <- 0 until 5; x <- 0 until 5)
      if (annualNodata(b, y, x)) // nodata "65535" -> NaN
        assert(u16.value(b, y, x).isNaN)
      else
        assert(u16.value(b, y, x) === (100 * b + 10 * y + x).toDouble)
    val i16 = load(geotiffInt16Fixture)
    assert(i16.bands === 60)
    assert(i16.value(60, 4, 4) === (6000 + 40 + 4).toDouble)
    // monthly float32 declares nodata -9999; cell (row 3, col 4)
    // carries it in every band
    val f32 = load(geotiffMonthlyFixture)
    for (b <- 1 to 60; y <- 0 until 5; x <- 0 until 5)
      assert(f32.value(b, y, x).isNaN === (y == 3 && x == 4),
        s"band $b cell ($x,$y)")
  }

  test("readCube: distributed ingestion matches the in-JVM parse") {
    val df = GeoTiff.readCube(spark, geotiffFixture)
    assert(df.count() === 125)
    // exactly the fixture's 6 nodata cells come back null
    assert(df.filter(col("v").isNull).count() === 6)
    val row = df.filter(col("band") === 3 && col("x") === 2 && col("y") === 1)
      .select(col("v"), col("lon"), col("lat")).head()
    assert(row.getDouble(0) === (300.0 + 10.0 + 2.2).toFloat.toDouble)
    assert(row.getDouble(1) === -120.5) // center of col 2
    assert(row.getDouble(2) === 43.5) // center of row 1
    // per-band zonal mean (nulls skipped, rasterio masked-array
    // semantics) == mean of the closed form over the live cells
    val means = df.groupBy(col("band")).agg(avg(col("v")).as("m"))
      .orderBy(col("band")).collect().map(_.getDouble(1))
    val expected = (1 to 5).map { b =>
      val live = for {
        y <- 0 until 5; x <- 0 until 5 if !annualNodata(b, y, x)
      } yield (100.0 * b + 10.0 * y + 1.1 * x).toFloat.toDouble
      live.sum / live.length
    }
    means.zip(expected).foreach { case (m, e) =>
      assert(math.abs(m - e) < 1e-9) }
  }

  // ---- synthetic layout variations -------------------------------

  /** Minimal TIFF writer for the layouts the fixtures don't exercise.
    * Always float32; geo tags omitted (that path is fixture-covered). */
  private def makeTiff(order: ByteOrder, width: Int, height: Int,
      bands: Int, planar: Int, tiled: Boolean, deflate: Boolean,
      rowsPerStrip: Int = 2, tileW: Int = 16, tileH: Int = 16,
      nodata: Option[String] = None,
      value: (Int, Int, Int) => Float = (b, y, x) =>
        (100f * b + 10f * y + 1.1f * x)): Array[Byte] = {

    def compress(seg: Array[Byte]): Array[Byte] =
      if (!deflate) seg
      else {
        val d = new java.util.zip.Deflater()
        d.setInput(seg); d.finish()
        val out = new ByteArrayOutputStream()
        val tmp = new Array[Byte](256)
        while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
        d.end()
        out.toByteArray
      }

    // segments in file order: per plane (planar=2) or all samples
    // interleaved (planar=1)
    val planes = if (planar == 2) bands else 1
    val segSamples = if (planar == 2) 1 else bands
    val segs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    if (tiled) {
      val across = (width + tileW - 1) / tileW
      val down = (height + tileH - 1) / tileH
      for (p <- 0 until planes; ty <- 0 until down; tx <- 0 until across) {
        val bb = ByteBuffer.allocate(tileW * tileH * segSamples * 4)
          .order(order)
        for (r <- 0 until tileH; c <- 0 until tileW; s <- 0 until segSamples) {
          val y = ty * tileH + r
          val x = tx * tileW + c
          val b = (if (planar == 2) p else s) + 1
          bb.putFloat(if (y < height && x < width) value(b, y, x) else 0f)
        }
        segs += compress(bb.array())
      }
    } else {
      val strips = (height + rowsPerStrip - 1) / rowsPerStrip
      for (p <- 0 until planes; s <- 0 until strips) {
        val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
        val bb = ByteBuffer.allocate(rows * width * segSamples * 4)
          .order(order)
        for (r <- 0 until rows; c <- 0 until width; k <- 0 until segSamples) {
          val b = (if (planar == 2) p else k) + 1
          bb.putFloat(value(b, s * rowsPerStrip + r, c))
        }
        segs += compress(bb.array())
      }
    }

    // layout: header(8) | IFD | tag arrays | segment data
    final case class Tag(id: Int, typ: Int, values: Array[Long])
    val nSegs = segs.length
    val headerAndIfdGuess = 8 + 2 + 20 * 12 + 4
    // reserve generous space for out-of-line arrays
    var arrOff = headerAndIfdGuess + 512
    val segOffsets = new Array[Long](nSegs)
    var dataOff = arrOff + 1024
    for (i <- 0 until nSegs) {
      segOffsets(i) = dataOff
      dataOff += segs(i).length
    }

    var tags = Vector(
      Tag(256, 4, Array(width.toLong)), Tag(257, 4, Array(height.toLong)),
      Tag(258, 3, Array.fill(bands)(32L)),
      Tag(259, 3, Array(if (deflate) 8L else 1L)),
      Tag(262, 3, Array(1L)),
      Tag(277, 3, Array(bands.toLong)),
      Tag(284, 3, Array(planar.toLong)),
      Tag(339, 3, Array.fill(bands)(3L)))
    tags = tags ++ (if (tiled) Vector(
      Tag(322, 3, Array(tileW.toLong)), Tag(323, 3, Array(tileH.toLong)),
      Tag(324, 4, segOffsets), Tag(325, 4, segs.map(_.length.toLong).toArray))
    else Vector(
      Tag(273, 4, segOffsets), Tag(278, 3, Array(rowsPerStrip.toLong)),
      Tag(279, 4, segs.map(_.length.toLong).toArray)))
    // GDAL_NODATA is ASCII (type 2), one byte per char, NUL-terminated
    nodata.foreach(s => tags = tags :+
      Tag(42113, 2, (s.getBytes("US-ASCII") :+ 0.toByte).map(_.toLong)))
    tags = tags.sortBy(_.id)

    val total = dataOff
    val bb = ByteBuffer.allocate(total.toInt).order(order)
    bb.put((if (order == ByteOrder.LITTLE_ENDIAN) "II" else "MM")
      .getBytes("US-ASCII"))
    bb.putShort(42)
    bb.putInt(8)
    bb.putShort(tags.length.toShort)
    var cursor = arrOff
    tags.foreach { t =>
      bb.putShort(t.id.toShort)
      bb.putShort(t.typ.toShort)
      bb.putInt(t.values.length)
      val elemSize = t.typ match { case 2 => 1; case 3 => 2; case _ => 4 }
      def putVal(v: Long): Unit = t.typ match {
        case 2 => bb.put(v.toByte)
        case 3 => bb.putShort(v.toShort)
        case _ => bb.putInt(v.toInt)
      }
      if (t.values.length * elemSize <= 4) {
        val mark = bb.position()
        t.values.foreach(putVal)
        bb.position(mark + 4)
      } else {
        bb.putInt(cursor.toInt)
        val mark = bb.position()
        bb.position(cursor.toInt)
        t.values.foreach(putVal)
        cursor = bb.position()
        bb.position(mark)
      }
    }
    bb.putInt(0) // no next IFD
    for (i <- 0 until nSegs) {
      bb.position(segOffsets(i).toInt)
      bb.put(segs(i))
    }
    bb.array()
  }

  private def assertGrid(bytes: Array[Byte], width: Int, height: Int,
      bands: Int): Unit = {
    val r = GeoTiff.parse(bytes)
    assert((r.width, r.height, r.bands) === (width, height, bands))
    for (b <- 1 to bands; y <- 0 until height; x <- 0 until width)
      assert(r.value(b, y, x) === (100f * b + 10f * y + 1.1f * x).toDouble,
        s"band $b cell ($x,$y)")
  }

  test("encodeF32 round trip: values, NaN->nodata->NaN, geo-transform, multi-page") {
    val w = 5; val h = 3
    val b1 = Array.tabulate(w * h)(i => if (i == 7) Float.NaN else i * 1.5f)
    val b2 = Array.tabulate(w * h)(i => if (i == 0) Float.NaN else 100f - i)
    val bytes = GeoTiff.encodeF32(w, h, Seq(b1, b2), -120.0, 50.0, 1.0, 1.0)
    assert(bytes.length == GeoTiff.exportedF32Size(w, h, bands = 2))
    val r = GeoTiff.parse(bytes)
    assert(r.width == w && r.height == h && r.bands == 2 && r.hasGeo)
    assert(r.ulLon == -120.0 && r.ulLat == 50.0 && r.pxW == 1.0 && r.pxH == 1.0)
    for (i <- 0 until w * h) {
      val got1 = r.values(0)(i); val got2 = r.values(1)(i)
      if (b1(i).isNaN) assert(got1.isNaN) else assert(got1 == b1(i).toDouble)
      if (b2(i).isNaN) assert(got2.isNaN) else assert(got2 == b2(i).toDouble)
    }
    // a value equal to the sentinel round-trips as nodata (documented
    // lossy corner of any sentinel scheme — same as GDAL)
    val s = Array.fill(w * h)(GeoTiff.ExportNodata)
    assert(GeoTiff.parse(GeoTiff.encodeF32(w, h, Seq(s), 0, 0, 1, 1))
      .values(0).forall(_.isNaN))
  }

  test("geotiffExport files re-ingest to exactly the exported cube slice") {
    import graft.cube.{EventCube, SkopeQueries}
    val facts = SkopeQueries.geotiffExport(spark, sfDir).collect()
    assert(facts.nonEmpty)
    // every file's closed-form size
    facts.foreach(f => assert(f.getAs[Long]("n_bytes") ==
      GeoTiff.exportedF32Size(EventCube.GridWidth,
        graft.cube.Geometry.GridHeight)))
    // the export dir is deterministic per (corpus, JVM) — rebuild its
    // name the way geotiffExport does (other suites may have exported
    // OTHER corpora in this JVM, so a glob would be ambiguous)
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(("tif:" + sfDir).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val expDir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-tifexp-$hash-${ProcessHandle.current().pid()}")
    assert(expDir.isDirectory, s"export dir $expDir missing")
    // distributed re-ingest; band index recovered from the file name
    val back = GeoTiff.readCube(spark, expDir.toString + "/*.tif")
      .select(
        regexp_extract(col("path"), "band_(\\d+)\\.tif", 1)
          .cast("long").as("band"),
        col("x").cast("long"), col("y").cast("long"), col("v"))
      .filter(col("v").isNotNull)
    val cube = EventCube.cube(spark, sfDir, "click")
      .filter(col("band").between(SkopeQueries.ReqLo, SkopeQueries.ReqHi) &&
        col("y") < graft.cube.Geometry.GridHeight)
      .select(col("band"), col("x"), col("y"),
        col("v").cast("float").cast("double").as("v"))
    assert(back.exceptAll(cube).isEmpty && cube.exceptAll(back).isEmpty,
      "re-ingested export differs from the cube slice")
  }

  test("big-endian multi-strip chunky") {
    assertGrid(makeTiff(ByteOrder.BIG_ENDIAN, 7, 5, 3,
      planar = 1, tiled = false, deflate = false), 7, 5, 3)
  }

  test("planar (band-sequential) strips") {
    assertGrid(makeTiff(ByteOrder.LITTLE_ENDIAN, 6, 9, 4,
      planar = 2, tiled = false, deflate = false, rowsPerStrip = 4), 6, 9, 4)
  }

  test("tiled chunky with edge padding") {
    assertGrid(makeTiff(ByteOrder.LITTLE_ENDIAN, 21, 10, 2,
      planar = 1, tiled = true, deflate = false), 21, 10, 2)
  }

  test("tiled planar deflate") {
    assertGrid(makeTiff(ByteOrder.BIG_ENDIAN, 18, 19, 3,
      planar = 2, tiled = true, deflate = true), 18, 19, 3)
  }

  test("deflate strips") {
    assertGrid(makeTiff(ByteOrder.LITTLE_ENDIAN, 5, 5, 5,
      planar = 1, tiled = false, deflate = true, rowsPerStrip = 5), 5, 5, 5)
  }

  test("many-file ingest: 64 granules decode in parallel, partitions scale with files") {
    // the 100 TB archive shape: one .tif granule per (dataset, tile) —
    // ingestion parallelism must come from FILE COUNT (binaryFile scan
    // splits, each granule decoded whole on an executor), never from a
    // single-file driver loop
    val dir = java.nio.file.Paths.get(graft.SparkSpec.tempDir("gt_many"))
    (0 until 64).foreach { i =>
      val bytes = makeTiff(ByteOrder.LITTLE_ENDIAN, 8, 8, 4,
        planar = 1, tiled = false, deflate = false, rowsPerStrip = 4,
        value = (b, y, x) => 1000f * i + 100f * b + 10f * y + x)
      java.nio.file.Files.write(dir.resolve(f"granule_$i%02d.tif"), bytes)
    }
    val df = GeoTiff.readCube(spark, s"$dir/*.tif").cache()
    try {
      assert(df.count() === 64L * 4 * 8 * 8)
      // every granule decoded with its own content (no cross-file mixup)
      val perFile = df.filter(col("band") === 1 && col("x") === 0 && col("y") === 0)
        .select(col("path"), col("v")).collect()
        .map(r => r.getString(0).split("granule_").last -> r.getDouble(1)).toMap
      assert(perFile.size === 64)
      (0 until 64).foreach { i =>
        assert(perFile(f"$i%02d.tif") === 1000.0 * i + 100.0)
      }
      // default conf: the scan fans out across every core — a
      // single-partition plan would serialize 64 decodes
      val parts = df.rdd.getNumPartitions
      assert(parts >= spark.sparkContext.defaultParallelism,
        s"only $parts scan partitions for 64 granules")
    } finally df.unpersist()
    // shrink the packing budget to the granule scale: partition count
    // must now track FILE count (the scale lever a 100 TB ingest turns
    // via maxPartitionBytes so one task ≈ one granule)
    val mpb = "spark.sql.files.maxPartitionBytes"
    val oc = "spark.sql.files.openCostInBytes"
    val (prevM, prevO) = (spark.conf.get(mpb), spark.conf.get(oc))
    try {
      spark.conf.set(mpb, "16384"); spark.conf.set(oc, "16384")
      val partsSmall = GeoTiff.readCube(spark, s"$dir/*.tif").rdd.getNumPartitions
      assert(partsSmall >= 32,
        s"partition count $partsSmall does not scale with 64 granules")
    } finally { spark.conf.set(mpb, prevM); spark.conf.set(oc, prevO) }
  }

  test("float32 nodata sentinel matches at sample precision") {
    // -9999.9 is NOT float32-representable: the cell holds
    // float32(-9999.9) = -9999.900390625, which a double-spelled
    // comparison of the ASCII tag value would never equal — the parser
    // must cast the sentinel through the sample type before comparing
    val bytes = makeTiff(ByteOrder.LITTLE_ENDIAN, 4, 3, 2,
      planar = 1, tiled = false, deflate = false,
      nodata = Some("-9999.9"),
      value = (b, y, x) => if (y == 1 && x == 2) -9999.9f
        else 100f * b + 10f * y + 1.1f * x)
    val r = GeoTiff.parse(bytes)
    for (b <- 1 to 2) {
      assert(r.value(b, 1, 2).isNaN, s"band $b sentinel cell not nulled")
      assert(!r.value(b, 0, 0).isNaN)
    }
  }

  /** Minimal hand-built BigTIFF (r12 verdict item 8): magic 43, 8-byte
    * offsets, u64 IFD count, 20-byte entries, LONG8 strip tables —
    * independent byte vector from the SkopeQueries fixture so the two
    * gates can't share a layout bug. uint16 samples exercise the >1-byte
    * depth through the 43-branch too. */
  private def makeBigTiff(w: Int, h: Int,
      offsetSize: Int = 8): Array[Byte] = {
    val stripBytes = h * w * 2 // one strip, uint16
    val headerLen = 16
    val dataOff = headerLen
    val ifdOff = dataOff + stripBytes
    val n = 10
    val total = ifdOff + 8 + n * 20 + 8
    val bb = java.nio.ByteBuffer.allocate(total)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(43)
      .putShort(offsetSize.toShort).putShort(0).putLong(ifdOff.toLong)
    for (y <- 0 until h; x <- 0 until w)
      bb.putShort((1000 * y + 17 * x).toShort)
    bb.putLong(n.toLong)
    def entry(tag: Int, typ: Int, count: Long)(v: java.nio.ByteBuffer => Unit): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putLong(count)
      val end = bb.position() + 8
      v(bb)
      while (bb.position() < end) bb.put(0.toByte)
    }
    entry(256, 3, 1)(_.putShort(w.toShort))
    entry(257, 3, 1)(_.putShort(h.toShort))
    entry(258, 3, 1)(_.putShort(16))
    entry(259, 3, 1)(_.putShort(1))
    entry(262, 3, 1)(_.putShort(1))
    entry(273, 16, 1)(_.putLong(dataOff.toLong)) // LONG8 inline (fits slot)
    entry(277, 3, 1)(_.putShort(1))
    entry(278, 3, 1)(_.putShort(h.toShort))
    entry(279, 16, 1)(_.putLong(stripBytes.toLong))
    entry(339, 3, 1)(_.putShort(1))
    bb.putLong(0L)
    bb.array()
  }

  test("BigTIFF: 43-magic header, u64 counts, inline LONG8 strip tables") {
    val r = GeoTiff.parse(makeBigTiff(9, 6))
    assert((r.width, r.height, r.bands) === ((9, 6, 1)))
    for (y <- 0 until 6; x <- 0 until 9)
      assert(r.value(1, y, x) === (1000 * y + 17 * x).toDouble, s"($x,$y)")
  }

  test("BigTIFF: non-8 offset size fails loudly") {
    val e = intercept[IllegalArgumentException] {
      GeoTiff.parse(makeBigTiff(4, 4, offsetSize = 4))
    }
    assert(e.getMessage.contains("offset size"))
  }
}
