package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}
import org.apache.spark.sql.functions._

import graft.api.Api._
import graft.api.ResponseJson.quote
import graft.pipeline.{ArtifactCache, Bpe, Dedup, Maintenance, Multimodal,
  Similarity, TrainingPrep}
import graft.sources.TableIO

/** The measurement harness: one main on the bench session
  * ([[Bench.session]]), one JSON line per measurement, so every number
  * is taken under the config the bench runs.
  *
  *   runMain graft.Measure <mode> <sfDir> [args…]
  *
  * Modes:
  *  - `coldwarm <query>…` — per query, a cold run, then
  *    `ArtifactCache.clear()` and a warm run in a new session (shared
  *    catalog), i.e. what a fresh day-2 session pays.
  *  - `build [family,…]` — the heavy-artifact builds (minhash, span,
  *    spanidx, lmscore, mm, ann_trained; default minhash, span,
  *    lmscore, ann_trained), each followed by a warm read in a new session,
  *    then one `Maintenance.compactAll` sweep; data-file counts per
  *    table before and after it, and the driver's retained heap. Give
  *    it its own `SPARK_GRAFT_INDEX_DIR` so a shared root stays clean;
  *    a fresh JVM on an in-memory catalog rebuilds every table, so the
  *    warm read is only taken inside one JVM.
  *  - `bpe` — BPE rank-table kernel cost, flat in the merge count.
  *  - `curate` — per-batch cost of `TrainingPrep.curateBatch`.
  *  - `anningest <n>` — build, fold and look up n vectors on the
  *    trained ANN index.
  *  - `zorder` — band-sorted vs Z-ordered cube on one small-bbox scan.
  *  - `batch [n]` — n mixed selections in one extraction plan.
  *  - `plans <outDir> <suffix> <query>…` — `explain("formatted")` of
  *    each query to `<outDir>/<query>_<suffix>.txt`.
  *
  * `curate` and `anningest` fold into an isolated copy of the corpus
  * table and `zorder` writes its cubes under a temp dir; each deletes
  * its directory when it ends. A `-1` is a documented "not measured"
  * marker (a metric the plan did not expose, or a chain the analyzer
  * cannot express).
  */
object Measure {

  val Usage: String =
    "usage: runMain graft.Measure <mode> <sfDir> [args…]; modes: " +
      "coldwarm <query>… | build [family,…] | bpe | curate | " +
      "anningest <n> | zorder | batch [n] | plans <outDir> <suffix> <query>…"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val spark = Bench.session()
    try println(run(spark, args(0), args(1), args.toSeq.drop(2)))
    finally spark.stop()
  }

  /** Run one mode on the caller's session; one JSON line per
    * measurement, newline-separated. */
  def run(spark: SparkSession, mode: String, sfDir: String,
      args: Seq[String]): String = (mode, args) match {
    case ("coldwarm", qs) if qs.nonEmpty => coldWarm(spark, sfDir, qs)
    case ("build", Seq()) => build(spark, sfDir, DefaultFamilies)
    case ("build", Seq(fs)) => build(spark, sfDir, fs.split(',').map(_.trim).toSeq)
    case ("bpe", Seq()) => bpe(spark, sfDir)
    case ("curate", Seq()) => curate(spark, sfDir)
    case ("anningest", Seq(n)) => annIngest(spark, sfDir, n.toInt)
    case ("zorder", Seq()) => zorder(spark, sfDir)
    case ("batch", Seq()) => batch(spark, sfDir, 1000)
    case ("batch", Seq(n)) => batch(spark, sfDir, n.toInt)
    case ("plans", out +: suffix +: qs) if qs.nonEmpty =>
      plans(spark, sfDir, out, suffix, qs)
    case _ => throw new IllegalArgumentException(Usage)
  }

  // ---- shared: timing, temp dirs, the JSON line ----

  private def secs(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Two runs, the faster one's seconds (the [[Bench]] discipline: one
    * stall window cannot poison both, and the second skips one-shot
    * plan/codegen cost), with the first run's result. */
  private def minOf2[A](f: => A): (Double, A) = {
    var first: Option[A] = None
    val a = secs { first = Some(f) }
    val b = secs(f)
    (math.min(a, b), first.get)
  }

  private def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir.toString) finally deleteTree(dir.toFile)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree)); f.delete(); ()
  }

  /** `f` over an isolated copy of `sfDir`'s `table`: folds into the
    * copy never touch the shared corpus's stored artifacts, and the
    * copy is deleted when `f` returns or throws. */
  private def withCorpusCopy[A](spark: SparkSession, sfDir: String,
      table: String, prefix: String)(f: String => A): A =
    withTempDir(prefix) { dir =>
      Tables.load(spark, sfDir, table).write.parquet(s"$dir/$table.parquet")
      f(dir)
    }

  /** One JSON object. Doubles print through [[Bench.fmt]] (Locale.ROOT,
    * 3 decimals, trailing zeros stripped), so a comma-decimal default
    * locale cannot corrupt the line; a nested `Seq` of pairs is a
    * nested object. */
  private[graft] def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) =>
      val s = v match {
        case d: Double =>
          require(!d.isNaN && !d.isInfinite, s"$k is not finite: $d")
          Bench.fmt(d, 3)
        case n @ (_: Int | _: Long) => n.toString
        case s: String => quote(s)
        case o: Seq[(String, Any)] @unchecked => json(o)
      }
      quote(k) + ":" + s
    }.mkString("{", ",", "}")

  // ---- coldwarm ----

  private def coldWarm(spark: SparkSession, dir: String,
      queries: Seq[String]): String =
    queries.map { q =>
      val cold = secs(SparkEntry.queries(q)(spark, dir).count())
      ArtifactCache.clear()
      val s2 = spark.newSession()
      val warm = secs(SparkEntry.queries(q)(s2, dir).count())
      json(Seq("metric" -> "coldwarm", "query" -> q, "cold" -> cold,
        "warm" -> warm))
    }.mkString("\n")

  // ---- build ----

  /** The index-build families. `spanidx` is the discovery half of
    * `span` alone (at a corpus whose posting table does not fit next
    * to the discovery scratch); `mm` is the image-signature codec pass
    * (the mm_dhash PAIR query is output-quadratic on short-doc
    * corpora, so the per-generation build is the scale point). */
  private val BuildFamilies: Map[String, (SparkSession, String) => Any] = Map(
    ("minhash", { (s, d) =>
      Dedup.minhashIndexTable(s, d).count(); Dedup.shingleIndexTable(s, d).count() }),
    ("span", { (s, d) =>
      Dedup.spanIndexTable(s, d).count(); Dedup.spanPostTable(s, d).count() }),
    ("spanidx", (s, d) => Dedup.spanIndexTable(s, d).count()),
    ("lmscore", (s, d) => TrainingPrep.bigramScoredTable(s, d).count()),
    ("mm", (s, d) => Multimodal.dhashSigs(s, d).count()),
    ("ann_trained", (s, d) => Similarity.codeTable(s, d, "trained").count()))

  private val DefaultFamilies: Seq[String] = Seq("minhash", "span", "lmscore", "ann_trained")

  private def heapMb(): Long = {
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
  }

  private def build(spark: SparkSession, sfDir: String,
      families: Seq[String]): String = {
    val selected = families.map(k => k -> BuildFamilies.getOrElse(k,
      throw new IllegalArgumentException(s"unknown build family $k; " + Usage)))
    val docs = Tables.documents(spark, sfDir).count()
    val vecs = Tables.embeddings(spark, sfDir).count()
    val cold = selected.map { case (k, f) => k -> secs(f(spark, sfDir)) }
    // all builds first, so no build pays for another's cleared memos
    val warm = selected.map { case (k, f) =>
      ArtifactCache.clear()
      val s2 = spark.newSession()
      s"${k}_warm" -> secs(f(s2, sfDir))
    }
    val slug = graft.pipeline.IndexFamily.slug(sfDir)
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_") && n.contains(slug))
    // keyed without the dir-slug + fingerprint tail: stable, readable
    def files(): Seq[(String, Any)] = tables.toSeq.map { t =>
      val i = t.indexOf("_" + slug)
      (if (i > 0) t.take(i) else t) ->
        TableIO.dataFiles(spark, TableIO.indexPath(t)).size
    }.sortBy(_._1)
    val filesBefore = files()
    val heapAfterBuild = heapMb()
    val compact = secs(Maintenance.compactAll(spark, sfDir))
    json(Seq("metric" -> "index_build", "unit" -> "sec", "sf_dir" -> sfDir,
      "docs" -> docs, "vecs" -> vecs) ++ cold ++ warm ++ Seq(
      "compact" -> compact, "heap_mb" -> heapAfterBuild,
      "heap_mb_final" -> heapMb(), "files" -> filesBefore,
      "files_compacted" -> files()))
  }

  // ---- bpe ----

  /** Per-document apply cost of the rank-table kernel must be FLAT in
    * the merge count: the trained table, padded with never-occurring
    * ranks to 4096, over the corpus documents. The replace chain is
    * also timed at 24 / 96 / 384 synthetic ranks to show ITS
    * linear-in-merges wall (-1 once the nested-replace tree overflows
    * the analyzer's recursion). */
  private def bpe(spark: SparkSession, sfDir: String): String = {
    val trained = Bpe.trainMerges(spark, sfDir)
    def pad(to: Int): Seq[(String, String)] =
      trained ++ (0 until (to - trained.length)).map(i =>
        ("q" * (50 + i % 7), "q" * (57 + i % 11)))
    def sumTokens(df: DataFrame): Long =
      df.agg(sum(col("n_tokens_bpe"))).collect()(0).getLong(0)

    // warm the scan + JVM once
    sumTokens(Bpe.tokensBpeKernel(spark, sfDir))
    val (k24, tok24) = minOf2(sumTokens(Bpe.tokensBpeKernel(spark, sfDir)))
    val (k4096, tok4096) =
      minOf2(sumTokens(Bpe.tokensBpeKernelWith(spark, sfDir, pad(4096))))
    require(tok24 == tok4096, s"padded table changed the output: $tok24 vs $tok4096")
    // the production-shaped path: the table trained to MergesTrainedCap
    // (early-stops when the corpus vocabulary dries), same kernel
    val trainedK = Bpe.trainMergesK(spark, sfDir, Bpe.MergesTrainedCap)
    val (kTrained, tokTrained) = minOf2(sumTokens(Bpe.tokensBpeTrained(spark, sfDir)))
    require(tokTrained <= tok24, s"more merges increased tokens: $tokTrained vs $tok24")
    val (c24, ctok) = minOf2(sumTokens(Bpe.tokensBpe(spark, sfDir)))
    require(ctok == tok24, s"kernel diverged from chain: $tok24 vs $ctok")
    val chainPts = Seq(96, 384).map { m =>
      val merges = pad(m)
      val t =
        try {
          minOf2 {
            val repr = merges.foldLeft(
              regexp_replace(regexp_replace(lower(col("text")),
                "[^a-z]+", " "), "([a-z])", "|$1|")) { case (e, (l, r)) =>
              call_function("replace", e, lit(s"|$l||$r|"), lit(s"|$l$r|"))
            }
            Tables.documents(spark, sfDir)
              .select((((length(repr) - length(call_function("replace",
                repr, lit("|"), lit("")))) / 2).cast("long")).as("n"))
              .agg(sum(col("n"))).collect()(0).getLong(0)
          }._1
        } catch { case _: StackOverflowError => -1.0 }
      s"chain_$m" -> t
    }
    json(Seq("metric" -> "bpe_apply", "unit" -> "sec", "sf" -> sfDir,
      "kernel_24" -> k24, "kernel_4096" -> k4096, "kernel_trained" -> kTrained,
      "ranks_trained" -> trainedK.length, "tokens_trained" -> tokTrained,
      "chain_24" -> c24) ++ chainPts ++ Seq("total_tokens" -> tok24))
  }

  // ---- curate ----

  val CurateBatches = 5

  /** Build the stored artifacts once (`build`: scored table, minhash
    * index, classifier weights, tercile histogram), then time
    * [[CurateBatches]] successive ~1%-of-corpus batches of novel docs.
    * Per-batch cost should be FLAT: a fold must not grow with the
    * folded history, so the last batch is reported on its own. */
  private def curate(spark: SparkSession, sfDir: String): String =
    withCorpusCopy(spark, sfDir, "documents", "graft_curate") { dir =>
      val corpusN = Tables.documents(spark, dir).count()
      // batch b: a distinct ~1% slice under fresh ids — unseen by every
      // freshness probe, while duplicating lake content by construction
      def batch(b: Int) = Tables.documents(spark, dir)
        .filter(col("doc_id") % 100 === b % 50)
        .withColumn("doc_id", col("doc_id") + 10000000L * (b + 1))
      def fold(b: Int) = secs(TrainingPrep.curateBatch(spark, dir, batch(b)).count())
      val build = fold(0)
      val perBatch = (1 to CurateBatches).map(fold)
      val total = perBatch.sum
      json(Seq("metric" -> "curate_batch", "unit" -> "sec", "sf_dir" -> sfDir,
        "corpus_rows" -> corpusN, "batch_rows" -> batch(1).count(),
        "build" -> build, "batches" -> CurateBatches, "total" -> total,
        "per_batch" -> total / CurateBatches, "last_batch" -> perBatch.last))
    }

  // ---- anningest ----

  /** What an owner pays to BUILD the trained ANN index once, FOLD a
    * batch of n new vectors into it (encode-only append) and LOOK the
    * batch up against the grown index — the shape AnnStream runs per
    * micro-batch. */
  private def annIngest(spark: SparkSession, sfDir: String, n: Int): String =
    withCorpusCopy(spark, sfDir, "embeddings", "graft_anningest") { iso =>
      // copies of the first n corpus vectors under fresh ids (near-dup
      // ingest), materialized outside the timings
      val batchRaw = Tables.embeddings(spark, iso)
        .filter(col("vec_id") < n)
        .withColumn("vec_id", col("vec_id") + 10000000L)
      val batchVecs = Similarity.normedOfBatch(batchRaw)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        batchVecs.count()
        // k-means training + corpus assignment + the code-table write
        val build = secs(Similarity.annIvfPqTrained(spark, iso).count())
        val fold = secs {
          val appended = Similarity.appendAnnToIndex(spark, iso, batchVecs, "trained")
          require(appended == n.toLong, s"expected $n appends, got $appended")
        }
        val lookup = secs(Similarity.annSearch(spark, iso, batchRaw).count())
        json(Seq("metric" -> "anningest", "dir" -> sfDir, "n" -> n,
          "build" -> build, "fold" -> fold, "lookup" -> lookup))
      } finally { batchVecs.unpersist(); () }
    }

  // ---- zorder ----

  /** The SAME cube materialized band-sorted and Morton-range-clustered,
    * the SAME small-bbox zonal query on both, and what each scan
    * decoded: row-group pruning is invisible in plans, so the number is
    * the scan node's output rows (rows surviving row-group skip and
    * pushed filters) next to wall time. */
  private def zorder(spark: SparkSession, sfDir: String): String = {
    // AQE off so the executed plan exposes the scan node's metrics
    // directly — on a session of its own, never the caller's
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // small row groups, so the cube carries the MANY row groups a large
    // cube has naturally; both layouts get the same knob, so the
    // comparison isolates the clustering, not the group size
    val rg = Map("parquet.block.size" -> (8 * 1024).toString,
      "parquet.page.size" -> 1024.toString)
    withTempDir("graft_zorder") { tmp =>
      val bandPath = s"$tmp/band"
      val zPath = s"$tmp/z"
      graft.cube.CubeWriter.materialize(s, sfDir, bandPath, rg)
      graft.cube.CubeWriter.materializeZOrdered(s, sfDir, zPath, options = rg)
      def slice(path: String): DataFrame =
        graft.cube.CubeWriter.readSpatialSlice(s, path, "click", 2, 4, 3, 5, 1, 1 << 20)
          .groupBy("band").agg(avg("v"))
      def scan(path: String): Seq[(String, Any)] = {
        slice(path).collect() // warm the file listing + JIT
        val df = slice(path)
        val sec = secs(df.collect())
        val (rows, files) = df.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec =>
            (f.metrics.get("numOutputRows").map(_.value).getOrElse(-1L),
              f.metrics.get("numFiles").map(_.value).getOrElse(-1L))
        }.headOption.getOrElse((-1L, -1L))
        Seq("sec" -> sec, "scan_rows" -> rows, "files" -> files)
      }
      json(Seq("metric" -> "zorder_bbox_scan", "sf_dir" -> sfDir,
        "band_sorted" -> scan(bandPath), "z_ordered" -> scan(zPath)))
    }
  }

  // ---- batch ----

  /** n deterministic mixed selections covering the whole grid: points
    * walk the 150 cells, bboxes slide a 4×3 window, triangles slide a
    * 3×2 one — every selection valid under the same guards the
    * reference applies per request. */
  def selections(n: Int): Seq[BatchSelection] =
    (0 until n).map { i =>
      (i % 3: @unchecked) match {
        case 0 => BatchSelection(s"pt_$i", PointArea((i / 3) % 150))
        case 1 =>
          val x0 = (i / 3) % 6
          val y0 = (i * 7 / 3) % 12
          BatchSelection(s"bb_$i", BBoxArea(x0, x0 + 3, y0, y0 + 2))
        case 2 =>
          val x0 = ((i / 3) % 7).toDouble
          val y0 = ((i * 5 / 3) % 13).toDouble
          BatchSelection(s"tri_$i", PolygonArea(Seq(
            (x0 + 0.2, y0 + 0.2), (x0 + 2.8, y0 + 0.3),
            (x0 + 1.5, y0 + 1.7))))
      }
    }

  /** The reference serves N selections as N independent requests; the
    * engine serves them as ONE plan (`extractTimeseriesBatch`: one cube
    * scan, masks tagged map-side, windows partitioned by selection_id),
    * here with the full transform + smoother stack. */
  private def batch(spark: SparkSession, sfDir: String, n: Int): String = {
    val sels = selections(n)
    val (best, rows) = minOf2(extractTimeseriesBatch(spark, sfDir, "click", sels,
      transform = ZScoreMovingInterval(6),
      smoother = MovingAverageSmoother(centered = true, 5),
      bandRange = (5, 25)).count())
    json(Seq("metric" -> "batch_extract", "value" -> best, "unit" -> "sec",
      "selections" -> n, "rows" -> rows, "sf" -> new java.io.File(sfDir).getName))
  }

  // ---- plans ----

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, queries: Seq[String]): String = {
    val out = new java.io.File(outDir)
    out.mkdirs()
    queries.map { q =>
      val txt = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      val name = s"${q}_$suffix.txt"
      Files.writeString(Path.of(out.getPath, name), txt)
      json(Seq("metric" -> "plans", "query" -> q, "wrote" -> name,
        "chars" -> txt.length))
    }.mkString("\n")
  }
}
