package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Encode-only maintenance of the persisted ANN index:
  * `Similarity.appendAnnToIndex` folds a batch of new vectors into the
  * partitioned code table (and the raw-vector extension the refine arm
  * re-reads) WITHOUT retraining — the production ingest of an IVF
  * index, mirroring the dedup family's IndexAppendSpec. Proofs:
  *  - an appended exact copy of each probe vector is served by the
  *    trained/residual ADC searches and ranks FIRST (cos = 1.0) in the
  *    refine re-rank — straight off the stored tables;
  *  - folding never retrains: the fingerprint-named codebook sidecars
  *    are byte-identical name-for-name across appends;
  *  - appends are idempotent at vec_id granularity, per kind for codes
  *    and across kinds for the shared vector extension;
  *  - `IndexFamily.ann.compact` folds appended files back toward one per
  *    inverted list without changing results.
  *
  * Runs against an ISOLATED copy of the corpus (own fingerprint, own
  * tables) — folding foreign vectors into the shared sfDir index would
  * poison every other suite's ANN expectations.
  */
class AnnAppendSpec extends SparkSpec {

  private val Off = 1000000L

  // every kind's code table is built before any fold: a kind first
  // touched after a fold encodes the folded vectors itself, and the
  // cases below pin the fold path of each kind
  private lazy val cDir: String = {
    val d = SparkSpec.tempDir("graft_annappend")
    graft.Tables.embeddings(spark, sfDir)
      .write.parquet(d + "/embeddings.parquet")
    Seq("md5", "trained", "residual", "opq")
      .foreach(Similarity.codeTable(spark, d, _).count())
    d
  }

  // the fold: exact copies of the probe vectors under fresh ids —
  // cos(copy, probe) = 1.0 exactly, so findability is enumerable
  private def batch: DataFrame =
    Similarity.normedOfBatch(
      graft.Tables.embeddings(spark, cDir)
        .filter(col("vec_id") < Similarity.NumProbes)
        .withColumn("vec_id", col("vec_id") + Off))

  private def hits(df: DataFrame): Set[(Long, Long)] =
    df.select(col("probe_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def bookTables(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq
      .filter(_.startsWith("graft_anncb_"))
      .filter(_.contains(cDir.replaceAll("[^A-Za-z0-9]", "_"))).sorted

  private def codeFiles(kind: String): Seq[java.io.File] = {
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"graft_anncodes_${kind}_"))
      .filter(_.contains(cDir.replaceAll("[^A-Za-z0-9]", "_")))
    assert(tbl.length === 1, s"expected one $kind code table for $cDir")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(graft.sources.TableIO.indexPath(tbl.head)))
  }

  test("trained ADC serves a folded batch off the stored code table, no retrain") {
    val before = hits(Similarity.annIvfPqTrained(spark, cDir))
    assert(!before.exists(_._2 >= Off),
      "batch ids must be invisible before the fold")
    val books = bookTables()
    assert(books.nonEmpty, "trained sidecars must exist after the base build")

    assert(Similarity.appendAnnToIndex(spark, cDir, batch, "trained")
      === Similarity.NumProbes.toLong)
    assert(bookTables() === books, "a fold must never add/retrain a book")

    val after = hits(Similarity.annIvfPqTrained(spark, cDir))
    (0L until Similarity.NumProbes).foreach { p =>
      assert(after.contains((p, p + Off)),
        s"probe $p must retrieve its appended exact copy")
    }
  }

  test("a kind first touched after folds under another kind serves them") {
    // four new vectors (reversed corpus vectors: no corpus twin shares
    // their codes) fold under md5 only; the trained code table does not
    // exist yet, so its first touch must encode them too
    val d = SparkSpec.tempDir("graft_annappend_kind")
    graft.Tables.embeddings(spark, sfDir).write.parquet(d + "/embeddings.parquet")
    val folded = graft.Tables.embeddings(spark, d)
      .filter(col("vec_id") < 4)
      .select((col("vec_id") + Off).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    assert(Similarity.appendAnnToIndex(spark, d,
      Similarity.normedOfBatch(folded), "md5") === 4L)
    val query = folded.filter(col("vec_id") === Off)
      .withColumn("vec_id", lit(-1L))
    val top1 = Similarity.annSearch(spark, d, query, "trained")
      .filter(col("rank") === 1).select("vec_id").collect().map(_.getLong(0))
    assert(top1.toSeq === Seq(Off),
      "an exact copy of a vector folded under md5 must rank its id first")
  }

  test("refine re-ranks an appended candidate to rank 1 at cos 1.0") {
    // the refine shortlist comes off the md5-kind codes: fold there too
    assert(Similarity.appendAnnToIndex(spark, cDir, batch, "md5")
      === Similarity.NumProbes.toLong)
    val top1 = Similarity.annIvfPqRefine(spark, cDir)
      .filter(col("rank") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    (0L until Similarity.NumProbes).foreach { p =>
      assert(top1.contains((p, p + Off, 1.0)),
        s"probe $p's appended copy must win the exact re-rank")
    }
  }

  test("appendAnnToIndex is idempotent per kind and for the vector extension") {
    Similarity.appendAnnToIndex(spark, cDir, batch, "trained") // any order
    val codeCount = spark.table(
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_anncodes_trained_"))
        .filter(_.contains(cDir.replaceAll("[^A-Za-z0-9]", "_"))).head).count()
    val vecCount = Similarity.annStreamVecsTable(spark, cDir).count()
    assert(vecCount === Similarity.NumProbes.toLong,
      "cross-kind folds of the same batch must not duplicate vectors")
    assert(Similarity.appendAnnToIndex(spark, cDir, batch, "trained") === 0L)
    assert(Similarity.annStreamVecsTable(spark, cDir).count() === vecCount)
    assert(spark.table(
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_anncodes_trained_"))
        .filter(_.contains(cDir.replaceAll("[^A-Za-z0-9]", "_"))).head).count()
      === codeCount)
  }

  test("residual ADC serves a folded batch in the residual frame") {
    assert(Similarity.appendAnnToIndex(spark, cDir, batch, "residual")
      === Similarity.NumProbes.toLong)
    val after = hits(Similarity.annIvfPqResidual(spark, cDir))
    (0L until Similarity.NumProbes).foreach { p =>
      assert(after.contains((p, p + Off)),
        s"probe $p must retrieve its appended copy through residual codes")
    }
  }

  test("opq ADC serves a folded batch in the rotated frame") {
    // r15: the fold encodes the batch through the stored permutation
    // sidecar (encodeBatch's permOpt path) — an exact copy of a probe
    // rotates to the probe's own rotated vector, so it must come back
    assert(Similarity.appendAnnToIndex(spark, cDir, batch, "opq")
      === Similarity.NumProbes.toLong)
    val after = hits(Similarity.annIvfPqOpq(spark, cDir))
    (0L until Similarity.NumProbes).foreach { p =>
      assert(after.contains((p, p + Off)),
        s"probe $p must retrieve its appended copy through opq codes")
    }
    // and the fold trained nothing: the permutation + opq book
    // sidecars predate the fold (bookTables is append-stable)
    assert(Similarity.appendAnnToIndex(spark, cDir, batch, "opq") === 0L)
  }

  test("the fresh-id probe broadcasts: zero Exchange on the index side") {
    // force join-strategy honesty: without the explicit broadcasts the
    // corpus-scale stored table would land on a shuffled build side
    val stored = Similarity.annStreamVecsTable(spark, cDir) // any big frame
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = IndexFamily.ann.freshIds(batch, stored)
        .queryExecution.executedPlan.toString()
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"a fold probe must never reshuffle the stored index:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("the fold probe partition-prunes to the batch's touched lists") {
    // r12 verdict item 3: the "already indexed" probe must not scan the
    // whole stored code table per micro-batch — encode first, then
    // probe ONLY the batch's own routed inverted lists
    val (_, touched) = Similarity.encodeBatch(spark, cDir, batch, "trained")
    assert(touched.nonEmpty && touched.size <= Similarity.NumProbes,
      s"a ${Similarity.NumProbes}-vector batch touches at most that many lists")
    val probe = IndexFamily.ann.freshIds(batch,
      Similarity.prunedCodeProbe(spark, cDir, "trained", touched))
    val plan = probe.queryExecution.executedPlan.toString()
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("cent_id"),
      s"fresh-id probe scan carries no cent_id partition filter:\n$plan")
  }

  test("a torn fold (codes landed, vectors lost) heals on replay") {
    Similarity.appendAnnToIndex(spark, cDir, batch, "trained") // ensure folded
    // simulate the crash window between the two appends: the code
    // table kept the batch, the vector extension never landed
    val vtName = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_annvecs_"))
      .filter(_.contains(cDir.replaceAll("[^A-Za-z0-9]", "_"))).head
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(vtName)).location
    spark.sql(s"DROP TABLE $vtName")
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)

    // replay: no codes re-append (0 returned), the extension backfills
    assert(Similarity.appendAnnToIndex(spark, cDir, batch, "trained") === 0L)
    assert(Similarity.annStreamVecsTable(spark, cDir).count()
      === Similarity.NumProbes.toLong)
    // and the refine arm serves the batch again off the healed table
    val top1 = Similarity.annIvfPqRefine(spark, cDir)
      .filter(col("rank") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    (0L until Similarity.NumProbes).foreach { p =>
      assert(top1.contains((p, p + Off, 1.0)))
    }
  }

  test("a compaction crash in the code table's drop window recovers from staging") {
    Similarity.appendAnnToIndex(spark, cDir, batch, "trained") // ensure folded
    val expected = Similarity.annIvfPqTrained(spark, cDir).collect()
      .map(_.toSeq).toSet
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_anncodes_trained_"))
      .filter(_.contains(cDir.replaceAll("[^A-Za-z0-9]", "_"))).head
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location.toString

    // simulate compactPartitioned dying in its drop window
    spark.table(tbl).write.parquet(loc.stripSuffix("/") + "_compact_staging")
    spark.sql(s"DROP TABLE $tbl")
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)

    // first touch must restore corpus codes + the fold from staging —
    // a corpus-only rebuild would drop every (probe, probe+Off) hit
    assert(Similarity.annIvfPqTrained(spark, cDir).collect()
      .map(_.toSeq).toSet === expected)
  }

  test("ann compaction folds appended files back, results intact") {
    Similarity.appendAnnToIndex(spark, cDir, batch, "trained") // ensure folded
    // a SECOND batch guarantees fresh append files even after the
    // recovery test restored the table in compacted form
    Similarity.appendAnnToIndex(spark, cDir,
      Similarity.normedOfBatch(
        graft.Tables.embeddings(spark, cDir)
          .filter(col("vec_id") < Similarity.NumProbes)
          .withColumn("vec_id", col("vec_id") + 2 * Off)), "trained")
    val expected = Similarity.annIvfPqTrained(spark, cDir).collect()
      .map(_.toSeq).toSet
    val before = codeFiles("trained").length
    IndexFamily.ann.compact(spark, cDir)
    val after = codeFiles("trained").length
    assert(after < before,
      s"appends left $before files; compaction must shrink that (got $after)")
    assert(after <= Similarity.IvfCentroids)
    assert(Similarity.annIvfPqTrained(spark, cDir).collect()
      .map(_.toSeq).toSet === expected)
  }

  test("an EMPTY batch folds as a no-op (the idle micro-batch shape)") {
    val codesBefore = spark.table(
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_anncodes_trained_"))
        .filter(_.contains(cDir.replaceAll("[^A-Za-z0-9]", "_"))).head).count()
    val vecsBefore = Similarity.annStreamVecsTable(spark, cDir).count()
    val empty = Similarity.normedOfBatch(
      graft.Tables.embeddings(spark, cDir).filter(col("vec_id") < 0))
    assert(Similarity.appendAnnToIndex(spark, cDir, empty, "trained") === 0L)
    assert(Similarity.annStreamVecsTable(spark, cDir).count() === vecsBefore)
    assert(spark.table(
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_anncodes_trained_"))
        .filter(_.contains(cDir.replaceAll("[^A-Za-z0-9]", "_"))).head).count()
      === codesBefore)
  }

  test("a corpus-resident vec_id never lands in the vector extension") {
    val before = Similarity.annStreamVecsTable(spark, cDir).count()
    // batch = corpus rows under their OWN ids: every code table already
    // carries them (the base build encoded the whole corpus), so the
    // code append skips them — the vector append must skip them too,
    // or annIvfPqRefine's corpus ∪ annvecs candidate base serves each
    // vec_id twice and one duplicate fills two top-k rank slots
    val corpusBatch = Similarity.normedOfBatch(
      graft.Tables.embeddings(spark, cDir)
        .filter(col("vec_id") < Similarity.NumProbes))
    assert(Similarity.appendAnnToIndex(spark, cDir, corpusBatch, "md5") === 0L)
    assert(Similarity.annStreamVecsTable(spark, cDir).count() === before,
      "corpus-resident vec_ids duplicated into graft_annvecs_")
    // and the refine output stays duplicate-free end-to-end
    val dups = Similarity.annIvfPqRefine(spark, cDir)
      .groupBy(col("probe_id"), col("vec_id")).count()
      .filter(col("count") > 1).count()
    assert(dups === 0L, "duplicate (probe, candidate) rows in refine")
  }

  test("permanent removal: a removed vec never re-enters through compact + re-ingest") {
    val b = batch
    Similarity.appendAnnToIndex(spark, cDir, b, "trained") // ensure folded
    val ids = Seq(Off, Off + 1)
    assert(IndexFamily.ann.remove(spark, cDir, ids,
      permanent = true) === ids.size.toLong)
    assert(Similarity.codeTable(spark, cDir, "trained")
      .filter(col("vec_id").isin(ids: _*)).count() === 0L)
    // the full-family sweep materializes and clears the ann sidecar
    // (2 of 500 vecs = 0.4%: below the model-refresh threshold, so
    // this also pins that a small takedown never retrains the books)
    val counts = Maintenance.compactAll(spark, cDir)
    assert(!counts.contains("models_vec"), s"no retrain expected: $counts")
    assert(Similarity.codeTable(spark, cDir, "trained", raw = true)
      .filter(col("vec_id").isin(ids: _*)).count() === 0L)
    // replayed ingest of the removed vecs: appends nothing, and the
    // raw vector extension stays clean too
    val vecsBefore = Similarity.annStreamVecsTable(spark, cDir, raw = true)
      .count()
    assert(Similarity.appendAnnToIndex(spark, cDir,
      b.filter(col("vec_id").isin(ids: _*)), "trained") === 0L)
    assert(Similarity.codeTable(spark, cDir, "trained", raw = true)
      .filter(col("vec_id").isin(ids: _*)).count() === 0L)
    assert(Similarity.annStreamVecsTable(spark, cDir, raw = true).count()
      === vecsBefore)
    // and no ADC search can serve them
    assert(Similarity.annIvfPqTrained(spark, cDir)
      .filter(col("vec_id").isin(ids: _*)).count() === 0L)
  }
}
