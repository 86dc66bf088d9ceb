package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** Every table of [[IndexFamily.all]], through its production
  * accessor: first touch restores a crashed compaction's staging
  * instead of rebuilding, and the catalog layout (bucket spec or
  * partition columns) is the table's own `IndexTable.keys` after first
  * touch, after the restore and after compaction. Isolated corpus (own
  * fingerprint, own tables). */
class IndexTableSpec extends SparkSpec {

  private val CopyOff = 5000000L
  private val FoldOff = 7000000L

  // docs + full-text copies (duplicated spans exist), and vectors
  private lazy val cDir: String = {
    val d = SparkSpec.tempDir("graft_itable")
    val docs = graft.Tables.documents(spark, sfDir).limit(60)
    docs.unionByName(docs.limit(6).withColumn("doc_id", col("doc_id") + CopyOff))
      .write.parquet(d + "/documents.parquet")
    graft.Tables.embeddings(spark, sfDir).limit(60)
      .write.parquet(d + "/embeddings.parquet")
    d
  }

  /** Each table with its accessor's PHYSICAL read (first touch). */
  private def accessors(d: String): Seq[(IndexTable, () => DataFrame)] = Seq(
    IndexFamily.dedup.minhash -> (() => Dedup.minhashIndexTable(spark, d, raw = true)),
    IndexFamily.dedup.shingles -> (() => Dedup.shingleIndexTable(spark, d, raw = true)),
    IndexFamily.simhash.postings -> (() => Dedup.simhashIndexTable(spark, d, raw = true)),
    IndexFamily.span.starts -> (() => Dedup.spanIndexTable(spark, d, raw = true)),
    IndexFamily.span.postings -> (() => Dedup.spanPostTable(spark, d, raw = true)),
    IndexFamily.lmscore.scores ->
      (() => TrainingPrep.bigramScoredTable(spark, d, raw = true)),
    IndexFamily.lmscore.docs -> (() => TrainingPrep.lmDocsTable(spark, d)),
    IndexFamily.mm.sigs -> (() => Multimodal.dhashSigs(spark, d, raw = true)),
    IndexFamily.ann.codes("md5") ->
      (() => Similarity.codeTable(spark, d, "md5", raw = true)),
    IndexFamily.ann.vecs -> (() => Similarity.annStreamVecsTable(spark, d, raw = true)),
    IndexFamily.sem.postings -> (() => Similarity.semPostingTable(spark, d,
      Dedup.BroadcastVerifyBytes, raw = true)),
    IndexFamily.sem.vecs -> (() => Similarity.semStreamVecsTable(spark, d, raw = true)))

  /** Fold a few new rows through the production folds, so the three
    * extension tables hold rows a rebuild could not produce. */
  private def fold(d: String): Unit = {
    import spark.implicits._
    TrainingPrep.appendScored(spark, d, graft.Tables.documents(spark, d)
      .limit(4).withColumn("doc_id", col("doc_id") + FoldOff))
    val vecs = Similarity.normedOfBatch(graft.Tables.embeddings(spark, d)
      .limit(4).withColumn("vec_id", col("vec_id") + FoldOff))
    Similarity.appendAnnToIndex(spark, d, vecs, "md5")
    Similarity.appendSemToIndex(spark, d, Similarity.semAssignOver(spark, d,
      vecs.as[(Long, Array[Double], Double)], Dedup.BroadcastVerifyBytes), vecs)
  }

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def location(tbl: String): String =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(tbl))
      .location.toString.stripSuffix("/")

  private def assertLayout(t: IndexTable, d: String, when: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(t.name(spark, d)))
    if (t.partitioned) {
      assert(meta.partitionColumnNames === t.keys, s"${t.prefix} $when")
      assert(meta.bucketSpec.isEmpty, s"${t.prefix} $when")
    } else
      assert(meta.bucketSpec.map(b => (b.numBuckets, b.bucketColumnNames))
        === Some((Dedup.IndexBuckets, t.keys)), s"${t.prefix} $when")
  }

  test("every family table restores a crashed compaction's staging, in its layout") {
    val d = cDir
    val ts = accessors(d)
    ts.foreach { case (t, read) => read(); assertLayout(t, d, "after first touch") }
    fold(d)
    // the table-driven case covers every table of every family
    assert(IndexFamily.all.flatMap(_.tables(spark, d)).map(_.name(spark, d)).toSet
      === ts.map(_._1.name(spark, d)).toSet)
    ts.foreach { case (t, read) =>
      val tbl = t.name(spark, d)
      val loc = location(tbl)
      val all = spark.table(tbl).collect()
      assert(all.length >= 2, s"$tbl needs rows")
      // staging that differs from a corpus rebuild: every row but one
      val staged = all.drop(1).toSeq
      spark.createDataFrame(java.util.Arrays.asList(staged: _*),
          spark.table(tbl).schema)
        .write.parquet(loc + "_compact_staging")
      // compactBucketed/compactPartitioned died in the drop window:
      // staging complete, table (catalog + files) gone
      spark.sql(s"DROP TABLE $tbl")
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      assert(rowSet(read()) === staged.map(_.toString).toSet, s"$tbl restored")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(loc + "_compact_staging")))
      assertLayout(t, d, "after restore")
    }
    Maintenance.compactAll(spark, d)
    ts.foreach { case (t, _) => assertLayout(t, d, "after compaction") }
  }

  test("an extension table's first touch is an empty table in its layout") {
    val d = SparkSpec.tempDir("graft_itable_e")
    graft.Tables.embeddings(spark, sfDir).limit(10)
      .write.parquet(d + "/embeddings.parquet")
    val vecs = Similarity.semStreamVecsTable(spark, d, raw = true)
    assert(vecs.count() === 0L)
    assert(vecs.columns.toSeq === Seq("vec_id", "v", "nrm"))
    assertLayout(IndexFamily.sem.vecs, d, "after first touch")
    // a batch query's read adds nothing when nothing was folded
    assert(IndexFamily.ann.vecs.ifPresent(spark, d).isEmpty)
  }
}
