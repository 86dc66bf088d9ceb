package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.sources.TableIO

/** One persisted table of an index family `family`.
  *  - `prefix`: the table name up to the corpus slug;
  *  - `keys`: bucket columns, or partition columns when `partitioned`;
  *  - `base`: corpus-derived (first-touch built from the corpus); an
  *    extension table (`base = false`) holds fold-only rows;
  *  - `generation`: the name carries the trained-artifact generation
  *    ([[Registry.basisSuffix]]);
  *  - `demoted`: span's duplicated-start markers, whose view also
  *    subtracts the valid demotions ([[Dedup.validSpanDemotions]]);
  *  - `cached`: the default read is the session-memoized
  *    [[IndexFamily.cachedView]] (mm's signature table).
  * The table's layout is spelled here only: [[read]]'s first-touch
  * build, [[append]] and [[IndexFamily.compact]] all write `keys`. */
private[graft] final case class IndexTable(family: IndexFamily,
    prefix: String, keys: Seq[String], base: Boolean = true,
    generation: Boolean = false, partitioned: Boolean = false,
    demoted: Boolean = false, cached: Boolean = false) {

  def name(spark: SparkSession, dir: String): String =
    IndexFamily.name(spark, dir, prefix, family.domain, generation)

  /** The table for corpus `dir`: the physical table when `raw` (a
    * fold's freshness probe, where a tombstoned id must stay "known"),
    * else the family's read view. On first touch, under the family's
    * [[IndexFamily.withLock]], the table is materialized
    * ([[TableIO.materialize]]): a crashed compaction's staging is
    * restored, else `build` is written in this table's layout. So two
    * first touches in one JVM build once, and no table can appear
    * while [[IndexFamily.compact]] sweeps. Every build reads the corpus
    * and its own family's tables only, so it takes no second family's
    * lock. `build` carries the family's safety filter (registry or
    * sidecar) itself. */
  def read(spark: SparkSession, dir: String, raw: Boolean = false)(
      build: => DataFrame): DataFrame = {
    val tbl = name(spark, dir)
    if (!spark.catalog.tableExists(tbl))
      family.withLock(dir) {
        TableIO.materialize(spark, tbl, keys, buckets, partitioned)(build)
      }
    if (raw) spark.table(tbl)
    else if (cached) family.cachedView(spark, dir, tbl)
    else family.view(spark, dir, spark.table(tbl), demoted)
  }

  /** The view of the table if it exists — no first touch (an extension
    * table nothing has folded into adds nothing to a query's plan). */
  def ifPresent(spark: SparkSession, dir: String): Option[DataFrame] = {
    val tbl = name(spark, dir)
    if (spark.catalog.tableExists(tbl))
      Some(family.view(spark, dir, spark.table(tbl), demoted))
    else None
  }

  /** Append `rows` to the existing table in its own layout: a
    * bucketed append ([[TableIO.appendBucketed]], at most one new file
    * per bucket), or for a partitioned table one shuffle into the
    * partition routing (at most one new file per touched partition)
    * and a positional insert in the table's column order. Either way
    * the table is refreshed through `spark`, the caller's session: a
    * foreachBatch clone's write invalidates only the clone's cache.
    * Callers hold the family lock. */
  def append(spark: SparkSession, dir: String, rows: DataFrame): Unit = {
    val tbl = name(spark, dir)
    if (partitioned) {
      rows.repartition(keys.map(col): _*)
        .select(spark.table(tbl).columns.map(col): _*)
        .write.mode(SaveMode.Append).insertInto(tbl)
      spark.catalog.refreshTable(tbl)
    } else TableIO.appendBucketed(spark, rows, tbl, keys, buckets)
  }

  /** Buckets, or for a partitioned table its write tasks (one per
    * inverted list). */
  private[pipeline] def buckets: Int =
    if (partitioned) Similarity.IvfCentroids else Dedup.IndexBuckets
}

/** The lifecycle of one persisted index family, defined once: its
  * maintenance lock, its read view, its takedown and its compaction.
  * A family has a lock key (also its key in [[Maintenance.takedown]]'s
  * and [[Maintenance.compactAll]]'s maps), an id domain and id column,
  * one deletion sidecar ([[Tombstones]]) and its tables.
  *
  * Each of its tables ([[IndexTable]]) is built on first touch under
  * [[withLock]] and read through [[view]] by [[IndexTable.read]]; the
  * folds append to the PHYSICAL tables under [[withLock]] through
  * [[IndexTable.append]]. What a build computes (its rows and its
  * registry or sidecar filter) stays in the family's own file.
  * [[remove]] records a takedown in the sidecar, and [[compact]]
  * rewrites every present table through [[view]] and then forgets the
  * sidecar. */
private[graft] abstract class IndexFamily(val key: String,
    val domain: String, sidecarPrefix: String) {

  val idCol: String = if (domain == Registry.Doc) "doc_id" else "vec_id"

  /** Run `f` under this family's maintenance lock for corpus `dir`. */
  def withLock[T](dir: String)(f: => T): T =
    IndexFamily.IndexLocks.withLock(key, dir)(f)

  /** The deletion sidecar's table name. Not generation-named: pending
    * deletes keep filtering across a model refresh. */
  def sidecar(spark: SparkSession, dir: String): String =
    IndexFamily.name(spark, dir, sidecarPrefix, domain)

  /** Every sidecar [[compact]] clears. */
  protected def sidecars(spark: SparkSession, dir: String): Seq[String] =
    Seq(sidecar(spark, dir))

  /** The family's fixed tables, base tables first. */
  protected def ownTables: Seq[IndexTable]

  /** The family's tables, base tables first, in compaction order. */
  def tables(spark: SparkSession, dir: String): Seq[IndexTable] =
    ownTables

  protected def table(prefix: String, keys: Seq[String],
      base: Boolean = true, generation: Boolean = false,
      demoted: Boolean = false, cached: Boolean = false): IndexTable =
    IndexTable(this, prefix, keys, base, generation, demoted = demoted,
      cached = cached)

  /** The ids of `batch` not yet in `stored` (both carry [[idCol]]) —
    * every fold's "already indexed" probe: a broadcast SEMI probe of
    * the stored table (one map-side pass over the corpus-scale side, no
    * shuffle), then the anti-join against that batch-bounded set. A
    * bare left_anti would put the stored table on the join's build
    * side and reshuffle the whole index on every fold. */
  def freshIds(batch: DataFrame, stored: DataFrame): DataFrame = {
    val batchIds = batch.select(col(idCol)).distinct()
    val known = stored.select(col(idCol)).join(broadcast(batchIds), idCol)
      .distinct()
    batchIds.join(broadcast(known), Seq(idCol), "left_anti")
  }

  /** [[freshIds]] pinned on the driver (bounded: batch scale). A fold
    * pins each target table's list before any append lands, so a lazy
    * probe can never re-evaluate against a table the same fold already
    * grew. */
  def freshIdSeq(batch: DataFrame, stored: DataFrame): Seq[Long] =
    freshIds(batch, stored).collect().map(_.getLong(0)).toSeq

  /** `df` minus the sidecar's ids only — a first-touch build's filter. */
  def unrecorded(spark: SparkSession, dir: String, df: DataFrame): DataFrame =
    Tombstones.minus(spark, df, sidecar(spark, dir), idCol)

  /** The default read view of a family table and every compaction's
    * transform: `df` minus the sidecar, minus (span's start markers
    * only) the valid demotions, minus the permanent registry. */
  def view(spark: SparkSession, dir: String, df: DataFrame,
      demoted: Boolean = false): DataFrame = {
    val live = unrecorded(spark, dir, df)
    Registry.minus(spark,
      if (demoted) Dedup.minusDemotions(live, Dedup.validSpanDemotions(spark, dir))
      else live,
      dir, domain, idCol)
  }

  /** [[view]] of the family's table `tbl`, memoized per session (one
    * cached view per family and corpus). The lookup runs under the lock
    * (plan construction only), and [[remove]], [[compact]] and every
    * registry change drop it in every session ([[dropView]]), so a
    * deletion is visible everywhere at once. */
  def cachedView(spark: SparkSession, dir: String, tbl: String): DataFrame =
    withLock(dir) {
      ArtifactCache.cached(spark, s"view:$key:$dir")(
        view(spark, dir, spark.table(tbl)))
    }

  private[pipeline] def dropView(dir: String): Unit =
    ArtifactCache.drop(s"view:$key:$dir")

  /** Derived state a takedown invalidates in OTHER ids' rows, written
    * before the sidecar records `fresh` (span's demotions). `dropped`
    * is every recorded id, `fresh` included. */
  protected def beforeRecord(spark: SparkSession, dir: String,
      dropped: Seq[Long], fresh: Seq[Long]): Unit = ()

  /** Takedown: record `ids` in the sidecar (and, when `permanent`, in
    * the never-reingest registry). Every [[view]] subtracts them at
    * once; the next [[compact]] removes the rows physically. Nothing
    * corpus-scale is rewritten. Idempotent; returns how many ids were
    * newly recorded. */
  def remove(spark: SparkSession, dir: String, ids: Seq[Long],
      permanent: Boolean = false): Long = withLock(dir) {
    if (permanent) Registry.addPermanent(spark, dir, domain, ids)
    val tomb = sidecar(spark, dir)
    val recorded = Tombstones.recorded(spark, tomb)
    val fresh = ids.distinct.filterNot(recorded)
    if (fresh.nonEmpty) {
      // a crash between the two writes replays the whole step
      beforeRecord(spark, dir, (recorded ++ fresh).toSeq, fresh)
      Tombstones.append(spark, tomb, fresh)
    }
    dropView(dir)
    fresh.size.toLong
  }

  /** Nightly compaction: under ONE hold of the lock, rewrite every
    * present table back to one file per bucket (or per partition) with
    * [[view]] as the transform, then clear the sidecars — only when
    * every base table was present (a sidecar recorded before the index
    * was built must survive until a build and a compaction materialize
    * it). No table can appear during the sweep: every first touch
    * builds under the same lock ([[IndexTable.read]]). A corpus dir
    * without this family's corpus files has nothing to compact (one
    * listing, no lock). Returns the number of tables rewritten. */
  def compact(spark: SparkSession, dir: String): Int =
    if (TableIO.dataFiles(spark, s"$dir/${Registry.corpus(domain)}.parquet")
        .isEmpty) 0
    else withLock(dir) {
      val ts = tables(spark, dir)
      val present = ts.filter(t =>
        spark.catalog.tableExists(t.name(spark, dir)))
      present.foreach { t =>
        val tbl = t.name(spark, dir)
        val f = (df: DataFrame) => view(spark, dir, df, t.demoted)
        if (t.partitioned)
          TableIO.compactPartitioned(spark, tbl, t.keys, t.buckets, f)
        else
          TableIO.compactBucketed(spark, tbl, t.keys, t.buckets,
            transform = f)
      }
      val bases = ts.filter(_.base)
      if (bases.nonEmpty && bases.forall(present.contains))
        sidecars(spark, dir).foreach(Tombstones.clear(spark, _))
      dropView(dir)
      present.size
    }
}

private[graft] object IndexFamily {

  /** Per-(family, corpus) maintenance mutex: a compaction stages a
    * table out, DROPS it, and rewrites — an append landing inside that
    * window is silently lost with the overwrite, and a fold's probe
    * read inside the drop window throws. Every fold (stream
    * processBatch / batch append), takedown and compaction takes its
    * family's lock for the corpus dir it touches, so fold-vs-compact
    * and compact-vs-restart-compact serialize per family while
    * DIFFERENT families (and different corpora) stay fully concurrent.
    * Intrinsic monitors are reentrant, so a locked fold calling its
    * (locked) append helper is fine. Driver-side JVM state: all lake
    * mutations are driver-coordinated (a lake table has ONE owner
    * process); cross-process writers are out of contract.
    * Reader-vs-compact (a concurrent QUERY scanning a table mid-
    * rewrite) remains the documented nightly-window caveat. The
    * registry takes its own `registry-<domain>` key. */
  private[pipeline] object IndexLocks {
    private val locks =
      new java.util.concurrent.ConcurrentHashMap[String, Object]()
    def withLock[T](key: String, dir: String)(f: => T): T =
      locks.computeIfAbsent(s"$key:$dir", _ => new Object).synchronized(f)
  }

  /** The alphanumeric fold of a corpus dir every table name carries. */
  private[graft] def slug(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  /** The one table-naming rule: `prefix`, the corpus slug, the
    * fingerprint of the domain's corpus files ([[graft.Tables.fingerprint]],
    * memoized per session; a rewritten corpus misses the catalog and
    * rebuilds instead of reading stale rows), and for a trained
    * artifact the generation suffix. */
  def name(spark: SparkSession, dir: String, prefix: String,
      domain: String, generation: Boolean = false): String = {
    val table = Registry.corpus(domain)
    val fp = ArtifactCache.memo(spark, s"corpusfp:$table:$dir")(
      graft.Tables.fingerprint(spark, dir, table))
    prefix + slug(dir) + "_" + fp +
      (if (generation) Registry.basisSuffix(spark, dir, domain) else "")
  }

  /** MinHash postings and shingle arrays. */
  object dedup extends IndexFamily("dedup", Registry.Doc, "graft_tomb_dedup_") {
    val minhash = table("graft_minhash_idx_", Seq("k"))
    val shingles = table("graft_shingles_", Seq("doc_id"))
    protected def ownTables = Seq(minhash, shingles)
  }

  /** Simhash triple-key postings. */
  object simhash extends IndexFamily("simhash", Registry.Doc,
      "graft_tomb_simhash_") {
    val postings = table("graft_simhash_idx_", Seq("k"))
    protected def ownTables = Seq(postings)
  }

  /** Duplicated span starts and span-hash postings. The one family with
    * cross-doc derived state: a takedown can turn another doc's marked
    * span back into a singleton, so [[remove]] first records those
    * demotions ([[Dedup.demoteSpans]]) in a second sidecar. */
  object span extends IndexFamily("span", Registry.Doc, "graft_tomb_span_") {
    val starts = table("graft_spanidx_", Seq("doc_id"), demoted = true)
    val postings = table("graft_spanpost_", Seq("h", "h2"))
    protected def ownTables = Seq(starts, postings)
    /** The (h, h2, doc_id, i) demotion sidecar. */
    def demotions(spark: SparkSession, dir: String): String =
      name(spark, dir, "graft_tombsp_span_", Registry.Doc)
    override protected def sidecars(spark: SparkSession,
        dir: String): Seq[String] =
      super.sidecars(spark, dir) :+ demotions(spark, dir)
    override protected def beforeRecord(spark: SparkSession, dir: String,
        dropped: Seq[Long], fresh: Seq[Long]): Unit =
      Dedup.demoteSpans(spark, dir, dropped, fresh)
  }

  /** LM scores, plus the raw rows of streamed docs. A takedown removes
    * the doc's row (content removal); the LM the scores were computed
    * under is re-fit only by a model refresh. The raw rows are not
    * generation-named: a model refresh re-folds exactly them. */
  object lmscore extends IndexFamily("lmscore", Registry.Doc,
      "graft_tomb_lmscore_") {
    val scores = table("graft_lmscore_", Seq("doc_id"), generation = true)
    val docs = table("graft_lmdocs_", Seq("doc_id"), base = false)
    protected def ownTables = Seq(scores, docs)
  }

  /** Image dHash signatures. */
  object mm extends IndexFamily("mm", Registry.Doc, "graft_tomb_mm_") {
    val sigs = table("graft_dhashsigs_", Seq("doc_id"), cached = true)
    protected def ownTables = Seq(sigs)
  }

  /** IVF-PQ code tables (one per code kind, generation-named like the
    * books they encode under), plus the raw refine vectors of folded
    * batches. */
  object ann extends IndexFamily("ann", Registry.Vec, "graft_tomb_ann_") {
    def codes(kind: String): IndexTable =
      IndexTable(this, s"graft_anncodes_${kind}_", Seq("cent_id"),
        generation = true, partitioned = true)
    val vecs = table("graft_annvecs_", Seq("vec_id"), base = false)
    protected def ownTables = Seq(vecs)
    override def tables(spark: SparkSession, dir: String): Seq[IndexTable] =
      Similarity.annCodeKindsPresent(spark, dir).map(codes) ++
        super.tables(spark, dir)
  }

  /** Semantic-dedup cluster postings, plus streamed vectors. */
  object sem extends IndexFamily("sem", Registry.Vec, "graft_tomb_sem_") {
    val postings = table("graft_sempost_", Seq("cent_id"), generation = true)
    val vecs = table("graft_semvecs_", Seq("vec_id"), base = false)
    protected def ownTables = Seq(postings, vecs)
  }

  /** Every family, in takedown order. */
  val all: Seq[IndexFamily] = Seq(dedup, simhash, span, lmscore, mm, ann, sem)
}
