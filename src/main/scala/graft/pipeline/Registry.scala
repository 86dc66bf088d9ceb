package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Permanent-removal registry + model basis — the two per-corpus
  * durability layers ABOVE the per-family deletion sidecars
  * ([[Tombstones]]), completing right-to-be-forgotten through trained
  * artifacts (r17 verdict items 1–2):
  *
  *  - the REGISTRY (`graft_removed_<domain>_<dir>`) is a never-
  *    reingest list: a permanent takedown (`Maintenance.takedown` or
  *    `IndexFamily.remove` with `permanent = true`) records ids here
  *    IN ADDITION to the family sidecar. Unlike a sidecar it is never
  *    cleared by compaction, every append path subtracts it from the
  *    incoming batch, every non-raw index view subtracts it, and
  *    first-touch rebuilds subtract it — so a permanently removed id
  *    stays gone through fold → compact → re-ingest → fold AND through
  *    a drop-and-rebuild of any index table. Two id domains, because
  *    the doc corpus and the embedding corpus have independent key
  *    spaces: [[Doc]] (doc_id) and [[Vec]] (vec_id).
  *
  *  - the MODEL BASIS (`graft_modelbasis_<domain>_<dir>`) is the
  *    registry SNAPSHOT the current generation of trained artifacts
  *    (LM tables, classifier weights, PQ/IVF codebooks, BPE merges)
  *    was trained against. Trained-artifact names carry
  *    [[basisSuffix]] and their training inputs subtract exactly the
  *    basis ids, so an artifact name is a pure function of (corpus
  *    content, basis content) — the determinism rule the r17
  *    quality-clf ADVICE item established. Deletions below the
  *    refresh threshold serve through sidecar filtering with the
  *    OLD generation (FAISS remove_ids semantics: a delete never
  *    retrains); when [[Maintenance.compactAll]] sees the new-drop
  *    fraction cross [[Maintenance.ModelRefreshThreshold]], it
  *    advances the basis to the current registry and retrains the
  *    present artifacts deterministically (same fixed-round trainers,
  *    new generation name) — the influence-scrubbing pass retrieval
  *    scrubbing alone cannot provide.
  *
  * Scale shape: both tables are takedown-bounded (ids of legal-removal
  * batches — thousands against billions of rows), driver-pinnable like
  * a fold's fresh-id list; subtraction is a broadcast anti-join and an
  * absent table is a zero-plan-change identity, so the common
  * nothing-ever-permanently-removed path pays only a catalog lookup.
  */
private[graft] object Registry {

  /** Document-id domain (the `documents` corpus and its artifacts). */
  val Doc = "doc"
  /** Vector-id domain (the `embeddings` corpus and its artifacts). */
  val Vec = "vec"

  /** Each domain's corpus table, whose fingerprint names its artifacts
    * ([[IndexFamily.name]]). */
  val corpus: Map[String, String] = Map(Doc -> "documents", Vec -> "embeddings")

  /** Collision-proof corpus-dir slug. The readable part is the same
    * alphanumeric fold every index-table name uses
    * ([[IndexFamily.slug]]), but the registry is the one table where
    * two corpus dirs differing only in punctuation (`/a/b` vs `/a_b`)
    * sharing a name is a COMPLIANCE bug, not a cache miss (r18
    * verdict nit) — a doc permanently removed from one corpus must
    * never be silently barred from (or, worse, leak back into)
    * another. So the slug carries an md5 of
    * the raw path: distinct dirs → distinct registries, always.
    * Migration: registries written before r19 lack the `_h<md5>`
    * suffix; re-record their ids via a permanent takedown
    * (idempotent) or rename `graft_removed_*`/`graft_modelbasis_*`
    * tables to the suffixed name — there is no silent fallback read
    * of the old name, by design (a fallback would reintroduce the
    * ambiguity this fixes). */
  private def slug(dir: String): String =
    IndexFamily.slug(dir) + "_h" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString
  private[pipeline] def regName(dir: String, domain: String): String =
    s"graft_removed_${domain}_" + slug(dir)
  private def basisName(dir: String, domain: String): String =
    s"graft_modelbasis_${domain}_" + slug(dir)

  /** Record `ids` as permanently removed (never re-ingestable).
    * Append-only + idempotent (the [[Tombstones.add]] machinery);
    * returns how many were newly recorded. Owns its OWN lock: the
    * registry is shared across families, so two families' permanent
    * removes (each under a different family lock) must not race the
    * table's first creation. Every family view subtracts the
    * registry, so the domain's cached views are dropped in every
    * session. */
  def addPermanent(spark: SparkSession, dir: String, domain: String,
      ids: Seq[Long]): Long = {
    val n = IndexFamily.IndexLocks.withLock(s"registry-$domain", dir) {
      Tombstones.add(spark, regName(dir, domain), ids)
    }
    IndexFamily.all.filter(_.domain == domain).foreach(_.dropView(dir))
    n
  }

  /** `df` minus the registry on `idCol` — identity (zero plan change)
    * when nothing was ever permanently removed. */
  def minus(spark: SparkSession, df: DataFrame, dir: String,
      domain: String, idCol: String): DataFrame =
    Tombstones.minus(spark, df, regName(dir, domain), idCol)

  /** Driver snapshot of the registry, sorted — takedown-bounded. */
  def ids(spark: SparkSession, dir: String, domain: String): Seq[Long] = {
    import spark.implicits._
    val tbl = regName(dir, domain)
    if (!spark.catalog.tableExists(tbl)) Nil
    else spark.table(tbl).as[Long].collect().distinct.sorted.toSeq
  }

  // ------------------------------------------------- model basis --

  /** The id snapshot the current trained-artifact generation excludes
    * (sorted; empty before any model refresh ever ran). Memoized per
    * session; [[advanceBasis]] invalidates it in every session (basis
    * mutation is driver-coordinated like every lake write, so same-JVM
    * invalidation is the contract). */
  def basisIds(spark: SparkSession, dir: String,
      domain: String): Seq[Long] =
    ArtifactCache.memo(spark, s"basis:$domain:$dir") {
      import spark.implicits._
      val tbl = basisName(dir, domain)
      if (!spark.catalog.tableExists(tbl)) Nil
      else spark.table(tbl).as[Long].collect().distinct.sorted.toSeq
    }

  /** Name suffix of the current trained-artifact generation: "" for
    * the never-refreshed generation (so every existing artifact name
    * is unchanged), else a fingerprint of the basis id set. */
  def basisSuffix(spark: SparkSession, dir: String,
      domain: String): String = {
    val b = basisIds(spark, dir, domain)
    if (b.isEmpty) "" else "_g" + idsFp(b)
  }

  /** `df` minus the current basis on `idCol` — the trained-artifact
    * build-input filter. Identity before any refresh. */
  def minusBasis(spark: SparkSession, df: DataFrame, dir: String,
      domain: String, idCol: String): DataFrame = {
    val b = basisIds(spark, dir, domain)
    if (b.isEmpty) df
    else {
      import spark.implicits._
      df.join(broadcast(b.toDF(idCol)), Seq(idCol), "left_anti")
        .select(df.columns.map(col): _*)
    }
  }

  /** Advance the basis to the registry's current snapshot (the
    * refresh moment): overwrite the basis table, invalidate every
    * session's memo, basis snapshots included (names changed — stale
    * trained state must not serve the new generation), return the new
    * basis. */
  def advanceBasis(spark: SparkSession, dir: String,
      domain: String): Seq[Long] = {
    import spark.implicits._
    val snapshot = ids(spark, dir, domain)
    val tbl = basisName(dir, domain)
    val path = graft.sources.TableIO.indexPath(tbl)
    snapshot.toDF("id").coalesce(1)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path).saveAsTable(tbl)
    ArtifactCache.clear()
    snapshot
  }

  /** Order-independent-enough fingerprint of a SORTED id list (the
    * list is canonicalized by the callers: the basis suffix above and
    * the cluster table's deletion suffix). */
  private[pipeline] def idsFp(ids: Seq[Long]): String = {
    var h = ids.length.toLong
    ids.foreach(id => h = h * 1000003L + id)
    java.lang.Long.toHexString(h)
  }
}
