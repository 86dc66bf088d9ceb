package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Equality-delete sidecars for the persisted index families — the
  * takedown / right-to-be-forgotten path (r16 verdict item 2), designed
  * the way the production lake formats do it (Iceberg equality-delete
  * files, Delta deletion vectors) rather than by in-place bucket
  * surgery:
  *
  *  - a DELETE ([[IndexFamily.remove]]) records the dropped ids in a
  *    tiny per-family sidecar table (append-only, idempotent,
  *    fingerprint-named like the index it shadows). Nothing corpus-scale is rewritten at delete time —
  *    at 100 TB a takedown batch is thousands of ids against billions
  *    of rows, and rewriting posting buckets keyed by BAND (where one
  *    doc's keys scatter across every bucket) would be a near-full
  *    rewrite per takedown.
  *  - every index READ subtracts the sidecar via a broadcast anti-join
  *    ([[IndexFamily.view]] owns this, so batch queries, delta probes
  *    and the streaming twins all see the post-delete view through one
  *    seam). When no deletion was ever recorded the accessor returns
  *    the bare table — zero plan change on the common path.
  *  - the nightly COMPACTION ([[IndexFamily.compact]]) materializes
  *    the deletion physically (the bucket rewrite it was already
  *    paying) and then clears the sidecar. Crash windows are safe in both directions: a crash
  *    before the clear re-filters ids whose rows are already gone (a
  *    no-op), a crash in the rewrite's drop window recovers the
  *    UNFILTERED staging snapshot with the sidecar still in place.
  *  - APPEND-path freshness probes read the PHYSICAL table (raw = true
  *    on the accessors): a tombstoned doc is "known", so replaying an
  *    ingest containing it stays a no-op instead of growing duplicate
  *    physical rows on every replay. Deletion is therefore sticky
  *    until the next compaction materializes it — after that, a
  *    re-ingest of the same id is a fresh append (documented
  *    resurrect-by-reingest semantics).
  *
  * Drop sets are driver-bounded (takedown-batch scale, the same bound
  * as a fold's fresh-id list) — [[recorded]] pins them on the driver
  * for the idempotency diff exactly like the append paths pin fresh ids.
  */
private[graft] object Tombstones {

  /** The ids recorded in sidecar `tbl` (empty before the first
    * deletion) — one driver collect, takedown-bounded. */
  def recorded(spark: SparkSession, tbl: String): Set[Long] = {
    import spark.implicits._
    if (spark.catalog.tableExists(tbl)) spark.table(tbl).as[Long].collect().toSet
    else Set.empty
  }

  /** Append `fresh` ids, already diffed against [[recorded]], to the
    * sidecar (creating it on first use). Append-only: a torn write can
    * only lose the NEW file, never corrupt prior tombstones. */
  def append(spark: SparkSession, tbl: String, fresh: Seq[Long]): Unit =
    if (fresh.nonEmpty) {
      import spark.implicits._
      addRows(spark, tbl, fresh.toDF("id"))
    }

  /** Record `ids` in the sidecar table; returns how many were newly
    * recorded (duplicates are filtered against the current table). */
  def add(spark: SparkSession, tbl: String, ids: Seq[Long]): Long = {
    val fresh = ids.distinct.filterNot(recorded(spark, tbl))
    append(spark, tbl, fresh)
    fresh.size.toLong
  }

  /** The recorded drop ids, or None if nothing was ever deleted. */
  def idsIfAny(spark: SparkSession, tbl: String): Option[DataFrame] =
    if (spark.catalog.tableExists(tbl)) Some(spark.table(tbl).distinct())
    else None

  /** `df` minus the sidecar's ids on `idCol` — the read-path filter.
    * Identity (no plan change at all) when no deletion is recorded. */
  def minus(spark: SparkSession, df: DataFrame, tbl: String,
      idCol: String): DataFrame =
    idsIfAny(spark, tbl) match {
      case Some(t) =>
        // re-select the ORIGINAL column order: a USING join moves the
        // join key to the front, and positional consumers (insertInto
        // appends by position) must see the table's own layout
        df.join(broadcast(t.withColumnRenamed("id", idCol)),
          Seq(idCol), "left_anti")
          .select(df.columns.map(col): _*)
      case None => df
    }

  /** Append rows into a ROW sidecar (the span family's (doc_id, i)
    * demotions — derived rows a deletion invalidates in ANOTHER doc's
    * index entries). Duplicates are harmless: consumers anti-join. */
  def addRows(spark: SparkSession, tbl: String, rows: DataFrame): Unit =
    if (spark.catalog.tableExists(tbl))
      rows.write.mode(SaveMode.Append).format("parquet").saveAsTable(tbl)
    else {
      val path = graft.sources.TableIO.indexPath(tbl)
      rows.write.mode(SaveMode.Overwrite).format("parquet")
        .option("path", path).saveAsTable(tbl)
    }

  /** Forget the sidecar after a compaction materialized it. Dropping
    * the catalog entry first makes the window crash-safe: a table
    * without files reads empty, files without a table are dead. */
  def clear(spark: SparkSession, tbl: String): Unit =
    if (spark.catalog.tableExists(tbl)) {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      val path = new org.apache.hadoop.fs.Path(meta.location)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true)
    }
}
