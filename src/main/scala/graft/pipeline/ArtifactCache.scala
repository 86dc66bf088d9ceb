package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The one memo of per-session derived state: persisted artifact
  * frames (shingle sets, signature views, training frames) and
  * driver-side values (corpus fingerprints, trained weights and
  * codebooks, basis snapshots, scan probes). One policy covers all of
  * it:
  *  - per session: an entry belongs to one (session, key);
  *  - weakly held: the session map has weak keys, so a session's
  *    entries die with it (a cached DataFrame references its own
  *    session, so frames are released by `drop`/`clear`);
  *  - built once: concurrent callers of a missing (session, key) wait
  *    on a single build; a build that throws is forgotten, so the next
  *    caller builds afresh;
  *  - `drop(key)` evicts the key in EVERY live session and unpersists
  *    it — a takedown or a new generation is a fact about the lake,
  *    not about the session that caused it;
  *  - versioned on request: an entry built from one `version` of its
  *    inputs (a corpus fingerprint) is dropped the same way, and built
  *    afresh, when a caller sees another;
  *  - `clear()` removes everything (the bench's between-pass reset, so
  *    pass 2 re-pays every build cost).
  * Keys share one namespace; each family prefixes its own. */
private[graft] object ArtifactCache {

  /** A lazily built entry of one `version` of its inputs. `released`
    * covers a drop that lands while the build runs: the finished frame
    * is unpersisted, not leaked. */
  private final class Slot(val version: String,
      private[this] var build: () => Any) {
    @volatile private[this] var value: Option[Any] = None
    @volatile private[this] var released = false

    def get: Any = value.getOrElse(synchronized {
      value.getOrElse {
        val v = build()
        build = null
        value = Some(v)
        if (released) release()
        v
      }
    })

    def release(): Unit = {
      released = true
      value.foreach {
        case ds: org.apache.spark.sql.Dataset[_] =>
          try ds.unpersist() catch { case _: Throwable => () }
        case _ => ()
      }
    }
  }

  private val sessions =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, Slot]]()

  private def slots(spark: SparkSession): TrieMap[String, Slot] =
    sessions.synchronized {
      Option(sessions.get(spark)).getOrElse {
        val m = TrieMap.empty[String, Slot]
        sessions.put(spark, m)
        m
      }
    }

  private def live: Seq[TrieMap[String, Slot]] =
    sessions.synchronized(sessions.values.asScala.toList)

  private def evict(m: TrieMap[String, Slot], key: String): Unit =
    m.remove(key).foreach(_.release())

  /** Unpersist and forget every entry of every session. */
  def clear(): Unit = live.foreach(m => m.keys.foreach(evict(m, _)))

  /** Unpersist and forget `key` in every live session. No-op if absent. */
  def drop(key: String): Unit = live.foreach(evict(_, key))

  /** The driver-side value for (session, key), built on first use
    * from `version` of its inputs. An entry of another version is
    * dropped in every session, and this one built in its place. */
  def memo[T](spark: SparkSession, key: String, version: String = "")(
      build: => T): T = {
    val m = slots(spark)
    val slot = m.getOrElseUpdate(key, new Slot(version, () => build))
    if (slot.version != version) {
      drop(key)
      memo(spark, key, version)(build)
    } else
      try slot.get.asInstanceOf[T]
      catch { case t: Throwable => m.remove(key, slot); throw t }
  }

  /** A trained driver value (weights, codebooks, merges) that
    * outlives the session as a small one-file catalog table: the memo
    * first; else `decode` of the table a previous session left; else
    * `build` trains it and `encode` writes its rows. `table` is named
    * by the caller (fingerprint- and generation-named) and resolved
    * only on a memo miss. Doubles and strings round-trip parquet
    * exactly, so a reloaded value IS the trained value. */
  def persisted[T](spark: SparkSession, key: String, table: => String)(
      decode: DataFrame => T)(build: => T)(encode: T => DataFrame): T =
    memo(spark, key) {
      val tbl = table
      if (spark.catalog.tableExists(tbl)) decode(spark.table(tbl))
      else {
        val v = build
        encode(v).coalesce(1).write.mode(SaveMode.Overwrite)
          .format("parquet")
          .option("path", graft.sources.TableIO.indexPath(tbl))
          .saveAsTable(tbl)
        v
      }
    }

  /** [[memo]] for frames: the stored frame is persisted. A versioned
    * frame carries its version in its plan (a filter the optimizer
    * folds away): Spark matches cached frames by plan, so a superseded
    * build that finishes late would otherwise uncache its replacement. */
  def cached(spark: SparkSession, key: String, version: String = "")
      (build: => DataFrame): DataFrame =
    memo(spark, key, version) {
      val df =
        if (version.isEmpty) build
        else build.where(lit(version) === lit(version))
      // a build that persisted (and materialized) itself is stored
      // as-is — re-persisting would only log a cache-manager warning
      if (df.storageLevel == StorageLevel.NONE)
        df.persist(StorageLevel.MEMORY_AND_DISK)
      else df
    }
}
