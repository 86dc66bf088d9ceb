package graft.pipeline

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Two threads of one session first-touch the same index table of a
  * fresh corpus. Each must get the single-threaded build's rows, the
  * table must hold them once, and it must keep its layout: at most one
  * file per bucket (bucketed) or per partition directory (the ann code
  * table). The single-threaded build runs on a second corpus with the
  * same content (its own dir, so its own tables). */
class ConcurrentFirstTouchSpec extends SparkSpec {

  private def corpusCopy(name: String, from: String): String = {
    val d = SparkSpec.tempDir(name)
    Seq("documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$from/$t.parquet").write.parquet(s"$d/$t.parquet")
    }
    d
  }

  private lazy val single: String = {
    val d = SparkSpec.tempDir("graft_touch_1")
    graft.Tables.documents(spark, sfDir).limit(80)
      .write.parquet(d + "/documents.parquet")
    graft.Tables.embeddings(spark, sfDir).limit(80)
      .write.parquet(d + "/embeddings.parquet")
    d
  }

  private val tables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    ("graft_minhash_idx_", (s, d) => Dedup.minhashIndexTable(s, d, raw = true)),
    ("graft_anncodes_md5_", (s, d) => Similarity.codeTable(s, d, "md5", raw = true)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tableOf(prefix: String, dir: String): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val ts = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith(prefix) && n.contains(slug))
    assert(ts.length === 1, s"expected one $prefix table for $dir")
    ts.head
  }

  /** Data files per bucket id (bucketed) or per partition dir. */
  private def filesPerGroup(tbl: String): Map[String, Int] = {
    val root = new java.io.File(graft.sources.TableIO.indexPath(tbl))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val bucket = """_(\d{5})\.c\d{3}""".r
    walk(root).groupBy { f =>
      if (f.getParentFile != root) f.getParentFile.getName
      else bucket.findFirstMatchIn(f.getName).map(_.group(1)).getOrElse("?")
    }.map { case (g, fs) => g -> fs.size }
  }

  test("two threads first-touching one table build it once, in its layout") {
    tables.foreach { case (prefix, read) =>
      val expected = rows(read(spark, single))
      assert(expected.nonEmpty)
      val dir = corpusCopy("graft_touch_2", single)
      val barrier = new CyclicBarrier(2)
      val pool = Executors.newFixedThreadPool(2)
      val got = try {
        val fs = (1 to 2).map(_ => pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = { barrier.await(); rows(read(spark, dir)) }
        }))
        fs.map(_.get(10, TimeUnit.MINUTES))
      } finally pool.shutdownNow()
      got.foreach(g => assert(g === expected, s"$prefix: a thread's rows"))
      val tbl = tableOf(prefix, dir)
      assert(rows(spark.table(tbl)) === expected, s"$prefix: stored rows")
      val files = filesPerGroup(tbl)
      assert(files.nonEmpty && files.values.forall(_ <= 1),
        s"$prefix: files per bucket or partition $files")
    }
  }
}
