package graft.pipeline

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicIntegerArray}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Readers against takedowns: four threads keep reading the dedup
  * minhash view and the md5 ann code view of a private corpus copy
  * while a writer runs `Maintenance.takedown` in five rounds, with no
  * compaction in between. Every read must succeed, and every read that
  * starts after round k returned must exclude round k's ids. The writer
  * starts round k + 1 only once every reader has finished a read that
  * started after round k, so reads and takedowns interleave. */
class TakedownStressSpec extends SparkSpec {

  private val Readers = 4
  private val Rounds = 5

  test("concurrent readers never fail and see every finished takedown round") {
    val d = SparkSpec.tempDir("graft_takedown_stress")
    graft.Tables.documents(spark, sfDir).write.parquet(d + "/documents.parquet")
    graft.Tables.embeddings(spark, sfDir).write.parquet(d + "/embeddings.parquet")
    def docIds(): Set[Long] = Dedup.minhashIndexTable(spark, d)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    def vecIds(): Set[Long] = Similarity.codeTable(spark, d, "md5")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // first touch before the race: both tables exist when readers start
    val docs0 = docIds().toSeq.sorted
    val vecs0 = vecIds().toSeq.sorted
    val rounds = (0 until Rounds).map(k =>
      (docs0.slice(3 * k, 3 * k + 3), vecs0.slice(3 * k, 3 * k + 3)))
    assert(rounds.forall { case (ds, vs) => ds.size == 3 && vs.size == 3 })

    val returned = new AtomicInteger(0)
    // lastRound(r): the most rounds that had returned when a read of
    // reader r started, among its finished reads (-1: none finished)
    val lastRound = new AtomicIntegerArray(Array.fill(Readers)(-1))
    val stop = new AtomicBoolean(false)
    val errors = new ConcurrentLinkedQueue[String]()
    val pool = Executors.newFixedThreadPool(Readers)
    (0 until Readers).foreach { r =>
      pool.execute { () =>
        while (!stop.get()) {
          val k = returned.get()
          try {
            val (ds, vs) = (docIds(), vecIds())
            rounds.take(k).zipWithIndex.foreach { case ((rd, rv), i) =>
              if (rd.exists(ds) || rv.exists(vs))
                errors.add(s"reader $r saw round $i's ids after $k rounds returned")
            }
          } catch {
            case t: Throwable => errors.add(s"reader $r failed after $k rounds: $t")
          }
          lastRound.set(r, k)
        }
      }
    }
    def allRead(k: Int): Boolean =
      (0 until Readers).forall(r => lastRound.get(r) >= k)
    def awaitReads(k: Int): Unit = {
      val deadline = System.nanoTime() + 300L * 1000000000L
      while (!allRead(k) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(allRead(k), s"readers stalled after $k rounds")
    }
    try {
      awaitReads(0)
      rounds.foreach { case (rd, rv) =>
        Maintenance.takedown(spark, d, rd, rv)
        awaitReads(returned.incrementAndGet())
      }
    } finally {
      stop.set(true)
      pool.shutdown()
      assert(pool.awaitTermination(5, TimeUnit.MINUTES))
    }
    assert(errors.isEmpty, errors.asScala.take(5).mkString("\n"))
    val (ds, vs) = (docIds(), vecIds())
    assert(ds === docs0.toSet -- rounds.flatMap(_._1))
    assert(vs === vecs0.toSet -- rounds.flatMap(_._2))
  }
}
