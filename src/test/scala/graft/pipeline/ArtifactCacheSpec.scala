package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The session memo's single policy: per session, built once,
  * `drop(key)` applies to every session, `clear()` removes
  * everything. Keys are "spec:"-prefixed so no engine family shares
  * them. */
class ArtifactCacheSpec extends SparkSpec {

  private def frame(s: SparkSession, n: Long): DataFrame =
    ArtifactCache.cached(s, "spec:frame")(s.range(n).toDF())

  test("clear() empties frame and value entries in every session") {
    val sessions = Seq(spark, spark.newSession())
    val builds = new AtomicInteger(0)
    def value(s: SparkSession): Int =
      ArtifactCache.memo(s, "spec:value")(builds.incrementAndGet())
    // distinct plans per session, so each frame owns its cache entry
    val frames = sessions.zipWithIndex.map { case (s, i) => frame(s, 10 + i) }
    sessions.foreach(value)
    sessions.foreach(value)
    assert(builds.get === 2)
    assert(frames.forall(_.storageLevel != StorageLevel.NONE))

    ArtifactCache.clear()
    assert(frames.forall(_.storageLevel === StorageLevel.NONE))
    sessions.foreach(value)
    assert(builds.get === 4)
    val rebuilt = sessions.zipWithIndex.map { case (s, i) => frame(s, 10 + i) }
    assert(rebuilt.zip(frames).forall { case (n, o) => !(n eq o) })
    ArtifactCache.drop("spec:frame")
    ArtifactCache.drop("spec:value")
  }

  test("drop in one session evicts the key in every session") {
    val b = spark.newSession()
    val builds = new AtomicInteger(0)
    def value(s: SparkSession): Int =
      ArtifactCache.memo(s, "spec:drop")(builds.incrementAndGet())
    value(spark)
    value(b)
    val bFrame = frame(b, 20)
    assert(builds.get === 2)

    // session A's code path drops; B's entries go too
    ArtifactCache.drop("spec:drop")
    ArtifactCache.drop("spec:frame")
    value(b)
    assert(builds.get === 3)
    assert(bFrame.storageLevel === StorageLevel.NONE)
    value(spark)
    assert(builds.get === 4)
    ArtifactCache.drop("spec:drop")
  }

  test("concurrent callers of one missing key run its build exactly once") {
    val builds = new AtomicInteger(0)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          go.await()
          ArtifactCache.memo(spark, "spec:once") {
            builds.incrementAndGet()
            Thread.sleep(200)
            42
          }
        }
      }))
      go.countDown()
      assert(results.map(_.get(60, TimeUnit.SECONDS)) === Seq.fill(8)(42))
      assert(builds.get === 1)
    } finally {
      pool.shutdownNow()
      ArtifactCache.drop("spec:once")
    }
  }

  test("a build that throws is forgotten: the next caller builds afresh") {
    intercept[IllegalStateException] {
      ArtifactCache.memo[Int](spark, "spec:fail")(
        throw new IllegalStateException("build failed"))
    }
    assert(ArtifactCache.memo(spark, "spec:fail")(7) === 7)
    ArtifactCache.drop("spec:fail")
  }
}
