package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{SparkSpec, Tables}

/** The one corpus identity, [[Tables.fingerprint]]: a table name comes
  * from the corpus file listing on the driver, so naming a corpus's
  * persisted tables runs no Spark job, and the name follows the files
  * (a rewrite or an append is a new name, a hidden file is not). */
class CorpusFingerprintSpec extends SparkSpec {

  /** The call sites of the Spark jobs started while `f` runs. Job
    * starts arrive on the listener bus in order, so a marker job
    * flushes it: every job that started before the marker is recorded
    * once the marker is seen. */
  private def jobsDuring(f: => Unit): Seq[String] = {
    val Marker = "fingerprint-spec-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markers = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Marker))
          markers.incrementAndGet()
        else jobs.add(e.stageInfos.map(_.name).mkString(" / "))
    }
    val sc = spark.sparkContext
    def flush(): Unit = {
      val seen = markers.get()
      sc.setJobGroup(Marker, Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (markers.get() == seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markers.get() > seen, "listener bus did not deliver the marker")
    }
    sc.addSparkListener(listener)
    try {
      flush()
      jobs.clear()
      f
      flush()
      jobs.toArray(Array.empty[String]).toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("naming every index table of a corpus runs no Spark job") {
    val tables = (IndexFamily.all.flatMap(_.tables(spark, sfDir)) ++
      Seq("md5", "trained", "residual", "opq").map(IndexFamily.ann.codes))
      .distinct
    ArtifactCache.clear()
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val jobs = jobsDuring {
      names ++= tables.map(_.name(spark, sfDir))
      names ++= IndexFamily.all.map(_.sidecar(spark, sfDir))
    }
    assert(jobs.isEmpty, s"naming ran ${jobs.size} Spark jobs: $jobs")
    assert(names.distinct.size === names.size, names)
    val fps = Seq("documents", "embeddings")
      .map(t => "_" + Tables.fingerprint(spark, sfDir, t))
    assert(names.forall(n => fps.exists(n.contains)), names)
  }

  test("the fingerprint follows the data files, not their siblings") {
    val d = SparkSpec.tempDir("graft_corpusfp")
    val docs = Tables.documents(spark, sfDir)
    def fp = Tables.fingerprint(spark, d, "documents")
    val empty = fp
    docs.limit(10).write.parquet(s"$d/documents.parquet")
    val first = fp
    assert(first !== empty)
    assert(fp === first, "an unchanged listing must keep its fingerprint")
    // a commit marker or a checksum is not data
    new java.io.File(s"$d/documents.parquet/_marker").createNewFile()
    new java.io.File(s"$d/documents.parquet/.part.crc").createNewFile()
    assert(fp === first)
    docs.limit(3).write.mode("append").parquet(s"$d/documents.parquet")
    val appended = fp
    assert(appended !== first)
    docs.limit(10).write.mode("overwrite").parquet(s"$d/documents.parquet")
    assert(Set(empty, first, appended, fp).size === 4,
      "a rewrite with the same rows must still be a new fingerprint")
    // the other table of the same dir is named by its own files
    assert(Tables.fingerprint(spark, d, "embeddings") === empty)
  }

  test("a corpus dir without data files has nothing to compact") {
    val d = SparkSpec.tempDir("graft_corpusfp_none")
    assert(IndexFamily.all.map(_.compact(spark, d)).sum === 0)
    assert(Maintenance.compactAll(spark, d).isEmpty)
  }
}
