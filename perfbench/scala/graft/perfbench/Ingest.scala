package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.pipeline.{Dedup, Maintenance, Similarity}

/** Index maintenance beside reads, on the suite's corpus: seeded
  * micro-batches of new documents and vectors, each probed against the
  * persisted minhash and ANN (md5 codes, the kind `ann_ivfpq` reads)
  * index families and then appended to them; before each batch a
  * takedown removes seeded corpus ids. Each batch (probe + append, both
  * families) and each takedown is one operation. The traced run also
  * times one `compactAll` afterwards.
  *
  * Checks: each batch's planted exact copies (of documents and of
  * vectors) must be found by both probes, and no taken-down id may
  * appear in any later probe result: the batch's own probes, and in the
  * traced run a re-probe after the compaction. */
object Ingest {

  /** Queries whose first touch builds what the takedowns use beyond the
    * suite's slice (whose `dedup_minhash_lsh` and `ann_ivfpq` build the
    * minhash and md5 ANN families the batches use): the span index,
    * which the first takedown would otherwise build. The takedown's
    * other families (simhash, LM scores, image signatures, semantic
    * postings) stay unbuilt, so for them it only records sidecar rows. */
  val Prebuild: Seq[String] = Seq("docs_despan")

  val AnnKind = "md5"

  def prebuild(ctx: Ctx): Unit = Prebuild.foreach { q =>
    ctx.tracer.span("pipeline.prebuild", q)(
      Main.materialize(graft.SparkEntry.queries(q)(ctx.spark, ctx.data)))
  }

  private final case class Batch(docs: Seq[Row], vecs: Seq[Row],
      docSchema: org.apache.spark.sql.types.StructType,
      vecSchema: org.apache.spark.sql.types.StructType,
      plantedDocs: Seq[(Long, Long)], plantedVecs: Seq[(Long, Long)],
      takedownDocs: Seq[Long], takedownVecs: Seq[Long], bytes: Long)

  def run(ctx: Ctx, plan: Plan): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = ctx.data
    def pairs(n: com.fasterxml.jackson.databind.JsonNode, k: String) =
      n.get(k).elements().asScala.map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq
    def ids(n: com.fasterxml.jackson.databind.JsonNode, k: String) =
      n.get(k).elements().asScala.map(_.asLong).toSeq
    val batches = plan.node("batches").elements().asScala.map { b =>
      val d = spark.read.parquet(b.get("docs").asText)
      val v = spark.read.parquet(b.get("vecs").asText)
      Batch(d.collect().toSeq, v.collect().toSeq, d.schema, v.schema,
        pairs(b, "planted_docs"), pairs(b, "planted_vecs"),
        ids(b, "takedown_docs"), ids(b, "takedown_vecs"),
        b.get("bytes").asLong)
    }.toIndexedSeq
    graft.pipeline.ArtifactCache.clear()

    val idxRoot = new java.io.File(graft.sources.TableIO.indexRoot)
    val bytes0 = Main.dirBytes(idxRoot)
    val removedDocs = mutable.Set.empty[Long]
    val removedVecs = mutable.Set.empty[Long]
    val probeMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val appendMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val takedownMs = mutable.ArrayBuffer.empty[Double]
    var takedownJobs = 0L
    var batchJobs = 0L
    var appendedBytes = 0L

    def timed[T](m: mutable.Map[String, Double], fam: String, id: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try tr.span(s"pipeline.${if (m eq probeMs) "probe" else "append"}.$fam", id)(f)
      finally m(fam) += (System.nanoTime() - t0) / 1e6
    }

    /** Probe one batch against both families; returns the (minhash,
      * ann) result id pairs. */
    def probe(docs: DataFrame, vecs: DataFrame, id: String) = {
      val mh = timed(probeMs, "minhash", id)(Dedup.deltaPairs(spark, dir, docs)
        .select(col("d1"), col("d2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
      val an = timed(probeMs, "ann", id)(Similarity.annSearch(spark, dir, vecs, AnnKind)
        .select(col("probe_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
      (mh, an)
    }

    def check(b: Batch, res: (Seq[(Long, Long)], Seq[(Long, Long)]),
        what: String, planted: Boolean): Unit = {
      val (mh, an) = res
      def norm(p: (Long, Long)) = (math.min(p._1, p._2), math.max(p._1, p._2))
      if (planted) {
        val mhs = mh.map(norm).toSet
        val ans = an.toSet
        b.plantedDocs.foreach { case (n, s) =>
          if (!mhs(norm((n, s)))) ctx.res.fail(s"$what: minhash missed planted copy $n of $s")
        }
        b.plantedVecs.foreach { case (n, s) =>
          if (!ans((n, s))) ctx.res.fail(s"$what: ann missed planted copy $n of $s")
        }
      }
      val badDocs = mh.flatMap(p => Seq(p._1, p._2)).filter(removedDocs)
      val badVecs = an.map(_._2).filter(removedVecs)
      if (badDocs.nonEmpty || badVecs.nonEmpty)
        ctx.res.fail(s"$what: taken-down ids returned: docs ${badDocs.distinct.take(5)} " +
          s"vecs ${badVecs.distinct.take(5)}")
    }

    def frames(b: Batch): (DataFrame, DataFrame) =
      (spark.createDataFrame(b.docs.asJava, b.docSchema),
        spark.createDataFrame(b.vecs.asJava, b.vecSchema))

    ctx.res.window(batches.zipWithIndex.foreach { case (b, i) =>
      val id = s"batch$i"
      ctx.res.attempted += 1
      val s1 = ctx.snap()
      val k0 = System.nanoTime()
      try {
        tr.span("pipeline.takedown", id)(Maintenance.takedown(spark, dir,
          b.takedownDocs, b.takedownVecs))
        takedownMs += (System.nanoTime() - k0) / 1e6
        ctx.res.opsMs += takedownMs.last
        ctx.res.windowOps += 1
        removedDocs ++= b.takedownDocs
        removedVecs ++= b.takedownVecs
      } catch {
        case e: Throwable => ctx.res.fail(s"takedown before $id: ${e.getClass.getSimpleName}")
      }
      takedownJobs += (ctx.snap() - s1).jobs

      ctx.res.attempted += 1
      val s0 = ctx.snap()
      val b0 = System.nanoTime()
      try {
        tr.span("pipeline.batch", id) {
          val (docs, vecs) = frames(b)
          val res = probe(docs, vecs, id)
          timed(appendMs, "minhash", id)(Dedup.appendToIndex(spark, dir, docs))
          timed(appendMs, "ann", id)(Similarity.appendAnnToIndex(spark, dir,
            Similarity.normedOfBatch(vecs), AnnKind))
          ctx.res.opsMs += (System.nanoTime() - b0) / 1e6
          ctx.res.windowOps += 1
          check(b, res, id, planted = true)
        }
        appendedBytes += b.bytes
      } catch {
        case e: Throwable => ctx.res.fail(s"$id: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
      }
      batchJobs += (ctx.snap() - s0).jobs
    })
    val nb = batches.size.toDouble
    val indexFiles = Main.dirFiles(idxRoot)
    val grown = Main.dirBytes(idxRoot) - bytes0
    Seq("minhash", "ann").foreach { f =>
      ctx.res.layers(s"pipeline.probe_ms.$f") = probeMs(f) / nb
      ctx.res.layers(s"pipeline.append_ms.$f") = appendMs(f) / nb
    }

    // the traced run also compacts every family, then re-probes the last
    // batch (already appended): still no removed id may come back
    var compactS = 0.0
    if (ctx.trace) {
      ctx.res.attempted += 2
      compactS = Main.seconds(
        try tr.span("pipeline.compact", "compact")(Maintenance.compactAll(spark, dir))
        catch { case e: Throwable => ctx.res.fail(s"compactAll: ${e.getClass.getSimpleName}") }
      )._2
      try {
        val (docs, vecs) = frames(batches.last)
        check(batches.last, probe(docs, vecs, "reprobe"), "re-probe after compaction",
          planted = false)
      } catch {
        case e: Throwable => ctx.res.fail(s"re-probe: ${e.getClass.getSimpleName}")
      }
    }

    ctx.res.info("ingest.batches") = batches.size
    ctx.res.info("ingest.takedowns") = takedownMs.size
    ctx.res.info("ingest.takedown_ms") = takedownMs.toSeq
    val tds = takedownMs.sorted
    ctx.res.layers("pipeline.takedown_ms") = if (tds.isEmpty) 0.0 else tds(tds.size / 2)
    ctx.res.layers("pipeline.compact_ms") = compactS * 1000
    // Spark jobs per pipeline call (two probes, two appends per batch,
    // plus each takedown)
    ctx.res.layers("pipeline.construct_jobs_per_op") =
      (batchJobs + takedownJobs).toDouble / (4 * nb + takedownMs.size)
    ctx.res.layers("spark.jobs_per_batch") = batchJobs / nb
    ctx.res.layers("sources.index_files") = indexFiles.toDouble
    ctx.res.layers("sources.write_amp") =
      if (appendedBytes > 0) grown.toDouble / appendedBytes else 0.0
  }
}
