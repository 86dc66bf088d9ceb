package graft

import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Every `graft.Measure` mode, run on the shared session at its
  * smallest arguments, prints JSON lines with the metric and field
  * names the retired single-purpose mains printed, and numbers that
  * are finite (≥ 0, or the documented -1 marker). A mode leaves no
  * temp dir behind and no SQL conf changed on the caller's session. */
class MeasureSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val TempPrefixes = Seq("graft_curate", "graft_anningest", "graft_zorder")

  private def tempDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .toSeq.flatten.filter(n => TempPrefixes.exists(n.startsWith)).toSet

  private def checkNumbers(n: JsonNode): Unit =
    n.fields().asScala.foreach { e =>
      val v = e.getValue
      if (v.isObject) checkNumbers(v)
      else if (v.isNumber) {
        val d = v.asDouble
        assert(!d.isNaN && !d.isInfinite && (d >= 0 || d == -1),
          s"${e.getKey} = $d")
      } else assert(v.isTextual, s"${e.getKey} = $v")
    }

  /** Run one mode; every line must parse and carry `metric` and
    * exactly `fields`, in order. */
  private def measure(mode: String, args: String*)(metric: String,
      fields: String*): Seq[JsonNode] = {
    val confs = spark.conf.getAll
    val dirs = tempDirs()
    val out = Measure.run(spark, mode, sfDir, args)
    assert(spark.conf.getAll === confs, s"$mode changed the session's SQL confs")
    assert(tempDirs() === dirs, s"$mode left a temp dir behind")
    val lines = out.split("\n").toSeq.map(mapper.readTree)
    lines.foreach { l =>
      assert(l.get("metric").asText === metric)
      assert(l.fieldNames().asScala.toSeq === "metric" +: fields)
      checkNumbers(l)
    }
    lines
  }

  test("coldwarm: one line per query") {
    val ls = measure("coldwarm", "q1_pricing", "q6_forecast")(
      "coldwarm", "query", "cold", "warm")
    assert(ls.map(_.get("query").asText) === Seq("q1_pricing", "q6_forecast"))
  }

  test("build: every default family's build and warm read, compaction, file counts") {
    val l = measure("build")("index_build", "unit", "sf_dir", "docs", "vecs",
      "minhash", "span", "lmscore", "ann_trained", "minhash_warm", "span_warm",
      "lmscore_warm", "ann_trained_warm", "compact", "heap_mb",
      "heap_mb_final", "files", "files_compacted").head
    assert(l.get("files").size > 0)
    assert(l.get("files").fieldNames().asScala.toSeq ===
      l.get("files_compacted").fieldNames().asScala.toSeq)
    intercept[IllegalArgumentException](Measure.run(spark, "build", sfDir, Seq("nope")))
  }

  test("bpe: kernel, trained table and chain points") {
    measure("bpe")("bpe_apply", "unit", "sf", "kernel_24", "kernel_4096",
      "kernel_trained", "ranks_trained", "tokens_trained", "chain_24",
      "chain_96", "chain_384", "total_tokens")
  }

  test("curate: build and per-batch folds on an isolated copy") {
    val l = measure("curate")("curate_batch", "unit", "sf_dir", "corpus_rows",
      "batch_rows", "build", "batches", "total", "per_batch", "last_batch").head
    assert(l.get("batches").asInt === Measure.CurateBatches)
  }

  test("anningest: build, fold and lookup on an isolated copy") {
    val l = measure("anningest", "8")("anningest", "dir", "n", "build", "fold",
      "lookup").head
    assert(l.get("n").asInt === 8)
  }

  test("zorder: both layouts' scan rows, on a session of its own") {
    val l = measure("zorder")("zorder_bbox_scan", "sf_dir", "band_sorted",
      "z_ordered").head
    Seq("band_sorted", "z_ordered").foreach(k =>
      assert(l.get(k).fieldNames().asScala.toSeq === Seq("sec", "scan_rows", "files")))
  }

  test("batch and plans; unknown modes are refused") {
    val b = measure("batch", "12")("batch_extract", "value", "unit",
      "selections", "rows", "sf").head
    assert(b.get("selections").asInt === 12)
    val out = new java.io.File(SparkSpec.tempDir("graft_measurespec"))
    try {
      val p = measure("plans", out.getPath, "t", "q1_pricing")("plans", "query",
        "wrote", "chars").head
      val f = new java.io.File(out, "q1_pricing_t.txt")
      assert(p.get("wrote").asText === f.getName)
      assert(f.length > 0)
    } finally {
      Option(out.listFiles()).toSeq.flatten.foreach(_.delete()); out.delete()
    }
    intercept[IllegalArgumentException](Measure.run(spark, "nope", sfDir, Nil))
    intercept[IllegalArgumentException](Measure.run(spark, "anningest", sfDir, Nil))
  }

  test("numbers print with '.' decimals under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(Measure.json(Seq("x" -> 1.25, "n" -> 3L)) === """{"x":1.25,"n":3}""")
      val line = Measure.run(spark, "batch", sfDir, Seq("12"))
      assert(line.matches(""".*"value":\d+(\.\d+)?,"unit".*"""), line)
      checkNumbers(mapper.readTree(line))
    } finally Locale.setDefault(saved)
  }
}
