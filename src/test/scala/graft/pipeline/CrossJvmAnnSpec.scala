package graft.pipeline

import graft.SparkSpec

import scala.sys.process._

/** Cross-JVM persistence proof for the ANN index artifacts (r11
  * verdict item 1's "CrossJvmIndexSpec-style catalog round-trip"):
  * one child JVM trains + writes codebook sidecars and code tables
  * into a persistent Hive/Derby catalog and exits; a brand-new
  * SparkContext in a second JVM must (a) find all five artifact tables
  * without retraining, (b) serve the trained AND residual ADC searches
  * off the stored code tables with the partition-pruned scan, and (c)
  * produce results identical to this suite's own session — proving
  * the KmIters training passes are write-time cost, paid once per
  * corpus content. */
class CrossJvmAnnSpec extends SparkSpec {

  private def addOpens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toList
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < in.length) {
      if (in(i) == "--add-opens" && i + 1 < in.length) {
        out += in(i); out += in(i + 1); i += 2
      } else {
        if (in(i).startsWith("--add-opens=")) out += in(i)
        i += 1
      }
    }
    out.toSeq
  }

  private lazy val work: String = {
    val w = SparkSpec.tempDir("graft_xjvm_ann")
    new java.io.File(s"$w/tmp").mkdirs()
    w
  }

  private def run(mode: String): (Int, Vector[String]) = {
    val javaBin = new java.io.File(
      sys.props("java.home"), "bin/java").getAbsolutePath
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx4g",
      s"-Djava.io.tmpdir=$work/tmp",
      s"-Dderby.stream.error.file=$work/derby.log",
      "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.pipeline.CrossJvmAnnMain", mode, sfDir, work)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    // the child's own index root: an inherited SPARK_GRAFT_INDEX_DIR
    // would make it write into (and clobber) this JVM's tables
    val env = "SPARK_GRAFT_INDEX_DIR" -> s"$work/tmp/graft_index"
    val code = Process(cmd, None, env).!(ProcessLogger(
      l => out.synchronized(out += l), _ => ()))
    (code, out.toVector.filter(_.startsWith("XJVM ")))
  }

  test("a brand-new JVM serves ADC search off the persisted index") {
    val (c1, o1) = run("build")
    assert(c1 == 0, s"build JVM failed:\n${o1.mkString("\n")}")
    assert(o1.contains("XJVM BUILT"))

    val (c2, o2) = run("query")
    assert(c2 == 0, s"query JVM failed:\n${o2.mkString("\n")}")
    assert(o2.contains("XJVM SCAN_T true") && o2.contains("XJVM SCAN_R true"))
    assert(o2.contains("XJVM PRUNE_T true") && o2.contains("XJVM PRUNE_R true"))

    def expected(tag: String,
        df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(r =>
        s"XJVM ROW_$tag ${r.getLong(0)} ${r.getInt(1)} ${r.getLong(2)} ${r.getDouble(3)}")
        .toSet
    val expT = expected("T", Similarity.annIvfPqTrained(spark, sfDir))
    val expR = expected("R", Similarity.annIvfPqResidual(spark, sfDir))
    assert(expT.nonEmpty && expR.nonEmpty)
    assert(o2.filter(_.startsWith("XJVM ROW_T ")).toSet === expT)
    assert(o2.filter(_.startsWith("XJVM ROW_R ")).toSet === expR)
  }

  test("a fold from one fresh JVM is served by the next") {
    // runs against the catalog the previous test built (declaration
    // order): JVM 3 folds probe-vector copies encode-only, JVM 4 must
    // retrieve every copy straight off the stored tables
    val (c3, o3) = run("fold")
    assert(c3 == 0, s"fold JVM failed:\n${o3.mkString("\n")}")
    assert(o3.contains(s"XJVM FOLDED ${Similarity.NumProbes}"), o3.toString)

    val (c4, o4) = run("served")
    assert(c4 == 0, s"served JVM failed:\n${o4.mkString("\n")}")
    assert(o4.contains("XJVM SERVED true"), o4.toString)
  }
}
