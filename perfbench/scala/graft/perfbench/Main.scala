package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run measured. `run.py` turns it into the metric line:
  * setup and op samples become medians and percentiles there. */
final class Result {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val opsMs = mutable.ArrayBuffer.empty[Double]
  /** Wall time, process CPU time and operations of the measured windows. */
  var windowS = 0.0
  var windowCpuMs = 0.0
  var windowOps = 0L
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]

  /** Run `body` as (part of) the measured window. */
  def window[T](body: => T): T = {
    val t0 = System.nanoTime()
    val c0 = Main.processCpuNs()
    try body
    finally {
      windowS += (System.nanoTime() - t0) / 1e9
      windowCpuMs += (Main.processCpuNs() - c0) / 1e6
    }
  }

  def fail(what: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += what
  }
}

/** Everything a workload needs: the session, its inputs and switches. */
final case class Ctx(spark: SparkSession, data: String,
    runDir: String, seconds: Double, cpus: Int,
    tracer: Tracer, counters: Option[SparkCounters], res: Result) {
  def trace: Boolean = tracer.on
  def snap(): SparkCounters.Snap =
    counters.map(_.snap()).getOrElse(SparkCounters.Zero)
}

/** Benchmark JVM entry point. Arguments (all required):
  * --workload serve_mixed|suite_ingest --data <input dir>
  * --run-dir <run dir> --seconds <s> --trace 0|1
  * --cpus <n> --out <result json>. */
object Main {

  /** CPU time of every thread of this JVM so far. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble * 1024 / 1e6).getOrElse(0.0)

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `df` to completion, computing every output column of every
    * row, and discard the rows. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** `f` over `xs` on `threads` threads, results in input order. */
  def parMap[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  def dirBytes(f: java.io.File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def dirFiles(f: java.io.File): Long =
    if (!f.exists) 0L
    else if (f.isFile) { if (f.getName.endsWith(".parquet")) 1L else 0L }
    else Option(f.listFiles).map(_.map(dirFiles).sum).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val runDir = o("run-dir")
    val cpus = o("cpus").toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // the bench's own session (local[SPARK_GRAFT_CPUS]); run.py passes
    // the run's local dir, warehouse and scheduler mode as system
    // properties
    val spark = graft.Bench.session()
    val sessionUp = System.currentTimeMillis()
    val trace = o("trace") == "1"
    val res = new Result
    val ctx = Ctx(spark, o("data"), runDir, o("seconds").toDouble,
      cpus, new Tracer(trace),
      if (trace) Some(SparkCounters.register(spark)) else None, res)
    res.info("spark.master") = spark.sparkContext.master
    res.info("spark.sql.shuffle.partitions") =
      spark.conf.get("spark.sql.shuffle.partitions")
    res.info("spark.scheduler.mode") =
      spark.sparkContext.getConf.get("spark.scheduler.mode", "FIFO")
    try {
      workload match {
        case "serve_mixed" => Serve.run(ctx)
        case "suite_ingest" => Suite.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      res.info("peak_rss_mb") = peakRssMb()
      res.info("wall.session_s") = (sessionUp - jvmStart) / 1000.0
      res.info("wall.workload_s") = (System.currentTimeMillis() - sessionUp) / 1000.0
      if (trace) ctx.tracer.write(s"$runDir/spans.jsonl")
      val w = new java.io.PrintWriter(o("out"), "UTF-8")
      try w.print(Json.write(Map(
        "setup_s" -> res.setupS, "ops_ms" -> res.opsMs,
        "window_s" -> res.windowS, "window_cpu_ms" -> res.windowCpuMs,
        "window_ops" -> res.windowOps, "attempted" -> res.attempted,
        "failed" -> res.failed, "failures" -> res.failures,
        "layers" -> res.layers.toMap, "info" -> res.info.toMap)))
      finally w.close()
    } finally spark.stop()
  }
}
