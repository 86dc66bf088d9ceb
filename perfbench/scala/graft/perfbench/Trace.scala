package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One recorded interval: `id` groups the spans of one request, query
  * or batch; `parent` is the index of the enclosing span (-1 at top). */
final case class Span(idx: Int, name: String, id: String, parent: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String, id: String)(body: => T): T =
    if (!on) body
    else {
      val idx = seq.getAndIncrement()
      val outer = stack.get
      stack.set(idx :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(idx, name, id, outer.headOption.getOrElse(-1), t0,
          System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.idx)

  /** Self time of each span in ms: its duration minus the part of its
    * interval that its children cover. */
  def selfMs(ss: Seq[Span] = all): Map[Int, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = Tracer.unionNs(kids.getOrElse(s.idx, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.idx -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.write(Map("idx" -> s.idx, "name" -> s.name,
        "id" -> s.id, "parent" -> s.parent, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

object Tracer {
  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Cumulative Spark work counters, fed by a listener the benchmark
  * registers on its own session. Read through `snap`, which first
  * drains the listener bus. */
final class SparkCounters private (spark: SparkSession) extends SparkListener {
  val jobs = new AtomicLong
  val jobNs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val jobStart =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t => jobNs.addAndGet((e.time - t) * 1000000L))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snap(): SparkCounters.Snap = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    SparkCounters.Snap(jobs.get, jobNs.get / 1e6, stages.get, tasks.get,
      cpuNs.get / 1e6, inputBytes.get, shuffleBytes.get, spillBytes.get)
  }
}

object SparkCounters {
  final case class Snap(jobs: Long, jobMs: Double, stages: Long,
      tasks: Long, cpuMs: Double, inputBytes: Long, shuffleBytes: Long,
      spillBytes: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, jobMs - o.jobMs,
      stages - o.stages, tasks - o.tasks, cpuMs - o.cpuMs,
      inputBytes - o.inputBytes, shuffleBytes - o.shuffleBytes,
      spillBytes - o.spillBytes)
  }
  val Zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0)

  def register(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters(spark)
    spark.sparkContext.addSparkListener(c)
    c
  }
}

/** JSON for the result and span files: Jackson with its Scala module,
  * both on Spark's classpath. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
