package graft.perfbench

import org.apache.spark.sql.execution.SQLExecution

/** The query suite: a fixed slice of `SparkEntry.queries`, one query
  * of each `Bench.alias` family, over the generated corpus, followed by
  * index maintenance ([[Ingest]]) on the same corpus.
  *
  * Set-up is the cold pass: every query once against an empty index
  * root, which pays the first-touch builds and training and writes each
  * result for the oracle check in `run.py`; then the first-touch builds
  * of the families the ingest batches use. The measured window is one
  * warm pass after `ArtifactCache.clear()`, which reads the persisted
  * tables afresh. Queries are timed as construct (building the DataFrame,
  * including any eager jobs), Catalyst (analysis, optimization,
  * physical planning) and execution (every row with every column
  * computed, then discarded). */
object Suite {

  val Families: Seq[String] = Seq("q", "s", "t", "d", "a", "e", "c", "m")

  def family(query: String): String = graft.Bench.alias(query).take(1)

  private final case class Timing(constructMs: Double, catalystMs: Double,
      executeMs: Double, constructJobs: Long, jobs: Long) {
    def totalMs: Double = constructMs + catalystMs + executeMs
  }

  /** Construct, plan and execute one query; job counts are only known
    * when the listener is registered (traced runs). With `dump` set,
    * execution writes the result there as parquet instead of
    * discarding it. */
  private def timeQuery(ctx: Ctx, name: String, id: String,
      dump: Option[String]): Timing = {
    val fn = graft.SparkEntry.queries(name)
    val tr = ctx.tracer
    tr.span("suite.query", id) {
      val s0 = ctx.snap()
      val t0 = System.nanoTime()
      val df = tr.span("suite.construct", id)(fn(ctx.spark, ctx.data))
      val t1 = System.nanoTime()
      val s1 = ctx.snap()
      val qe = df.queryExecution
      tr.span("suite.catalyst", id)(qe.executedPlan)
      val t2 = System.nanoTime()
      tr.span("suite.execute", id) {
        dump match {
          case Some(path) => df.write.mode("overwrite").parquet(s"$path/$name")
          case None =>
            SQLExecution.withNewExecutionId(qe, Some(s"perfbench $name"))(
              qe.toRdd.foreach(_ => ()))
        }
      }
      val t3 = System.nanoTime()
      val s2 = ctx.snap()
      Timing((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
        (s1 - s0).jobs, (s2 - s1).jobs)
    }
  }

  /** One pass over `order`; per-query timings, None where it threw. */
  private def pass(ctx: Ctx, order: Seq[String], tag: String,
      dump: Option[String] = None): Seq[(String, Option[Timing])] =
    order.map { n =>
      ctx.res.attempted += 1
      val t =
        try Some(timeQuery(ctx, n, s"$tag:$n", dump))
        catch {
          case e: Throwable =>
            ctx.res.fail(s"$n ($tag): ${e.getClass.getSimpleName}: " +
              s"${String.valueOf(e.getMessage).take(200)}")
            None
        }
      n -> t
    }

  /** Per-family construct/Catalyst/execute split of one pass, plus the
    * pass's Spark totals, as per-layer metrics under `suite.<phase>`. */
  private def record(ctx: Ctx, phase: String,
      timed: Seq[(String, Option[Timing])], work: SparkCounters.Snap): Unit = {
    val ok = timed.collect { case (n, Some(t)) => (family(n), t) }
    Families.foreach { f =>
      val ts = ok.filter(_._1 == f).map(_._2)
      val p = s"suite.$phase.$f"
      ctx.res.layers(s"$p.construct_ms") = ts.map(_.constructMs).sum
      ctx.res.layers(s"$p.construct_jobs") = ts.map(_.constructJobs).sum.toDouble
      ctx.res.layers(s"$p.catalyst_ms") = ts.map(_.catalystMs).sum
      ctx.res.layers(s"$p.execute_ms") = ts.map(_.executeMs).sum
      ctx.res.layers(s"$p.jobs") = ts.map(_.jobs).sum.toDouble
    }
    ctx.res.layers(s"suite.$phase.stages") = work.stages.toDouble
    ctx.res.layers(s"suite.$phase.tasks") = work.tasks.toDouble
    ctx.res.layers(s"suite.$phase.executor_cpu_ms") = work.cpuMs
    ctx.res.layers(s"suite.$phase.input_bytes") = work.inputBytes.toDouble
    ctx.res.layers(s"suite.$phase.shuffle_bytes") = work.shuffleBytes.toDouble
    ctx.res.layers(s"suite.$phase.spill_bytes") = work.spillBytes.toDouble
  }

  def run(ctx0: Ctx): Unit = {
    val plan = Plan.read(s"${ctx0.data}/plan.json")
    val ctx = ctx0.copy(data = plan.node("corpus").asText)
    val order = plan.strings("order")
    val spark = ctx.spark
    val indexRoot = new java.io.File(graft.sources.TableIO.indexRoot)

    // set-up: the cold pass, which also writes each result for the
    // oracle check, then the ingest families' first touch
    val w0 = ctx.snap()
    val ((cold, indexBytes), setupS) = Main.seconds {
      val timed = pass(ctx, order, "cold", Some(s"${ctx.runDir}/verify"))
      val bytes = Main.dirBytes(indexRoot)
      Ingest.prebuild(ctx)
      (timed, bytes)
    }
    ctx.res.setupS += setupS
    record(ctx, "cold", cold, ctx.snap() - w0)
    ctx.res.layers("suite.cold.index_bytes_written") = indexBytes.toDouble
    ctx.res.info("suite.oracle_sql") =
      order.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap

    // measured window: one warm pass, so every run does the same work
    val w1 = ctx.snap()
    val warm = ctx.res.window {
      graft.pipeline.ArtifactCache.clear()
      pass(ctx, order, "warm")
    }
    ctx.res.windowOps += order.size
    ctx.res.opsMs ++= warm.flatMap(_._2).map(_.totalMs)
    record(ctx, "warm", warm, ctx.snap() - w1)
    ctx.res.info("suite.queries") = order
    // tracing overhead: one more warm pass with the tracer off
    if (ctx.trace) {
      val plain = ctx.copy(tracer = new Tracer(false), counters = None)
      val traced = warm.flatMap(_._2).map(_.totalMs).sum
      graft.pipeline.ArtifactCache.clear()
      val (_, plainS) = Main.seconds(pass(plain, order, "plain"))
      ctx.res.layers("trace.overhead_pct") = 100.0 * (traced / (plainS * 1000.0) - 1.0)
    }

    Ingest.run(ctx, plan)
  }
}
