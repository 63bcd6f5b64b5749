package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One workload: `setup` runs inside the timed set-up (after the
  * session is built), `run` does the measured work. */
trait Workload {
  def setup(): Unit
  def run(): Unit
  /** Workload-specific per-layer metrics, read after the bus is drained. */
  def traceLayers(): Unit = ()
  /** Traced-only work that needs its own session; runs last. */
  def traceExtra(): Unit = ()
}

/** Benchmark entry point; see perfbench/README.md.
  *
  * Writes `record.json` into `--out`: end-to-end metrics, per-layer
  * metrics (traced runs), spans with self times, the run stamp and the
  * outputs the correctness checks read.
  */
object Main {

  val Workloads: Map[String, Ctx => Workload] = Map(
    "orders" -> (new Orders(_)),
    "corpus_ann" -> (new CorpusAnn(_)))

  /** Set-up repetitions; the reported set-up time is their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val c = new Ctx(Args.parse(argv))
    val a = c.args
    Files.createDirectories(a.out)
    val make = Workloads(a.workload)

    val setupMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val buildMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var w: Workload = null
    for (rep <- 0 until SetupReps) {
      if (rep > 0) stop(c)
      val t0 = if (rep == 0) c.mainStart else c.tracer.now()
      c.span("setup", newOp = true) {
        val b0 = c.tracer.now()
        c.span("session.build")(c.attach(session(s"local[${a.cores}]", a.cores)))
        buildMs += c.tracer.now() - b0
        w = make(c)
        w.setup()
      }
      setupMs += c.tracer.now() - t0
    }
    c.metric("setup_s", Stats.median(setupMs.toSeq) / 1000.0, "s")
    c.info("setup_reps_s") = setupMs.map(_ / 1000.0)

    try w.run()
    catch {
      case e: Throwable =>
        c.failed += 1
        c.errors += s"${a.workload}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        e.printStackTrace()
    }
    c.heap.checkpoint()
    c.metric("peak_live_heap_mb", c.heap.maxLiveMb, "MB")
    c.info("heap_after_major_gc_max_mb") = c.heap.maxAfterMajorMb
    c.info("heap_after_any_gc_max_mb") = c.heap.maxAfterAnyMb
    c.info("spark_conf") = c.spark.conf.getAll
    c.info("versions") = Map("jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> c.spark.version)
    c.info("master") = c.spark.sparkContext.master
    c.info("phases_ms") = c.tracer.spans.filter(_.parent == 0).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(_.ms).sum }

    // the main session's probe: a traced extra may replace the session
    val probe = c.probe
    if (a.trace) {
      probe.quiesce(c.spark.sparkContext)
      c.layerMetric("session.build_ms", Stats.median(buildMs.toSeq), "ms")
      sparkLayers(c)
      w.traceLayers()
      try w.traceExtra()
      catch {
        case e: Throwable =>
          c.failed += 1
          c.errors += s"trace extra: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }
    }
    // the DuckDB twins the correctness checks run
    Harness.writeJson(a.out.resolve("oracles.json"), graft.queries.EventQueries.oracles +
      ("curate_pipeline_pack" -> graft.ext.Curation.oracles("curate_pipeline_pack")))
    c.errors.foreach(e => System.err.println(s"[perfbench] error: $e"))
    writeRecord(c, probe)
    stop(c)
  }

  def session(master: String, cores: Int): SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder().appName("perfbench").master(master), cores.toString)
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/warehouse")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(c: Ctx): Unit = if (c.spark != null) {
    c.spark.streams.active.foreach(_.stop())
    c.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    c.spark = null
  }

  /** Replaces the session (traced extras that need another master). */
  def restart(c: Ctx, master: String, cores: Int): Unit = {
    stop(c)
    c.attach(session(master, cores))
  }

  /** Top-level spans that hold no measured work. */
  val Unmeasured = Set("setup", "warmup", "check")

  /** Measured spans: top-level spans other than set-up, warm-up and checks. */
  def measuredRoots(c: Ctx): Seq[Span] =
    c.tracer.spans.filter(s => s.parent == 0 && !Unmeasured(s.name))

  /** Span wall time not covered by any of `jobs`, summed over `spans`. */
  def driverGap(spans: Seq[Span], jobs: Seq[JobRec]): Double = {
    val end = jobs.map(_.end).maxOption.getOrElse(0L)
    val iv = Probe.intervals(jobs, end)
    spans.map { s =>
      s.ms - Intervals.union(Intervals.clip(iv, s.start.toLong, s.end.toLong))
    }.sum
  }

  /** Spark runtime totals over the jobs of the measured spans and of
    * the streaming queries. */
  def sparkLayers(c: Ctx): Unit = {
    val spans = c.tracer.spans
    val roots = measuredRoots(c)
    val ids = roots.flatMap(Tracer.subtree(_, spans)).map(_.id).toSet
    // streaming jobs carry no span of their own: count those submitted
    // while a measured span was open
    def inRoot(j: JobRec) = roots.exists(s => j.submit >= s.start && j.submit < s.end)
    val jobs = c.probe.allJobs.filter(j => ids(j.span) || (j.queryId != null && inRoot(j)))
    val k = c.probe.counters(jobs)
    val wall = roots.map(_.ms).sum
    c.layerMetric("spark.jobs", k.jobs.toDouble, "count")
    c.layerMetric("spark.stages", k.stages.toDouble, "count")
    c.layerMetric("spark.tasks", k.tasks.toDouble, "count")
    c.layerMetric("spark.tasks_failed", k.tasksFailed.toDouble, "count")
    c.layerMetric("spark.exec_run_ms", k.runMs.toDouble, "ms")
    c.layerMetric("spark.exec_cpu_ms", k.cpuMs.toDouble, "ms")
    c.layerMetric("spark.gc_ms", k.gcMs.toDouble, "ms")
    c.layerMetric("spark.shuffle_read_bytes", k.shuffleRead.toDouble, "bytes")
    c.layerMetric("spark.shuffle_write_bytes", k.shuffleWrite.toDouble, "bytes")
    c.layerMetric("spark.spill_bytes", k.spill.toDouble, "bytes")
    c.layerMetric("spark.driver_gap_ms", driverGap(roots, jobs), "ms")
    c.layerMetric("spark.busy_frac", k.runMs / math.max(1.0, wall * c.args.cores), "fraction")
    c.layerMetric("spark.task_skew", k.taskSkew, "ratio")
    val plans = c.plans.all.filter(p => roots.exists(s => p.at >= s.start - 1 && p.at <= s.end))
    c.layerMetric("plans.analysis_ms", plans.map(_.analysisMs).sum, "ms")
    c.layerMetric("plans.optimization_ms", plans.map(_.optimizationMs).sum, "ms")
    c.layerMetric("plans.planning_ms", plans.map(_.planningMs).sum, "ms")
    c.info("jobs_failed") = k.jobsFailed
  }

  def writeRecord(c: Ctx, probe: Probe): Unit = {
    val spans = c.tracer.spans
    val jobs = if (c.args.trace) probe.allJobs else Nil
    def metrics(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val rec = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> c.args.workload,
      "seed" -> c.args.seed,
      "seconds" -> c.args.seconds,
      "trace" -> c.args.trace,
      "cores" -> c.args.cores,
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "errors" -> c.errors,
      "e2e" -> metrics(c.e2e),
      "layer" -> metrics(c.layer),
      "info" -> c.info,
      "spans" -> (if (c.args.trace) {
        // counters of the jobs submitted while each span was the innermost one
        val bySpan = jobs.groupBy(_.span)
        spans.map { s =>
          val k = probe.counters(bySpan.getOrElse(s.id, Nil))
          Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
            "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> Tracer.selfTime(s, spans),
            "jobs" -> k.jobs, "exec_run_ms" -> k.runMs, "shuffle_write_bytes" -> k.shuffleWrite)
        }
      } else Nil),
      "jobs" -> jobs.map(j => Map("id" -> j.id,
        "span" -> j.span, "query" -> j.queryId, "site" -> j.site,
        "module" -> Probe.module(j.site), "submit_ms" -> j.submit, "end_ms" -> j.end,
        "failed" -> j.failed)))
    Harness.writeJson(c.args.out.resolve("record.json"), rec)
  }
}
