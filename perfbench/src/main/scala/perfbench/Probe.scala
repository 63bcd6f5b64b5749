package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it. Times are epoch ms. */
final case class JobRec(id: Int, submit: Long, var end: Long, span: Int,
    queryId: String, stageIds: Seq[Int], site: String,
    var failed: Boolean = false)

/** Task-metric totals of one stage (all attempts). */
final class StageRec {
  var tasks = 0L
  var tasksFailed = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Counter totals over a set of jobs. */
final case class Counters(jobs: Int, jobsFailed: Int, stages: Int,
    tasks: Long, tasksFailed: Long, runMs: Long, cpuMs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long,
    taskSkew: Double)

/** Listener that keeps every job and stage of the run in memory.
  *
  * Jobs are attributed three ways: to the benchmark span that was
  * active on the submitting thread (the `perfbench.span` local
  * property, which threads started inside the span inherit), to their
  * streaming query (`sql.streaming.queryId`), and to a module by the
  * call-site file of their result stage (`count at Dedup.scala:618`).
  * A stage belongs to every job whose `JobStart.stageIds` names it, so
  * concurrent jobs never steal each other's stages.
  *
  * The bus is asynchronous: read counters only after [[quiesce]].
  */
final class Probe extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  /** SQL execution id -> the short call site of the action behind it. */
  private val executions = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executions(s.executionId) = s.description)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val result = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    e.stageIds.foreach(id => stages.getOrElseUpdate(id, new StageRec))
    // adaptive query stages run from Spark's own threads, so their
    // stage names carry no user call site; the SQL execution that
    // submitted them does
    val site = Seq("spark.sql.execution.root.id", "spark.sql.execution.id").iterator
      .flatMap(k => prop(k).flatMap(id => executions.get(id.toLong)))
      .find(Probe.isUserSite)
      .filter(_ => !Probe.isUserSite(result)).getOrElse(result)
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L,
      prop(Probe.SpanKey).map(_.toInt).getOrElse(0),
      prop("sql.streaming.queryId").orNull, e.stageIds, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec)
    s.tasks += 1
    if (!e.taskInfo.successful) s.tasksFailed += 1
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Jobs started but not yet ended. */
  def openJobs: Int = synchronized(jobs.values.count(_.end < 0))

  def allJobs: Seq[JobRec] = synchronized(jobs.values.toSeq)

  /** Waits until the bus is drained and every started job has ended. */
  def quiesce(sc: SparkContext, timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    org.apache.spark.perfbench.BusDrain.drain(sc, timeoutMs)
    while (openJobs > 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(5)
      org.apache.spark.perfbench.BusDrain.drain(sc, timeoutMs)
    }
  }

  /** Totals over `js`; each stage counted once even if shared. */
  def counters(js: Seq[JobRec]): Counters = synchronized {
    val ss = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    val skew = ss.filter(s => s.taskMs.size >= 2 && s.runMs >= Probe.SkewFloorMs)
      .map { s =>
        val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
        s.taskMs.max / math.max(med, 1.0)
      }
    Counters(js.size, js.count(_.failed), ss.count(_.tasks > 0),
      ss.map(_.tasks).sum, ss.map(_.tasksFailed).sum, ss.map(_.runMs).sum,
      ss.map(_.cpuNs).sum / 1000000L, ss.map(_.gcMs).sum, ss.map(_.shuffleRead).sum,
      ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum,
      if (skew.isEmpty) 1.0 else skew.max)
  }
}

object Probe {
  val SpanKey = "perfbench.span"

  /** Stages with less executor time than this are too small for their
    * task-time ratio to mean anything. */
  val SkewFloorMs = 100L

  /** Job intervals; a job still open counts up to `openEnd`. */
  def intervals(js: Seq[JobRec], openEnd: Long): Seq[(Long, Long)] =
    js.map(j => (j.submit, if (j.end < 0) openEnd else j.end))

  /** Module of a job from its call site: the source file's base name,
    * or `action` for the benchmark's own files (work that stayed lazy
    * until the benchmark forced it). */
  def module(site: String): String = {
    val file = site.split(" at ").lastOption.getOrElse("")
      .takeWhile(_ != ':').stripSuffix(".scala")
    if (file.isEmpty || HarnessFiles.contains(file)) "action" else file
  }

  /** Whether a call site names a Scala source file (not a JDK or
    * Spark-internal frame). */
  def isUserSite(site: String): Boolean =
    site.split(" at ").lastOption.exists(_.matches("[A-Za-z0-9_]+\\.scala:\\d+"))

  private val HarnessFiles =
    Set("Main", "Orders", "CorpusPack", "AnnIvfPq", "CorpusAnn", "Harness", "Trace", "Probe")

  /** Span hooks that label jobs with the active span id. */
  def hooks(sc: SparkContext): Tracer.Hooks = new Tracer.Hooks {
    def enter(spanId: Int): Unit = sc.setLocalProperty(SpanKey, spanId.toString)
    def exit(parentId: Int): Unit =
      sc.setLocalProperty(SpanKey, if (parentId == 0) null else parentId.toString)
  }
}
