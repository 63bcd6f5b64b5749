package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, inputs: Path, out: Path, work: Path, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("inputs")),
      Paths.get(m("out")), Paths.get(m("work")),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }
}

/** State shared by a run: session, tracer, listeners and the record. */
final class Ctx(val args: Args) {
  /** Wall-clock epoch ms when the benchmark main started. */
  val mainStart: Double = System.currentTimeMillis().toDouble
  val tracer = new Tracer
  var spark: SparkSession = _
  var probe = new Probe
  var plans = new PlanListener(tracer)
  var streams = new StreamListener(tracer)
  val heap = new HeapMonitor
  /** End-to-end metrics: name -> (value, unit). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics: name -> (value, unit). */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  implicit def hooks: Tracer.Hooks =
    if (args.trace && spark != null) Probe.hooks(spark.sparkContext) else Tracer.NoHooks

  def span[T](name: String, newOp: Boolean = false)(body: => T): T =
    tracer.span(name, newOp)(body)(hooks)

  /** Attaches the listeners to a freshly built session. The streaming
    * listener is always on (stream latency is read from it); the job
    * and plan listeners only when tracing. */
  def attach(s: SparkSession): Unit = {
    spark = s
    probe = new Probe
    plans = new PlanListener(tracer)
    streams = new StreamListener(tracer)
    s.streams.addListener(streams)
    if (args.trace) {
      s.sparkContext.addSparkListener(probe)
      s.listenerManager.register(plans)
    }
  }

  /** One counted operation; an exception fails it and is recorded. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  def metric(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def layerMetric(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)

  /** Directory under the run's working area, emptied first. */
  def freshDir(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(args.work)
    Harness.deleteTree(p)
    p
  }
}

/** Heap occupancy after collections: from JMX GC notifications (any
  * collection, major ones) and at the benchmark's checkpoints. */
final class HeapMonitor {
  @volatile var maxAfterMajorMb = 0.0
  @volatile var maxAfterAnyMb = 0.0

  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .filter { case (pool, _) => heapPools(pool) }
          .values.map(_.getUsed).sum / 1048576.0
        if (used > maxAfterAnyMb) maxAfterAnyMb = used
        if (info.getGcAction.contains("major") && used > maxAfterMajorMb)
          maxAfterMajorMb = used
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** Largest heap in use right after the benchmark's own full collections. */
  @volatile var maxLiveMb = 0.0

  /** A full collection between operations; the heap still in use after
    * it is the live set the run holds (caches, state, models). */
  def checkpoint(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    if (used > maxLiveMb) maxLiveMb = used
  }
}

/** One micro-batch as its query reported it. */
final case class Progress(at: Double, rows: Long, cumRows: Long, durations: Map[String, Long], stateRows: Long,
    stateCommitMs: Long, droppedLate: Long, watermark: String)

/** Records every streaming progress event and wakes threads waiting for
  * a query to reach an input-row count. */
final class StreamListener(clock: Tracer) extends StreamingQueryListener {
  private val byQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Progress]]
  private val cum = mutable.HashMap.empty[String, Long]
  val terminatedWithError = mutable.ArrayBuffer.empty[String]

  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val at = clock.now()
    val p = e.progress
    synchronized {
      val c = cum.getOrElse(p.name, 0L) + p.numInputRows
      cum(p.name) = c
      val ops = p.stateOperators.toSeq
      byQuery.getOrElseUpdate(p.name, mutable.ArrayBuffer.empty) += Progress(
        at, p.numInputRows, c,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
        ops.map(_.numRowsDroppedByWatermark).sum,
        Option(p.eventTime.get("watermark")).getOrElse(""))
      notifyAll()
    }
  }

  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized {
      e.exception.foreach(x => terminatedWithError += s"${e.id}: $x")
      notifyAll()
    }

  def consumed(query: String): Long = synchronized(cum.getOrElse(query, 0L))

  /** Blocks until every query in `qs` has consumed `rows` input rows. */
  def awaitRows(qs: Seq[String], rows: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (qs.exists(q => cum.getOrElse(q, 0L) < rows) &&
        terminatedWithError.isEmpty && System.currentTimeMillis() < deadline)
      wait(math.max(1L, math.min(50L, deadline - System.currentTimeMillis())))
    qs.forall(q => cum.getOrElse(q, 0L) >= rows)
  }

  def progress(query: String): Seq[Progress] =
    synchronized(byQuery.get(query).map(_.toSeq).getOrElse(Nil))
}

/** Catalyst phase times and broadcast sizes of every action, with the
  * span that was open when its analysis began. */
final case class PlanRec(at: Double, analysisMs: Double, optimizationMs: Double,
    planningMs: Double, broadcastBytes: Long)

final class PlanListener(tracer: Tracer) extends QueryExecutionListener {
  private val recs = mutable.ArrayBuffer.empty[PlanRec]

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val at = ph.get("analysis").map(_.startTimeMs.toDouble).getOrElse(tracer.now())
    val bc = Harness.planNodes(qe.executedPlan)
      .filter(_.nodeName.contains("BroadcastExchange"))
      .flatMap(_.metrics.get("dataSize")).map(_.value).sum
    synchronized(recs += PlanRec(at, d("analysis"), d("optimization"), d("planning"), bc))
  }

  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def all: Seq[PlanRec] = synchronized(recs.toSeq)
}

object Harness {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** Every node of a physical plan, looking through adaptive wrappers
    * and query stages into the plan that actually ran. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** Order-independent hash of collected rows. */
  def rowsHash(rows: Seq[org.apache.spark.sql.Row]): Long =
    rows.map(_.toString.hashCode.toLong * 0x9E3779B97F4A7C15L + 1).sum

  // ------------------------------------------------------------- JSON

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toSeq
      .foldLeft(mutable.LinkedHashMap.empty[String, Any]) { case (m, (k, x)) => m += k -> x })
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def writeJson(p: Path, v: Any): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, json(v).getBytes("UTF-8"))
  }
}
