package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.gen.OrderGen
import graft.queries.EventQueries
import graft.sources.Connectors
import graft.streaming.{JdbcUpsertSink, StreamingQueries}

/** The benchmark's order source: the reference generator's value
  * distributions (user 1..5000, amount 1..10000, channel 0..200, event
  * time base + 3·i + jitter(0..7) seconds), drawn from a seeded RNG. */
final class LoadGen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private var i = 0L

  def next(): String = {
    val orderId = 100000000000000L + Math.floorMod(i * 1000000007L + seed, 900000000000000L)
    val line = s"""{"order_id":$orderId,"user_id":${1 + rnd.nextInt(5000)},""" +
      s""""order_tz":"beijing","amount":${1 + rnd.nextInt(10000)},"currency":"rmb",""" +
      s""""channel_id":${rnd.nextInt(201)},"order_time":${
        OrderGen.BaseEpoch + 3 * i + rnd.nextInt(8)}}"""
    i += 1
    line
  }

  def events: Long = i
}

/** The text-queue stand-in for the Kafka wire: one JSON-lines file per
  * write, made visible by an atomic rename so a reader never sees a
  * partial file. */
final class Spool(val dir: Path) {
  Files.createDirectories(dir)
  private var files = 0
  var events = 0L

  def write(lines: Seq[String]): Unit = {
    val tmp = dir.resolve(f".tmp-$files%06d")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(f"part-$files%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    files += 1
    events += lines.size
  }

  def fileCount: Int = files
}

/** Workload `orders`: generator → spool → five streaming queries with
  * JDBC upserts into embedded Derby (open and closed loop), then the
  * landing of N generated orders as parquet and passes of the batch
  * queries Q1–Q6 over it. */
final class Orders(c: Ctx, spoolName: String = "spool") extends Workload {
  import Orders._

  private val a = c.args
  private var spool: Spool = _
  private var gen: LoadGen = _
  private var sinks: Map[String, JdbcUpsertSink] = Map.empty
  private var frames: Map[String, (DataFrame, String)] = Map.empty
  private var running: Seq[StreamingQuery] = Nil
  private val dbId = Orders.nextDb()

  def setup(): Unit = {
    spool = new Spool(c.freshDir(spoolName))
    gen = new LoadGen(a.seed)
    frames = streamFrames(c, spool.dir)
    val url = s"jdbc:derby:memory:perfbench$dbId;create=true"
    sinks = Queries.map(q => q -> new JdbcUpsertSink(url, s"pb_$q", Keys(q))).toMap
    Queries.foreach(q => sinks(q).ensureTable(frames(q)._1.schema))
    OrderGen.orders(c.spark, 10000L, a.seed).agg(sum(col("amount"))).collect()
  }

  def run(): Unit = {
    val spark = c.spark
    running = c.span("stream.start")(startQueries("checkpoints"))
    c.info("stream_query_ids") = running.map(q => q.name -> q.id.toString).toMap
    // warm-up: the first micro-batch of each query plans and compiles
    c.span("warmup") { closedStep(2000) }

    val openStart = spool.events
    val (stamps, lateness, backlog) = c.span("stream.open") { openLoop(a.seconds * 0.5) }
    c.span("check") { drain() }
    val lat = latencies(openStart, stamps)
    c.heap.checkpoint()

    val closedStart = c.tracer.now()
    var steps = 0
    c.span("stream.closed") {
      while (steps < 3 || c.tracer.now() - closedStart < a.seconds * 300) {
        c.span("stream.step", newOp = true)(closedStep(ClosedStep))
        steps += 1
      }
    }
    val closedEps = steps * ClosedStep / ((c.tracer.now() - closedStart) / 1000.0)
    c.span("check") {
      running.foreach { q =>
        c.op(s"stream ${q.name} drain")(q.processAllAvailable())
        q.stop()
        q.exception.foreach(e => c.errors += s"stream ${q.name}: $e")
      }
      c.streams.terminatedWithError.foreach { e => c.failed += 1; c.errors += e }
      Queries.foreach { q =>
        val ps = c.streams.progress(q)
        c.attempted += ps.size
      }
      Queries.foreach(q => sinks(q).toDF(spark).write.mode("overwrite")
        .parquet(a.out.resolve(s"stream_$q.parquet").toString))
    }
    c.heap.checkpoint()

    // (c) landing and batch
    val landed = c.freshDir("landed")
    val landedTable = landed.resolve("events.parquet").toString
    val landMs = c.span("land") {
      val t0 = c.tracer.now()
      c.op("land") {
        OrderGen.decodeJson(OrderGen.ordersJson(spark, LandOrders, a.seed))
          .select(col("order_id").as("event_id"), col("ts"), col("user_id"),
            col("channel_id").as("event_type"), col("amount").cast("double").as("value"))
          .write.mode("overwrite").parquet(landedTable)
      }
      c.tracer.now() - t0
    }
    val passMs = mutable.ArrayBuffer.empty[Double]
    val hashes = mutable.LinkedHashMap.empty[String, mutable.Set[Long]]
    val lastFrames = mutable.LinkedHashMap.empty[String, DataFrame]
    val lastRows = mutable.LinkedHashMap.empty[String, Seq[Row]]
    val batchStart = c.tracer.now()
    while (passMs.isEmpty || c.tracer.now() - batchStart < a.seconds * 200) {
      val t0 = c.tracer.now()
      c.span("batch.pass", newOp = true) {
        BatchQueries.foreach { case (bq, name) =>
          c.span(s"batch.$bq") {
            c.op(s"batch $bq") {
              val df = EventQueries.queries(name)(spark, landed.toString)
              val rows = df.collect().toSeq
              hashes.getOrElseUpdate(bq, mutable.Set.empty) += Harness.rowsHash(rows)
              lastFrames(bq) = df
              lastRows(bq) = rows
            }
          }
        }
      }
      passMs += c.tracer.now() - t0
    }
    c.heap.checkpoint()
    c.span("check") {
      hashes.foreach { case (bq, hs) =>
        if (hs.size != 1) { c.failed += 1; c.errors += s"batch $bq: ${hs.size} distinct result hashes" }
      }
      lastRows.foreach { case (bq, rows) =>
        spark.createDataFrame(rows.asJava, lastFrames(bq).schema).coalesce(1)
          .write.mode("overwrite").parquet(a.out.resolve(s"batch_$bq.parquet").toString)
      }
    }

    c.metric("stream_lat_p50_ms", Stats.median(lat), "ms")
    c.metric("stream_lat_p99_ms", Stats.quantile(lat, 0.99), "ms")
    c.metric("stream_closed_eps", closedEps, "events/s")
    c.metric("land_s", landMs / 1000.0, "s")
    c.metric("batch_q16_s", Stats.median(passMs.toSeq) / 1000.0, "s")
    c.info("stream_lat_samples") = lat.size
    c.info("stream_closed_steps") = steps
    c.info("batch_passes") = passMs.size
    c.info("landed_table") = landedTable
    c.info("spool_dir") = spool.dir.toString
    c.info("spool_files") = spool.fileCount
    c.info("q2_final_watermark") = c.streams.progress("q2").lastOption.map(_.watermark).getOrElse("")
    c.info("input") = Map("orders_landed" -> LandOrders, "stream_events" -> spool.events,
      "open_loop_rate_eps" -> Rate, "closed_step_events" -> ClosedStep)

    // the generic end-to-end names
    c.metric("build_s", landMs / 1000.0, "s")
    c.metric("op_p50_ms", Stats.median(lat), "ms")
    c.metric("ops_per_s", closedEps, "1/s")

    if (a.trace) {
      layerStreaming(lateness, backlog)
      layerBatch(passMs.size, lastFrames.toMap)
      val genMs = c.span("gen") {
        val t0 = c.tracer.now()
        OrderGen.ordersJson(spark, LandOrders, a.seed).write.format("noop").mode("overwrite").save()
        c.tracer.now() - t0
      }
      c.layerMetric("gen.rows", LandOrders.toDouble, "rows")
      c.layerMetric("gen.ms", genMs, "ms")
      c.layerMetric("land.write_ms", landMs - genMs, "ms")
      c.layerMetric("land.bytes_written", Harness.dirBytes(landed).toDouble, "bytes")
    }
  }

  /** Starts the five queries, each with its own sink and checkpoint. */
  private def startQueries(checkpoints: String): Seq[StreamingQuery] = {
    val dir = c.freshDir(checkpoints)
    Queries.map { q =>
      val (df, mode) = frames(q)
      sinks(q).writeTo(df.writeStream.queryName(q).outputMode(mode)
        .option("checkpointLocation", dir.resolve(q).toString))
    }
  }

  /** Writes one file of `n` events and waits until every query committed it. */
  private def closedStep(n: Int): Unit = {
    c.op("stream file") {
      spool.write(Seq.fill(n)(gen.next()))
      if (!c.streams.awaitRows(Queries, spool.events, StepTimeoutMs))
        throw new IllegalStateException(s"queries did not commit ${spool.events} events")
    }
  }

  private def drain(): Unit =
    if (!c.streams.awaitRows(Queries, spool.events, StepTimeoutMs)) {
      c.failed += 1
      c.errors += s"stream drain: queries did not reach ${spool.events} events"
    }

  /** Open loop at a fixed rate: one file per tick, each event stamped
    * with its creation time. Returns the stamps, how late each tick
    * ran, and the largest backlog seen. */
  private def openLoop(seconds: Double): (Array[Double], Seq[Double], Long) = {
    val perTick = Rate * TickMs / 1000
    val ticks = math.max(1, (seconds * 1000 / TickMs).toInt)
    val stamps = new Array[Double](ticks * perTick)
    val lateness = mutable.ArrayBuffer.empty[Double]
    var backlog = 0L
    val t0 = c.tracer.now()
    for (k <- 0 until ticks) {
      val due = t0 + k * TickMs
      val wait = due - c.tracer.now()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val now = c.tracer.now()
      lateness += now - due
      val lines = Seq.fill(perTick)(gen.next())
      java.util.Arrays.fill(stamps, k * perTick, (k + 1) * perTick, now)
      c.op("stream file")(spool.write(lines))
      backlog = math.max(backlog,
        spool.events - Queries.map(c.streams.consumed).min)
    }
    (stamps, lateness.toSeq, backlog)
  }

  /** One sample per (event, query): the time the query reported the
    * micro-batch that consumed the event, minus the event's stamp. The
    * file source reads whole files in order, so cumulative input rows
    * name a prefix of the spool. */
  private def latencies(first: Long, stamps: Array[Double]): Seq[Double] =
    Queries.flatMap { q =>
      val ps = c.streams.progress(q).filter(_.rows > 0)
      var j = 0
      stamps.indices.map { k =>
        val idx = first + k
        while (j < ps.size && ps(j).cumRows < idx + 1) j += 1
        if (j < ps.size) ps(j).at - stamps(k) else Double.NaN
      }.filterNot(_.isNaN)
    }

  private def layerStreaming(lateness: Seq[Double], backlog: Long): Unit = {
    c.layerMetric("loadgen.events", gen.events.toDouble, "events")
    c.layerMetric("loadgen.late_p99_ms", Stats.quantile(lateness, 0.99), "ms")
    Queries.foreach { q =>
      val ps = c.streams.progress(q)
      def d(k: String) = ps.map(_.durations.getOrElse(k, 0L)).sum.toDouble
      c.layerMetric(s"streaming.$q.batches", ps.size.toDouble, "count")
      c.layerMetric(s"streaming.$q.trigger_p50_ms",
        Stats.median(ps.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)), "ms")
      c.layerMetric(s"streaming.$q.addBatch_ms", d("addBatch"), "ms")
      c.layerMetric(s"streaming.$q.offsets_ms",
        d("latestOffset") + d("getBatch") + d("walCommit") + d("commitOffsets"), "ms")
      c.layerMetric(s"streaming.$q.state_rows",
        ps.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "rows")
      c.layerMetric(s"streaming.$q.state_commit_ms", ps.map(_.stateCommitMs).sum.toDouble, "ms")
    }
    c.layerMetric("streaming.backlog_max_events", backlog.toDouble, "events")
    c.layerMetric("streaming.late_rows",
      Queries.flatMap(c.streams.progress).map(_.droppedLate).sum.toDouble, "rows")
  }

  private def layerBatch(passes: Int, lastFrames: Map[String, DataFrame]): Unit = {
    c.probe.quiesce(c.spark.sparkContext)
    val spans = c.tracer.spans
    val jobs = c.probe.allJobs
    BatchQueries.foreach { case (bq, _) =>
      val ss = spans.filter(_.name == s"batch.$bq")
      val ids = ss.map(_.id).toSet
      val k = c.probe.counters(jobs.filter(j => ids(j.span)))
      c.layerMetric(s"queries.$bq.wall_ms", Stats.median(ss.map(_.ms)), "ms")
      c.layerMetric(s"queries.$bq.exec_ms", k.runMs.toDouble / passes, "ms")
      c.layerMetric(s"queries.$bq.shuffle_bytes", k.shuffleWrite.toDouble / passes, "bytes")
      val scans = lastFrames.get(bq).toSeq
        .flatMap(df => Harness.planNodes(df.queryExecution.executedPlan))
        .filter(_.nodeName.startsWith("Scan"))
      def scanMetric(m: String) = scans.flatMap(_.metrics.get(m)).map(_.value).sum.toDouble
      c.layerMetric(s"sources.$bq.bytes_read", scanMetric("filesSize"), "bytes")
      c.layerMetric(s"sources.$bq.row_yield", scanMetric("numOutputRows") / LandOrders, "fraction")
    }
  }

  /** Phase (b) again on a single-core session: the baseline that shows
    * how much of the closed-loop rate comes from parallelism. */
  override def traceExtra(): Unit = {
    Main.restart(c, "local[1]", 1)
    val one = new Orders(c, "spool1")
    one.setup()
    one.running = one.startQueries("checkpoints1")
    one.closedStep(2000)
    val t0 = c.tracer.now()
    (0 until 2).foreach(_ => one.closedStep(ClosedStep))
    val eps = 2 * ClosedStep / ((c.tracer.now() - t0) / 1000.0)
    one.running.foreach(_.stop())
    c.layerMetric("streaming.closed_eps_local1", eps, "events/s")
  }
}

object Orders {
  val Queries: Seq[String] = Seq("q1uv", "q1gmv", "q2", "q3", "q4")
  val Keys: Map[String, Seq[String]] = Map("q1uv" -> Seq("date_str"),
    "q1gmv" -> Seq("date_str"), "q2" -> Seq("min_of_day"),
    "q3" -> Seq("user_id"), "q4" -> Seq("channel_id"))
  val BatchQueries: Seq[(String, String)] = Seq("q1" -> "q1_daily_uv_gmv",
    "q2" -> "q2_per_minute", "q3" -> "q3_user_gmv", "q4" -> "q4_channel_gmv",
    "q5" -> "q5_hourly_rollup", "q6" -> "q6_trailing_rollup")
  val ClosedStep = 10000
  /** Open-loop rate, events/s: under the five queries' closed-loop capacity. */
  val Rate = 1000
  /** Orders landed: event time reaches past 2024-01-31, so Q5's hour and
    * Q6's day hold data. */
  val LandOrders = 900000L
  val TickMs = 250
  val StepTimeoutMs = 60000L

  private val dbs = new java.util.concurrent.atomic.AtomicInteger()
  private def nextDb(): Int = dbs.incrementAndGet()

  /** The five streaming queries over the spool, each with its own
    * reader: the engine's wire source and JSON decode, with the order
    * columns renamed to the names the streaming queries use (`amount`
    * → `value`, `channel_id` → `event_type`).
    *
    * `Connectors.consumeOrders` would be the one call, but it adds a
    * watermark that Q1 and Q2 define again, and Spark rejects a
    * redefined watermark when the query starts; so the benchmark
    * composes the same two steps without it. */
  def streamFrames(c: Ctx, dir: Path): Map[String, (DataFrame, String)] = {
    def events = OrderGen.decodeJson(Connectors.wireStream(c.spark,
        Map("format" -> "text", "path" -> dir.toString)))
      .withColumn("value", col("amount").cast("double"))
      .withColumn("event_type", col("channel_id"))
    Map("q1uv" -> (StreamingQueries.q1DailyUv(events), "update"),
      "q1gmv" -> (StreamingQueries.q1DailyGmv(events), "update"),
      "q2" -> (StreamingQueries.q2PerMinute(events), "append"),
      "q3" -> (StreamingQueries.q3UserGmv(events), "update"),
      "q4" -> (StreamingQueries.q4ChannelGmv(events), "update"))
  }
}
