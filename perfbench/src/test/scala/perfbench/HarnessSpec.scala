package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own accounting: interval arithmetic, self time, and
  * the listener's job, stage and failure bookkeeping on a real session. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("perfbench-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("union of intervals merges overlaps and touching ends, skips empty ones") {
    assert(Intervals.union(Nil) === 0L)
    assert(Intervals.union(Seq((0L, 10L), (5L, 15L), (20L, 30L))) === 25L)
    assert(Intervals.union(Seq((0L, 10L), (10L, 20L))) === 20L)
    assert(Intervals.union(Seq((5L, 5L), (7L, 3L))) === 0L)
    assert(Intervals.union(Seq((0L, 100L), (10L, 20L), (30L, 40L))) === 100L)
  }

  test("time with at least two intervals open") {
    assert(Intervals.coveredAtLeast(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 2) === 5L)
    assert(Intervals.coveredAtLeast(Seq((0L, 10L), (10L, 20L)), 2) === 0L)
    assert(Intervals.coveredAtLeast(Seq((0L, 30L), (5L, 25L), (10L, 20L)), 3) === 10L)
  }

  test("driver gap is span time not covered by any job, clipped to the span") {
    val span = Span(1, "s", 0, 1, 100.0, 200.0)
    val jobs = Seq(JobRec(0, 90L, 120L, 1, null, Nil, ""),
      JobRec(1, 110L, 150L, 1, null, Nil, ""), JobRec(2, 190L, 260L, 1, null, Nil, ""))
    assert(Main.driverGap(Seq(span), jobs) === 40.0)
    // a job still open runs to the latest end seen
    val open = Seq(JobRec(3, 150L, -1L, 1, null, Nil, ""), JobRec(4, 100L, 180L, 1, null, Nil, ""))
    assert(Main.driverGap(Seq(span), open) === 20.0)
  }

  test("self time subtracts the union of direct children only") {
    val all = Seq(Span(1, "p", 0, 1, 0.0, 100.0),
      Span(2, "a", 1, 1, 10.0, 40.0), Span(3, "b", 1, 1, 30.0, 60.0),
      Span(4, "grandchild", 2, 1, 15.0, 20.0))
    assert(Tracer.selfTime(all.head, all) === 50.0)
    assert(Tracer.selfTime(all(1), all) === 25.0)
    assert(Tracer.subtree(all.head, all).map(_.id).toSet === Set(1, 2, 3, 4))
  }

  test("spans nest, share an operation id, and label jobs through the hooks") {
    val t = new Tracer
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val hooks = new Tracer.Hooks {
      def enter(id: Int): Unit = seen += s"in$id"
      def exit(parent: Int): Unit = seen += s"out->$parent"
    }
    t.span("outer", newOp = true)(t.span("inner")(())(hooks))(hooks)
    val Seq(inner, outer) = t.spans.sortBy(_.name)
    assert(inner.parent === outer.id && inner.op === outer.op)
    assert(seen.toSeq === Seq(s"in${outer.id}", s"in${inner.id}", s"out->${outer.id}", "out->0"))
  }

  test("module comes from the result stage's call-site file") {
    assert(Probe.module("count at Dedup.scala:618") === "Dedup")
    assert(Probe.module("collect at CorpusPack.scala:39") === "action")
    assert(Probe.module("") === "action")
  }

  test("counters wait for every job's end; zero-task jobs count as jobs with no tasks") {
    val probe = new Probe
    val sc = spark.sparkContext
    sc.addSparkListener(probe)
    try {
      sc.setLocalProperty(Probe.SpanKey, "7")
      sc.parallelize(1 to 1000, 4).map(_ * 2).count()
      sc.emptyRDD[Int].collect()
      sc.setLocalProperty(Probe.SpanKey, null)
      probe.quiesce(sc)
      assert(probe.openJobs === 0)
      val jobs = probe.allJobs.filter(_.span == 7)
      assert(jobs.size === 2)
      assert(jobs.forall(j => j.end >= j.submit && !j.failed))
      val Seq(full, empty) = jobs
      assert(probe.counters(Seq(full)).tasks === 4)
      val z = probe.counters(Seq(empty))
      assert(z.jobs === 1 && z.tasks === 0 && z.stages === 0)
    } finally sc.removeSparkListener(probe)
  }

  test("concurrent jobs are attributed by the submitting thread's span and their own stages") {
    val probe = new Probe
    val sc = spark.sparkContext
    sc.addSparkListener(probe)
    try {
      val threads = Seq(11, 12).map { id =>
        val th = new Thread(() => {
          sc.setLocalProperty(Probe.SpanKey, id.toString)
          sc.parallelize(1 to 200, id - 8).map(x => (x % 3, x)).reduceByKey(_ + _).count()
        })
        th.start()
        th
      }
      threads.foreach(_.join())
      probe.quiesce(sc)
      val by = probe.allJobs.groupBy(_.span)
      // map side, then as many reduce tasks as map partitions
      assert(probe.counters(by(11)).tasks === 3 + 3)
      assert(probe.counters(by(12)).tasks === 4 + 4)
      assert(by(11).flatMap(_.stageIds).toSet.intersect(by(12).flatMap(_.stageIds).toSet).isEmpty)
    } finally sc.removeSparkListener(probe)
  }

  test("failures: a failed job, a failed operation and a streaming query that dies") {
    val probe = new Probe
    val sc = spark.sparkContext
    sc.addSparkListener(probe)
    val here = java.nio.file.Paths.get(".")
    val ctx = new Ctx(Args("orders", 1L, 1.0, trace = true, here, here, here, 2))
    val streams = new StreamListener(ctx.tracer)
    spark.streams.addListener(streams)
    try {
      val out = ctx.op("boom")(sc.parallelize(1 to 10, 2).map(x => 1 / (x - x)).count())
      assert(out.isEmpty && ctx.attempted === 1 && ctx.failed === 1)
      assert(ctx.op("fine")(1).contains(1) && ctx.attempted === 2 && ctx.failed === 1)
      probe.quiesce(sc)
      val k = probe.counters(probe.allJobs)
      assert(k.jobsFailed === 1 && k.tasksFailed >= 1)

      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Int]
      val q = in.toDS().map(x => 1 / (x - x)).writeStream.format("noop").start()
      in.addData(1, 2, 3)
      intercept[Exception](q.awaitTermination(60000))
      probe.quiesce(sc)
      assert(streams.terminatedWithError.size === 1)
    } finally {
      spark.streams.removeListener(streams)
      sc.removeSparkListener(probe)
    }
  }

  test("order-independent row hashes and JSON output") {
    import org.apache.spark.sql.Row
    assert(Harness.rowsHash(Seq(Row(1, "a"), Row(2, "b"))) === Harness.rowsHash(Seq(Row(2, "b"), Row(1, "a"))))
    assert(Harness.rowsHash(Seq(Row(1, "a"))) !== Harness.rowsHash(Seq(Row(1, "b"))))
    assert(Harness.json(Map("a" -> Seq[Any](1, 2.5), "b" -> "q\"\n", "c" -> Double.NaN)) ===
      """{"a":[1,2.5],"b":"q\"\n","c":null}""")
  }
}
