package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Sketches
import graft.queries.StarQueries
import graft.sources.Tables

/** Sketch-family semantics: bitmap UV exactness, count-min upper
  * bounds, and the shuffle-hash hint's plan + result invariance.
  */
class SketchesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("graft-sketches-test")
  val dir = "/root/testdata/sf0.001"

  test("bitmap UV equals exact countDistinct per day") {
    val viaBitmap = Sketches.bitmapDailyUv(spark, dir)
    val exact = Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("date_str"))
      .agg(countDistinct(col("user_id")).as("uv"))
    assert(viaBitmap.except(exact).count() === 0)
    assert(exact.except(viaBitmap).count() === 0)
  }

  test("KMV estimate: exact below k, sane above k, oracle-shape invariant") {
    import spark.implicits._
    val exact = Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("date_str"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Sketches.kmvDailyUv(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (day, e) =>
      val n = exact(day)
      if (n < Sketches.KmvK)
        assert(e === n, s"$day: below-k days must be exact")
      else {
        // k=16 ⇒ relative standard error ≈ 1/√(k−2) ≈ 27%; a 3σ-ish
        // sanity band, not a correctness bound (the gate's oracle
        // recomputes the identical formula independently)
        assert(e > n / 3 && e < n * 3,
          s"$day: estimate $e implausible vs exact $n")
      }
    }
    // the two-level salted selection must equal the direct global
    // k-min the oracle uses: re-derive hk/m the oracle's way
    import org.apache.spark.sql.expressions.Window
    val direct = Tables.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("date_str"),
        Sketches.kmvHash(col("user_id")).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("date_str")).orderBy(col("h"))))
      .filter(col("rn") <= Sketches.KmvK)
      .groupBy(col("date_str"))
      .agg(max(col("h")).as("hk"), count(lit(1)).as("m"))
    val engine = Tables.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("date_str"),
        Sketches.kmvHash(col("user_id")).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("date_str"), pmod(col("h"), lit(Sketches.KmvSalt)))
          .orderBy(col("h"))))
      .filter(col("rn") <= Sketches.KmvK)
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("date_str")).orderBy(col("h"))))
      .filter(col("rn2") <= Sketches.KmvK)
      .groupBy(col("date_str"))
      .agg(max(col("h")).as("hk"), count(lit(1)).as("m"))
    assert(engine.except(direct).count() === 0)
    assert(direct.except(engine).count() === 0)
  }

  test("CMS estimate is an upper bound and exact absent collisions") {
    val r = Sketches.cmsUserCounts(spark, dir).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(2) >= row.getLong(1),
        s"CMS must overestimate: ${row}")
    }
    // tiny keyspace ≪ width: overwhelmingly collision-free, so the
    // estimate should be exact for the vast majority of keys
    val exactHits = r.count(row => row.getLong(2) == row.getLong(1))
    assert(exactHits * 10 >= r.length * 9,
      s"expected >=90% exact at this keyspace, got $exactHits/${r.length}")
  }

  test("CMS sketch cells conserve mass: each table sums to the row count") {
    val ev = Tables.events(spark, dir).select(col("user_id"))
    val total = ev.count()
    val sketch = ev
      .select(posexplode(array((0 until Sketches.CmsDepth).map(t =>
        Sketches.cmsBucket(col("user_id"), t)): _*)).as(Seq("t", "bkt")))
      .groupBy(col("t"), col("bkt")).agg(count(lit(1)).as("c"))
    val sums = sketch.groupBy(col("t")).agg(sum(col("c")).as("s")).collect()
    assert(sums.length === Sketches.CmsDepth)
    sums.foreach(row => assert(row.getLong(1) === total))
  }

  test("triangle count: known answers on K4, path, and K4+chord topologies") {
    import spark.implicits._
    def tri(edges: Seq[(Long, Long)]): Long =
      graft.ext.GraphOps.triangleCount(edges.toDF("a", "b"))
        .collect()(0).getLong(0)
    // K4 (canonical orientation) has C(4,3) = 4 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(tri(k4) === 4L)
    // a path has none
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === 0L)
    // K4 plus a pendant triangle sharing one vertex
    assert(tri(k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L))) === 5L)
  }

  test("fixed-point PageRank: hub outranks leaves; symmetric graph ranks equal") {
    import spark.implicits._
    // star: node 0 connected to 1..6 — the hub must rank highest,
    // and all leaves identically (exact integers: equality, not ≈)
    val star = (1L to 6L).map(i => (0L, i)).toDF("a", "b")
    val ranks = graft.ext.GraphOps.pageRankFixedPoint(star, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(0L) > ranks(1L), "hub must outrank leaves")
    assert((1L to 6L).map(ranks).distinct.size === 1, "leaves rank equally")
    // 3-cycle: perfect symmetry -> all ranks identical and stationary
    val cycle = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val cr = graft.ext.GraphOps.pageRankFixedPoint(cycle, iters = 5)
      .collect().map(_.getLong(1)).distinct
    assert(cr.length === 1, s"symmetric cycle must rank uniformly, got $cr")
  }

  test("observe() metrics ride the job: counts match a separate audit pass") {
    val ev = Tables.events(spark, dir)
    val obs = Observation("audit")
    val written = ev.observe(obs, count(lit(1)).as("n_rows"),
        sum(when(col("value") < 0, 1).otherwise(0)).as("n_negative"),
        max(col("ts")).as("max_ts"))
      .filter(col("event_type") === "purchase").count()
    val m = obs.get
    // the observation sees ALL rows (it sits above the scan, before
    // the filter the action applies) — equal to a separate audit scan
    assert(m("n_rows") === ev.count())
    assert(m("n_negative") === ev.filter(col("value") < 0).count())
    assert(written === ev.filter(col("event_type") === "purchase").count())
  }

  test("shuffle-hash hint plans ShuffledHashJoin and preserves results") {
    val hinted = StarQueries.revenueByNationShuffleHash(spark, dir)
    val plan = hinted.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"hint must force a shuffled hash join:\n$plan")
    // compare via the ORDER-INVARIANT cents aggregate on both sides:
    // the round(sum(double), 2) form is join-strategy-sensitive at
    // rounding boundaries (observed: one group a cent apart between
    // SMJ and shuffle-hash plans of the same query)
    val plainCents = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("order_year"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
        .cast("long")).as("revenue_cents"))
      .orderBy(col("nation"), col("order_year"))
    assert(hinted.collect().toSeq === plainCents.collect().toSeq)
  }
}
