package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second-seed fuzz fixture generator (builder tooling, not library
  * surface; VERDICT r6 next-round item 1): derives a structure-honest
  * variant of a driver fixture under a caller-chosen seed, so the
  * whole 155-gate registry + oracles can be re-run on data whose
  * tie-breaks, mod-class splits, and representative choices all
  * differ from seed 42's. A gate that passes only because a seed-42
  * accident (a min-id pick, a doc_id%3 batch split, a duplicate
  * family's labeling) happens to agree between the engine and its
  * oracle fails here immediately.
  *
  * Transform (bijective relabeling + light text salt — never a new
  * data distribution, so every gate stays non-degenerate):
  *  - every key space gets a seeded ROTATION `(k + R) mod N` over its
  *    observed dense 0-based range, applied consistently to all FK
  *    columns of that space (orders↔lineitem, customer↔orders,
  *    documents↔embeddings share one R) — joins and fanouts are
  *    preserved exactly while every min/max/mod/order tie-break
  *    changes;
  *  - ~10% of documents (seed-hash selected) get one appended salt
  *    token and a recomputed `n_chars` — token counts, quality
  *    scores, fingerprints, and near-dup pair sets all shift;
  *  - `events` keeps its ROW ORDER (the streaming replays' arrival
  *    order is fixture semantics, not an accident to fuzz) and its
  *    values; `ts` is re-emitted as tz-naive TIMESTAMP(MICROS) — the
  *    other at-rest representation [[graft.sources.Tables.events]]
  *    supports, so the representation probe gets fuzzed too;
  *  - dims (`region`/`nation`) and all measures/timestamps are
  *    byte-identical: float-rounding parity is seed 42's already-
  *    verified property, not this tool's target.
  *
  * Each table lands as ONE plain `<table>.parquet` FILE (the driver
  * fixture's layout), so `tools/oracle_check.py`'s DuckDB views read
  * it unchanged.
  *
  * Usage: `sbt "runMain graft.FuzzGen [srcDir] [outDir] [seed]"`,
  * defaults `/root/testdata/sf0.01 target/fuzz/sf0.01 1337`.
  */
object FuzzGen {

  /** Seeded rotation amount for a key space: deterministic, never 0
    * (mod n), so every key actually moves. */
  def rotation(seed: Long, space: String, n: Long): Long = {
    var h = seed * 0x9E3779B97F4A7C15L + space.hashCode.toLong
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    val r = java.lang.Math.floorMod(h, n)
    if (r == 0L) 1L else r
  }

  private def rot(c: String, r: Long, n: Long): Column =
    pmod(col(c) + lit(r), lit(n))

  def fuzzAll(spark: SparkSession, srcDir: String, outDir: String,
      seed: Long, skew: Boolean = false): Unit = {
    def rd(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def wr(df0: DataFrame, t: String): Unit = {
      // tz-naive TIMESTAMP(MICROS) at rest, like the driver fixture:
      // a TimestampType column would land UTC-adjusted (or INT96) and
      // DuckDB would read it as TIMESTAMPTZ, shifting every naive
      // timestamp literal in the oracles. Session tz is UTC, so the
      // NTZ cast preserves the wall clock exactly.
      val df = df0.schema.fields.foldLeft(df0) { (d, f) =>
        if (f.dataType == org.apache.spark.sql.types.TimestampType)
          d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
        else d
      }
      val tmp = s"$outDir/.tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file for $t"))
      val target = java.nio.file.Paths.get(s"$outDir/$t.parquet")
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.move(part.toPath, target)
      new java.io.File(tmp).listFiles().foreach(f => { f.delete(); () })
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp))
      println(s"[fuzz] $t: ${spark.read.parquet(target.toString).count()} rows")
    }
    new java.io.File(outDir).mkdirs()

    // key-space sizes from the source fixture itself (dense 0-based)
    def spaceN(t: String, c: String): Long =
      rd(t).agg(max(col(c))).head().getLong(0) + 1L
    val nCust = spaceN("customer", "c_custkey")
    val nOrd = spaceN("orders", "o_orderkey")
    val nSupp = spaceN("supplier", "s_suppkey")
    val nPart = spaceN("part", "p_partkey")
    val nEvt = spaceN("events", "event_id")
    val nUser = spaceN("events", "user_id")
    val nDoc = spaceN("documents", "doc_id")
    val rCust = rotation(seed, "cust", nCust)
    val rOrd = rotation(seed, "ord", nOrd)
    val rSupp = rotation(seed, "supp", nSupp)
    val rPart = rotation(seed, "part", nPart)
    val rEvt = rotation(seed, "evt", nEvt)
    val rUser = rotation(seed, "user", nUser)
    val rDoc = rotation(seed, "doc", nDoc)
    println(s"[fuzz] seed=$seed rotations: cust=$rCust ord=$rOrd " +
      s"supp=$rSupp part=$rPart evt=$rEvt user=$rUser doc=$rDoc")

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(rd("customer")
      .withColumn("c_custkey", rot("c_custkey", rCust, nCust))
      .orderBy(col("c_custkey")), "customer")
    wr(rd("supplier")
      .withColumn("s_suppkey", rot("s_suppkey", rSupp, nSupp))
      .orderBy(col("s_suppkey")), "supplier")
    wr(rd("part")
      .withColumn("p_partkey", rot("p_partkey", rPart, nPart))
      .orderBy(col("p_partkey")), "part")
    wr(rd("orders")
      .withColumn("o_orderkey", rot("o_orderkey", rOrd, nOrd))
      .withColumn("o_custkey", rot("o_custkey", rCust, nCust))
      .orderBy(col("o_orderkey")), "orders")
    wr(rd("lineitem")
      .withColumn("l_orderkey", rot("l_orderkey", rOrd, nOrd))
      .withColumn("l_partkey", rot("l_partkey", rPart, nPart))
      .withColumn("l_suppkey", rot("l_suppkey", rSupp, nSupp))
      .orderBy(col("l_orderkey"), col("l_linenumber")), "lineitem")
    // events: NO reorder (streaming arrival order is semantics); ts
    // re-emitted as µs TIMESTAMP whatever the source representation
    val ev = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = rd("events")
      val tsFixed = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
      tsFixed
        .withColumn("event_id", rot("event_id", rEvt, nEvt))
        // user_id joins customer.c_custkey (stream_enrich_segment and
        // its batch twin), so it must rotate with the CUSTOMER key
        // space's bijection — events' own (rUser, nUser) would
        // scramble which events match customers and degenerate the
        // enrich gates under some seeds. user_id ⊆ [0, nCust) in the
        // driver fixture (10% prefix), so (rCust, nCust) stays a
        // bijection and preserves every match exactly, like
        // orders.o_custkey.
        .withColumn("user_id", rot("user_id", rCust, nCust))
    }
    // SKEW arm (VERDICT r7 item 6): one HOT USER absorbs ~30% of
    // events — the hot-key shape the enrich/co-activity operators
    // document for AQE skew-join but no uniform fixture triggers.
    // Only events whose (event_type, ts) is GLOBALLY UNIQUE are
    // remapped: a remapped row can then never collide with ANY other
    // row on (user_id, event_type, ts) — including the hot user's own
    // pre-existing rows — so the stream_join_attrib fixture-PK
    // assertion and the oracle's join cardinality are preserved by
    // construction, not by luck. Values and row order stay intact.
    // Row order constraint: the remap must stay a NARROW map over the
    // source read (a shuffle before the coalesce(1) write would
    // scramble the pinned arrival order) — so the non-unique
    // (event_type, ts) keys are derived aside and BROADCAST back
    // (exact-duplicate µs timestamps are a handful of rows by
    // nature), leaving the probe side order-preserving.
    val evSkewed = if (!skew) ev else {
      val hotUser = java.lang.Math.floorMod(seed * 31L + 7L, nCust)
      val dupKeys = ev.groupBy(col("event_type"), col("ts"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L)
        .select(col("event_type"), col("ts"), lit(1).as("__dup"))
      ev.join(broadcast(dupKeys), Seq("event_type", "ts"), "left")
        .withColumn("user_id",
          when(col("__dup").isNull &&
              pmod(xxhash64(col("event_id"), lit(seed + 13L)), lit(10L)) < 3L,
            lit(hotUser))
            .otherwise(col("user_id")))
        .drop("__dup")
    }
    wr(evSkewed.select(rd("events").columns.map(col).toIndexedSeq: _*), "events")
    // documents: rotate ids, salt a seed-hash-selected ~10% with one
    // appended token, keep n_chars = length(text) invariant
    val salted = when(
      pmod(xxhash64(col("doc_id"), lit(seed)), lit(10L)) === 0L,
      concat(col("text"), lit(" fz"),
        pmod(xxhash64(col("doc_id"), lit(seed + 1)), lit(100L))))
      .otherwise(col("text"))
    // SKEW arm: one HOT DOMAIN absorbs ~30% of documents (the
    // one-site-dominates-the-crawl shape): seed-hash-selected docs
    // move to the lexically-smallest existing source label. This
    // drives the dominant-block path of the triangle-sub-blocked
    // jaccard join, the domain filter's hot join-back, and the
    // curation family's per-source aggregates.
    val sourced =
      if (!skew) col("source")
      else {
        val hotSource =
          rd("documents").agg(min(col("source"))).head().getString(0)
        when(
          pmod(xxhash64(col("doc_id"), lit(seed + 17L)), lit(10L)) < 3L,
          lit(hotSource)).otherwise(col("source"))
      }
    wr(rd("documents")
      .withColumn("doc_id", rot("doc_id", rDoc, nDoc))
      .withColumn("text", salted)
      .withColumn("source", sourced)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy(col("doc_id")), "documents")
    // embeddings: vec_id shares the doc key space and rotation, so
    // any doc↔vec pairing is preserved exactly
    wr(rd("embeddings")
      .withColumn("vec_id", rot("vec_id", rDoc, nDoc))
      .orderBy(col("vec_id")), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("target/fuzz/sf0.01")
    val seed = args.lift(2).map(_.toLong).getOrElse(1337L)
    val skew = args.lift(3).contains("skew")
    val spark = GraftSession.forMain()
    fuzzAll(spark, srcDir, outDir, seed, skew)
    spark.stop()
  }
}
