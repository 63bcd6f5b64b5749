package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ext.{CorpusCache, Curation, Dedup}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The corpus half of `corpus_ann`: raw documents to packed training
  * sequences through `Curation.pipelinePack`, forced by one `collect`
  * per pass. */
final class CorpusPack(c: Ctx) extends Workload {
  private val a = c.args
  private var docs: DataFrame = _
  private var emb: DataFrame = _

  def setup(): Unit = {
    docs = c.spark.read.parquet(a.inputs.resolve("docs.parquet").toString)
    emb = c.spark.read.parquet(a.inputs.resolve("emb.parquet").toString)
    docs.count()
  }

  def run(): Unit = {
    val passMs = mutable.ArrayBuffer.empty[Double]
    val hashes = mutable.LinkedHashSet.empty[Long]
    var result: Seq[Row] = Nil
    var schema: StructType = null
    val start = c.tracer.now()
    // every pass starts from cold caches: what one corpus costs a user
    while (passMs.size < 2 || c.tracer.now() - start < a.seconds * 500) {
      val t0 = c.tracer.now()
      c.span("pack.pass", newOp = true) {
        c.op("pack pass") {
          // the packed result is small: collecting it forces the whole
          // funnel and leaves the rows for the check without another pass
          val df = Curation.pipelinePack(docs, emb)
          result = df.collect().toSeq
          schema = df.schema
          hashes += Harness.rowsHash(result)
        }
      }
      passMs += c.tracer.now() - t0
      c.span("check") { CorpusCache.releaseAll(blocking = true) }
      c.heap.checkpoint()
    }
    if (hashes.size != 1) {
      c.failed += 1
      c.errors += s"pack: ${hashes.size} distinct result hashes over ${passMs.size} passes"
    }
    c.span("check") {
      if (schema != null)
        c.spark.createDataFrame(result.asJava, schema).coalesce(1).write.mode("overwrite")
          .parquet(a.out.resolve("pack.parquet").toString)
      Dedup.minhashBandKeys(docs).write.mode("overwrite")
        .parquet(a.out.resolve(".aux/minhash_bands").toString)
      Dedup.minhashShingles(docs).write.mode("overwrite")
        .parquet(a.out.resolve(".aux/minhash_shingles").toString)
      CorpusCache.releaseAll(blocking = true)
    }
    val nDocs = docs.count()
    // the first pass also compiles every plan and warms the JIT
    val packMs = Stats.median(passMs.tail.toSeq)
    c.metric("pack_s", packMs / 1000.0, "s")
    c.metric("pack_first_s", passMs.head / 1000.0, "s")
    c.metric("pack_docs_per_s", nDocs / (packMs / 1000.0), "1/s")
    c.info("pack_pass_ms") = passMs.toSeq
    c.info("pack_rows") = result.size
    c.info("pack_input") = Map("docs" -> nDocs, "vectors" -> emb.count())
  }

  override def traceLayers(): Unit = {
    val spans = c.tracer.spans
    val passIds = spans.filter(_.name == "pack.pass").flatMap(Tracer.subtree(_, spans))
      .map(_.id).toSet
    val jobs = c.probe.allJobs.filter(j => passIds(j.span))
    val passes = spans.count(_.name == "pack.pass").max(1)
    val byModule = jobs.groupBy(j => Probe.module(j.site))
    CorpusPack.Modules.foreach { m =>
      val js = byModule.getOrElse(m, Nil)
      val k = c.probe.counters(js)
      c.layerMetric(s"corpus.$m.jobs", js.size.toDouble / passes, "count")
      c.layerMetric(s"corpus.$m.wall_ms",
        Intervals.union(Probe.intervals(js, js.map(_.submit).maxOption.getOrElse(0L))).toDouble / passes, "ms")
      c.layerMetric(s"corpus.$m.exec_ms", k.runMs.toDouble / passes, "ms")
      c.layerMetric(s"corpus.$m.shuffle_bytes", k.shuffleWrite.toDouble / passes, "bytes")
    }
    val others = byModule.filter { case (m, _) => !CorpusPack.Modules.contains(m) }.values.flatten.toSeq
    val ko = c.probe.counters(others)
    c.layerMetric("corpus.other.jobs", others.size.toDouble / passes, "count")
    c.layerMetric("corpus.other.exec_ms", ko.runMs.toDouble / passes, "ms")
    c.info("corpus_modules") = byModule.map { case (m, js) => m -> js.size }
    c.layerMetric("corpus.overlap_ms",
      Intervals.coveredAtLeast(Probe.intervals(jobs, 0L), 2).toDouble / passes, "ms")
    // untimed: near-dup pairs kept per distinct band-collision candidate
    c.span("check") {
      val pairs = Dedup.minhashPairs(docs).count()
      val bk = Dedup.minhashBandKeys(docs)
      val cand = bk.as("x").join(bk.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
      c.layerMetric("dedup.pair_yield", if (cand == 0) 0.0 else pairs.toDouble / cand, "fraction")
      CorpusCache.releaseAll(blocking = true)
    }
  }
}

object CorpusPack {
  val Modules: Seq[String] =
    Seq("Curation", "Dedup", "TextAnalysis", "CorpusCache", "Sampling", "Packing", "action")
}
