package perfbench

/** Workload `corpus_ann`: the engine's training-data side in one run —
  * raw documents to packed sequences ([[CorpusPack]]), then an IVF-PQ
  * index build and serving ([[AnnIvfPq]]). Each half gets half of the
  * measured seconds. */
final class CorpusAnn(c: Ctx) extends Workload {
  private val pack = new CorpusPack(c)
  private val ann = new AnnIvfPq(c)

  def setup(): Unit = { pack.setup(); ann.setup() }

  def run(): Unit = {
    pack.run()
    ann.run()
    // the generic end-to-end names (see README.md)
    def v(k: String) = c.e2e(k)._1
    c.metric("build_s", v("ann_build_s"), "s")
    c.metric("op_p50_ms", v("ann_batch_p50_ms"), "ms")
    c.metric("ops_per_s", v("pack_docs_per_s"), "1/s")
  }

  override def traceLayers(): Unit = { pack.traceLayers(); ann.traceLayers() }
}
