package perfbench

import scala.collection.mutable.ArrayBuffer

/** Interval arithmetic over `[start, end)` pairs in one time unit. */
object Intervals {

  /** Total length covered by the union of `iv`. */
  def union(iv: Seq[(Long, Long)]): Long = coveredAtLeast(iv, 1)

  /** Total length during which at least `k` intervals are open. */
  def coveredAtLeast(iv: Seq[(Long, Long)], k: Int): Long = {
    val edges = iv.filter { case (s, e) => e > s }
      .flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      // at equal times close before open: touching intervals do not overlap
      .sortBy { case (t, d) => (t, d) }
    var open = 0
    var last = 0L
    var total = 0L
    edges.foreach { case (t, d) =>
      if (open >= k) total += t - last
      open += d
      last = t
    }
    total
  }

  /** `iv` clipped to `[lo, hi)`, empty pieces dropped. */
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
}

/** One timed region. Times are epoch milliseconds with a fractional
  * part taken from the monotonic clock, so spans nest exactly and can
  * be compared with the listener bus's millisecond job times.
  *
  * @param op shared by every span of one operation (a pass, a batch)
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Records spans in memory; written out when the run ends.
  *
  * Spans are recorded in both modes (the untraced run needs its own
  * timings); `tag` tells the caller which span is active so the traced
  * run can label the Spark jobs submitted inside it.
  */
final class Tracer {
  private val origin = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }
  private var nextId = 0

  /** Wall clock in epoch ms, monotonic within the run. */
  def now(): Double = origin + (System.nanoTime() - originNs) / 1e6

  /** Runs `body` as span `name`; `onEnter(id)` / `onExit` run at the
    * boundaries (the probe labels jobs there). */
  def span[T](name: String, newOp: Boolean = false)(body: => T)
      (implicit hooks: Tracer.Hooks = Tracer.NoHooks): T = {
    val id = synchronized { nextId += 1; nextId }
    val outer = stack.get()
    val parent = outer.headOption.map(_._1).getOrElse(0)
    val op = if (newOp || outer.isEmpty) id else outer.head._2
    stack.set((id, op) :: outer)
    hooks.enter(id)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      stack.set(outer)
      hooks.exit(parent)
      synchronized { done += Span(id, name, parent, op, t0, t1) }
    }
  }

  def spans: Seq[Span] = synchronized(done.sortBy(_.id).toSeq)
}

object Tracer {
  trait Hooks {
    def enter(spanId: Int): Unit
    def exit(parentId: Int): Unit
  }
  object NoHooks extends Hooks {
    def enter(spanId: Int): Unit = ()
    def exit(parentId: Int): Unit = ()
  }

  /** A span's duration minus the part covered by its direct children. */
  def selfTime(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => ((k.start * 1000).toLong, (k.end * 1000).toLong))
    val covered = Intervals.union(
      Intervals.clip(kids, (s.start * 1000).toLong, (s.end * 1000).toLong))
    s.ms - covered / 1000.0
  }

  /** `s` and every span below it. */
  def subtree(s: Span, all: Seq[Span]): Seq[Span] = {
    val kids = all.filter(_.parent == s.id)
    s +: kids.flatMap(subtree(_, all))
  }
}

/** Order statistics used throughout the record. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val v = xs.sorted
      // linear interpolation between closest ranks
      val pos = q * (v.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
