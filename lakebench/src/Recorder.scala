package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One completed operation: its type, wall time, and whether it ran
  * with tracing on.
  */
final case class Sample(op: String, ms: Double, traced: Boolean)

/** Times operations and counts attempts and failures. With tracing on,
  * each operation opens a span and binds it to its thread, so the Spark
  * jobs and commit-store calls it causes become its children.
  */
final class Recorder(trace: Trace) {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  @volatile var keep = true
  private val samples = new ConcurrentLinkedQueue[Sample]()
  private val composites = new ConcurrentLinkedQueue[Sample]()

  def op[A](name: String)(body: => A): A = {
    val traced = trace.enabled
    val id = if (traced) trace.newId() else 0L
    if (traced) trace.bind(id)
    attempted.incrementAndGet()
    val t0 = Clock.nowMs
    val n0 = System.nanoTime()
    try {
      val a = body
      val ms = (System.nanoTime() - n0) / 1e6
      if (keep) {
        samples.add(Sample(name, ms, traced))
        if (traced) trace.recordOp(Span(id, 0, "op", name, t0, Clock.nowMs))
      }
      a
    } catch {
      case NonFatal(e) =>
        failed.incrementAndGet()
        System.err.println(s"lakebench: $name failed: $e")
        throw e
    } finally if (traced) trace.bind(0)
  }

  /** Time a group of operations as one user-visible step (not an op). */
  def composite[A](name: String)(body: => A): A = {
    val n0 = System.nanoTime()
    val a = body
    if (keep) composites.add(
      Sample(name, (System.nanoTime() - n0) / 1e6, trace.enabled))
    a
  }

  /** Record the outcome of an output check (outside every timer). */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      System.err.println(s"lakebench: check $name failed $detail")
    }
    ok
  }

  def all: Seq[Sample] = samples.asScala.toSeq
  def steps: Seq[Sample] = composites.asScala.toSeq
}

object Stats {
  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
