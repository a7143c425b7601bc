package perfbench

import scala.collection.mutable

/** Timed operations of one run, by kind. Traced and untraced samples
  * are kept apart: end-to-end figures use untraced samples only, and
  * their difference is the tracing overhead. */
final class Recorder {
  final case class Sample(kind: String, ms: Double, traced: Boolean)
  val samples = mutable.ArrayBuffer.empty[Sample]
  private var t0 = 0L
  private var t1 = 0L
  /** Operations attempted, warm-up included; one more for the end checks. */
  var attempted = 0

  def startClock(): Unit = t0 = System.nanoTime()
  def stopClock(): Unit = t1 = System.nanoTime()
  def wallS: Double = (t1 - t0) / 1e9
  /** Time the client spent inside untraced timed operations — the
    * closed loop's busy time, without the checks between operations. */
  def busyS: Double = samples.filterNot(_.traced).map(_.ms).sum / 1000

  def add(kind: String, ms: Double, traced: Boolean): Unit =
    samples += Sample(kind, ms, traced)

  def kinds: Seq[String] = samples.map(_.kind).distinct.toSeq
  def of(kind: String, traced: Boolean): Seq[Double] =
    samples.filter(s => s.kind == kind && s.traced == traced).map(_.ms).toSeq
  def p50(kind: String, traced: Boolean = false): Double = Stats.median(of(kind, traced))

  /** Geometric mean of the timed operations' latencies (ms). The timed
    * loop runs whole cycles of a fixed mix, so every operation of the
    * mix has as many samples as any other and weighs the same. (Pooled
    * by kind, a median would flip between two humps — on `tables` the
    * append after the trigger sets off an auto-compaction and the one
    * after the time-travel read does not — and a median of a few
    * samples from the JIT's falling curve is noisier than their mean.) */
  def opMs(traced: Boolean): Double = {
    val xs = samples.filter(_.traced == traced).map(_.ms)
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Traced minus untraced `opMs`; traced runs alternate whole cycles
    * traced and untraced, so both cover the same mix. */
  def tracingOverheadMs: Double = opMs(traced = true) - opMs(traced = false)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Output checks. A failed check marks the operation it belongs to as
  * failed; an exception inside an operation does the same. */
final class Checks {
  private val failedOps = mutable.LinkedHashSet.empty[Int]
  val messages = mutable.ArrayBuffer.empty[String]
  var currentOp = 0

  def expect(ok: Boolean, msg: => String): Unit =
    if (!ok) fail(msg)

  def fail(msg: String): Unit = {
    failedOps += currentOp
    if (messages.size < 50) messages += s"op $currentOp: $msg"
  }

  def failed: Int = failedOps.size
}
