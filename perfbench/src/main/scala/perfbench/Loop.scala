package perfbench

import scala.collection.mutable.ArrayBuffer

/** One attempted operation: its wall time and whether it succeeded. */
final case class Outcome(kind: String, name: String, seconds: Double, ok: Boolean)

/** The single-client closed loop's record. An op that throws, or whose
  * output check fails, counts as attempted and failed and never becomes
  * a latency sample: a broken op must not read as a fast one. */
final class Samples {
  val outcomes = ArrayBuffer[Outcome]()

  /** Times `op` (which runs its own output check and throws on a
    * mismatch) and records the outcome. */
  def run(kind: String, name: String)(op: => Unit): Outcome = {
    val t0 = System.nanoTime()
    val err = try { op; None } catch { case e: Throwable => Some(e) }
    val o = Outcome(kind, name, (System.nanoTime() - t0) / 1e9, err.isEmpty)
    System.err.println(f"[perfbench] $kind $name ${o.seconds}%.3f s" +
      err.map(e => s" failed: $e").getOrElse(""))
    outcomes += o
    o
  }

  def attempted: Int = outcomes.size
  def failed: Int = outcomes.count(!_.ok)

  /** Latencies of the successful ops of one kind. */
  def latencies(kind: String): Seq[Double] =
    outcomes.collect { case o if o.ok && o.kind == kind => o.seconds }.toSeq
}

object Stats {
  /** Linear-interpolated quantile (numpy's default, and the one
    * `statistics.quantiles(..., method='inclusive')` uses). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
