package perfbench

import scala.jdk.CollectionConverters._

/** Summary statistics with an explicit sample-size rule: a percentile is
  * only trusted when at least [[Stats.TailSamples]] samples lie beyond it,
  * so p90 needs 100 samples and p50 needs 20. Callers keep measuring until
  * [[Stats.enough]] holds (or a hard cap is hit) and report the count. */
object Stats {

  /** Samples required strictly beyond a percentile before it is reported
    * as steady. */
  val TailSamples = 10

  /** Minimum sample count for percentile `p` (0 < p < 1). */
  def minSamples(p: Double): Int = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    math.ceil(TailSamples / (1 - p) - 1e-9).toInt
  }

  def enough(n: Int, p: Double): Boolean = n >= minSamples(p)

  /** Linear-interpolated percentile (the R-7 / numpy default). NaN on an
    * empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** [[percentile]] when the sample supports it ([[enough]]), else NaN. */
  def trusted(xs: Seq[Double], p: Double): Double =
    if (enough(xs.size, p)) percentile(xs, p) else Double.NaN

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Operation accounting for one measured section: every attempted
  * operation either succeeds (its latency is a sample) or fails (wrong
  * answer or exception); a failure never contributes a latency. */
final class Ledger {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  private val samples =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentLinkedQueue[Double]]()
  private val failedBy = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicLong]()
  private val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Run `op` as one attempt of kind `kind`. `op` returns None when its
    * answer checked out, or Some(reason) for a wrong answer. */
  def attempt(kind: String)(op: => Option[String]): Boolean = {
    attemptedN.incrementAndGet()
    val t0 = System.nanoTime()
    val verdict =
      try op
      catch { case e: Throwable if scala.util.control.NonFatal(e) =>
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    verdict match {
      case None => record(kind, ms); true
      case Some(why) =>
        failedN.incrementAndGet()
        failedBy.computeIfAbsent(kind, _ => new java.util.concurrent.atomic.AtomicLong)
          .incrementAndGet()
        if (errors.size < 20) errors.add(s"$kind: $why")
        false
    }
  }

  def record(kind: String, ms: Double): Unit =
    samples.computeIfAbsent(kind,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]()).add(ms)

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def failedOf(kind: String): Long =
    Option(failedBy.get(kind)).map(_.get).getOrElse(0L)
  def errorLog: Seq[String] = errors.toArray(Array.empty[String]).toSeq

  def of(kind: String): Seq[Double] = {
    val q = samples.get(kind)
    if (q == null) Nil else q.asScala.toSeq
  }

  def count(kind: String): Int = of(kind).size
  def kinds: Seq[String] = {
    val it = samples.keys()
    val b = Seq.newBuilder[String]
    while (it.hasMoreElements) b += it.nextElement()
    b.result().sorted
  }
}
