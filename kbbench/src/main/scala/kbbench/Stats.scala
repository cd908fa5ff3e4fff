package kbbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** 1-based nearest rank of percentile p (0..100) among n samples; the
    * epsilon keeps p·n/100 that is whole in exact arithmetic from rounding
    * up (99.9 % of 10 000 is rank 9 990, not 9 991).
    */
  def rank(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Nearest-rank percentile (p in 0..100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(math.max(rank(p, s.length), 1), s.length) - 1)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail percentiles the benchmark may report, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile of [[TailLadder]] that has at least ten samples
    * beyond it, or None when there are too few samples for any.
    */
  def tailPercentile(n: Int): Option[Double] =
    TailLadder.find(p => n - rank(p, n) >= 10)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  /** Expected value of one request drawn from a mix: the mean of each
    * kind's samples weighted by the kind's share. A run's samples then
    * weigh each kind by its share, not by how many of its requests the
    * window happened to finish. Kinds without samples are left out and
    * the other shares scaled up; NaN when there are no samples at all.
    */
  def mixMean[K](samples: Seq[(K, Double)], shares: Map[K, Double]): Double = {
    val byKind = samples.groupBy(_._1)
    val seen   = shares.filter { case (k, _) => byKind.contains(k) }
    if (seen.isEmpty) Double.NaN
    else seen.map { case (k, w) => w * mean(byKind(k).map(_._2)) }.sum / seen.values.sum
  }
}

/** Operations attempted and operations that failed or returned a wrong
  * answer. Thread-safe: the search clients share one.
  */
final class Outcomes {
  private var attempted = 0L
  private var failed    = 0L
  private val notes     = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Count one operation; `problems` are the checks it failed (none = ok). */
  def record(op: String, problems: Seq[String]): Unit = synchronized {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (notes.length < 20) notes += s"$op: ${problems.mkString("; ")}"
    }
  }

  /** An operation that threw. */
  def error(op: String, e: Throwable): Unit = record(op, Seq(s"error ${e.getClass.getSimpleName}: ${e.getMessage}"))

  def attemptedCount: Long = synchronized(attempted)
  def failedCount: Long    = synchronized(failed)
  def failedShare: Double  = synchronized(if (attempted == 0) 0.0 else failed.toDouble / attempted)
  def firstProblems: Seq[String] = synchronized(notes.toList)
}
