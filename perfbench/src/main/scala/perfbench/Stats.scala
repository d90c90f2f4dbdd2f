package perfbench

/** Order statistics and the seeded key popularity used by every workload. */
object Stats {

  /** Percentile with linear interpolation between closest ranks
    * (Hyndman–Fan type 7, numpy's default); `q` is in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    val s = xs.toArray.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The highest of p99/p90/p75/p50 that has at least `minBeyond`
    * samples above it, as (label, value). */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (String, Double) = {
    val n = xs.size
    val q = Seq(0.99, 0.9, 0.75).find(q => n * (1 - q) >= minBeyond - 1e-9).getOrElse(0.5)
    (f"p${(q * 100).round}%d", percentile(xs, q))
  }
}

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF from a uniform. */
final class Zipf(n: Int, s: Double) {
  require(n > 0)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }

  def sample(u: Double): Int = {
    var lo = 0; var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) >= u) hi = mid else lo = mid + 1
    }
    lo
  }
}

/** Minimal JSON encoding for the result lines (no dependency beyond the JDK). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
