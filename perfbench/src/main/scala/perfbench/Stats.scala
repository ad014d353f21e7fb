package perfbench

import java.security.MessageDigest

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  /** Samples strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(p / 100.0 * n).toInt.max(1).min(n)

  /** The highest of the usual reporting percentiles that still leaves at
    * least ten samples beyond it, or None when even p50 does not. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.0, 95.0, 90.0, 75.0, 50.0).find(p => beyond(n, p) >= 10)

  def sha256(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Order-independent digest of a row set (rows rendered as strings). */
  def rowsDigest(rows: Iterable[String]): String = sha256(rows.toSeq.sorted.iterator)

  /** SplitMix64: derives independent stream seeds from (seed, stream). */
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Minimal JSON rendering for the result lines (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
