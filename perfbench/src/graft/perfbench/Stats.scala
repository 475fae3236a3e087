package graft.perfbench

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest sample that still has at least ten samples above it, with
    * its percentile; when fewer than eleven samples exist no such sample
    * does, and the maximum stands in (percentile 100). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n >= 11) (s(n - 11), 100.0 * (n - 10) / n) else (s.last, 100.0)
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Samples of one end-to-end timing, reported as median + tail + count. */
final class Samples(val name: String) {
  val xs = scala.collection.mutable.ArrayBuffer[Double]()
  def add(x: Double): Unit = xs += x
  def median: Double = Stats.median(xs.toSeq)
  def describe(unit: String): String =
    f"$name%-22s median ${median}%.4f $unit  (n=${xs.size}: ${xs.map(x => f"$x%.3f").mkString(" ")})"
  def describeTail(tailName: String, unit: String): String = {
    val (t, p) = Stats.tail(xs.toSeq)
    f"$tailName%-22s p${p}%.0f ${t}%.4f $unit  (n=${xs.size})"
  }
}
