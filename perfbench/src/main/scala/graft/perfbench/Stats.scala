package graft.perfbench

/** Order statistics and the result line. Pure: no Spark, no clock. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of unsorted samples,
    * the same rule as numpy's default and Python's
    * `statistics.quantiles(method="inclusive")`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median, or 0 for a layer the run did not reach. */
  def medianOrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Minimum number of samples that must lie beyond a reported tail
    * percentile: below that, the percentile is one or two samples and
    * moves with every outlier. */
  val MinTail = 10

  /** True when `n` samples leave at least [[MinTail]] of them above
    * the `p`-th percentile, i.e. `n * (100 - p) / 100 >= MinTail`. */
  def tailReportable(p: Int, n: Int): Boolean =
    p > 0 && p < 100 && n.toLong * (100 - p) >= MinTail.toLong * 100

  /** The highest of the `candidates` percentiles that `n` samples can
    * report under [[tailReportable]], if any. */
  def highestReportable(n: Int, candidates: Seq[Int] = Seq(99, 95, 90, 75, 50)): Option[Int] =
    candidates.sorted(Ordering[Int].reverse).find(tailReportable(_, n))

  /** Union length of [start, end) intervals (same unit as the input). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One metric as it goes on the result line. */
final case class Metric(value: Double, unit: String)

/** The benchmark's last stdout line: `correct`, `attempted`, `failed`
  * and the metrics, each with its unit. */
object ResultLine {

  def render(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Metric)]): String = {
    require(attempted >= 1, "a run attempts at least one statement")
    metrics.foreach { case (n, m) =>
      require(!m.value.isNaN && !m.value.isInfinite, s"metric $n is not a finite number")
    }
    Json.write(scala.collection.immutable.ListMap(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, m) =>
        n -> scala.collection.immutable.ListMap("value" -> m.value, "unit" -> m.unit)
      }: _*)))
  }
}

/** Minimal JSON writer for the shapes the benchmark emits. Doubles are
  * written with every digit `Double.toString` keeps. */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; emit(sb, v); sb.toString }

  private def emit(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb ++= "null"
    case b: Boolean => sb ++= b.toString
    case i: Int => sb ++= i.toString
    case l: Long => sb ++= l.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "JSON has no NaN or infinity")
      sb ++= d.toString
    case s: String => quote(sb, s)
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb ++= ", "
        first = false
        quote(sb, String.valueOf(k)); sb ++= ": "; emit(sb, x)
      }
      sb += '}'
    case s: Iterable[_] =>
      sb += '['
      var first = true
      s.foreach { x => if (!first) sb ++= ", "; first = false; emit(sb, x) }
      sb += ']'
    case other => quote(sb, String.valueOf(other))
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
