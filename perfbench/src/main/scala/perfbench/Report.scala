package perfbench

/** JSON text and order statistics for the benchmark's printed record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision number; non-finite values have no JSON form. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.math.BigDecimal.valueOf(v).toPlainString
  }
}

object Stats {
  /** Geometric mean of a non-empty sample of positive values: the
    * aggregate of unlike step times that weighs each step's relative
    * change equally (as the TPC-H power test does). */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** One printed metric: `[perfbench] metric <name> <value> <unit>`. */
final case class Metric(name: String, value: Double, unit: String) {
  def line: String = s"[perfbench] metric $name ${Json.num(value)} $unit"
  def json: String = s"${Json.str(name)}:{\"value\":${Json.num(value)},\"unit\":${Json.str(unit)}}"
}

object Metric {
  private val Line = """\[perfbench\] metric ([A-Za-z0-9][A-Za-z0-9_.-]{0,63}) (-?[0-9]+(?:\.[0-9]+)?) ([A-Za-z0-9_/%.-]{1,16})""".r

  /** Parses a printed metric line back; None if it is malformed. */
  def parse(line: String): Option[Metric] = line match {
    case Line(n, v, u) => Some(Metric(n, v.toDouble, u))
    case _ => None
  }

  /** The result record: the last line of standard output. */
  def record(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      metrics.map(_.json).mkString("\"metrics\":{", ",", "}}")
}
