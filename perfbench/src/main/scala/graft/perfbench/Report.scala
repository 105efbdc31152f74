package graft.perfbench

import scala.collection.mutable

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full precision, locale-independent; never NaN or infinite in output. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    java.lang.Double.toString(v)
  }
}

object Stats {
  /** Nearest-rank percentile of a non-empty sample. */
  def pctl(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** The run's result: named metrics with units, operations attempted and
  * failed, and the correctness verdict. Printed as the last stdout line.
  */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Unit of every metric reported so far. */
  def units: Map[String, String] = metrics.map { case (k, (_, u)) => k -> u }.toMap

  /** Records a correctness check; a false `ok` makes the run incorrect. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }

  def correct: Boolean = failures.isEmpty && failed == 0

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}
