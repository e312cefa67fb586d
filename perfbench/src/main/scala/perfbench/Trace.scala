package perfbench

import scala.collection.mutable

/** One timed interval of the benchmark client, in epoch microseconds.
  * `layer` is an engine module name for a call into that module, or
  * [[Trace.BenchLayer]] for the benchmark's own pass and step spans. */
final case class Span(id: Int, name: String, layer: String, parent: Int, pass: Int,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
  def toJson: String =
    s"""{"id":$id,"name":"${Json.esc(name)}","layer":"$layer","parent":$parent,""" +
      s""""pass":$pass,"start_us":$startUs,"end_us":$endUs}"""
}

/** Span arithmetic: interval unions, self time and time-window owner
  * lookup. Pure functions, so the self-tests can pin them. */
object Trace {
  val BenchLayer = "bench"

  /** Length of the union of `ivs`, each clipped to `[lo, hi]`. */
  def unionLength(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover. Children may overlap each other (spans
    * opened from worker threads); the union is subtracted once. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - unionLength(covered, s.startUs, s.endUs))
    }.toMap
  }

  /** The span a job or query started at `tMs` belongs to: the innermost
    * span open at that instant, whichever thread started the job. The
    * client is sequential, so at most one chain of spans is open; Spark
    * stamps events in whole milliseconds, so a span counts as open
    * during every millisecond it touches. Innermost = latest start. */
  def owner(spans: Seq[Span], tMs: Long): Option[Span] = {
    val open = spans.filter(s => s.startUs / 1000 <= tMs && tMs <= s.endUs / 1000)
    if (open.isEmpty) None else Some(open.maxBy(s => (s.startUs, s.id)))
  }
}

/** Order statistics for step latencies. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Each step's own median over its samples, by step name. The median
    * of these is the central step latency: pooling every sample of a
    * mixture of different steps would put the median at the seam between
    * two of them, where a small shift swings it from one to the other. */
  def perStep(samples: Seq[(String, Double)]): Seq[(String, Double)] =
    samples.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, xs) => n -> median(xs.map(_._2)) }

  /** A tail percentile, its rank and the samples beyond it. */
  final case class Tail(value: Double, percentile: Double, samples: Int, beyond: Int)

  /** Nearest-rank percentile `p` of `xs`, lowered to the highest
    * percentile that still has `minBeyond` samples above it, but never
    * below the upper median (with fewer than 2·`minBeyond` samples the
    * upper median is reported and `beyond` says how thin the tail is). */
  def tail(xs: Seq[Double], p: Double = 0.9, minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val wanted = math.ceil(p * n).toInt - 1
    val k = math.max(n / 2, math.min(wanted, n - 1 - minBeyond))
    Tail(s(k), (k + 1).toDouble / n, n, n - 1 - k)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
}

/** Mutable span recorder for the sequential client. */
final class SpanLog(clock: () => Long) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var pass: Int = 0

  def spans: Seq[Span] = done.toSeq

  def apply[T](name: String, layer: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val start = clock()
    try body
    finally {
      open = open.tail
      done += Span(id, name, layer, parent, pass, start, clock())
    }
  }
}
