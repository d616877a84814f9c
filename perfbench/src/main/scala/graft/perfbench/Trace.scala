package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch microseconds; `parent` is -1 for
  * the root.
  */
final case class Span(id: Int, name: String, kind: String,
    start: Long, end: Long, parent: Int) {
  def durS: Double = (end - start) / 1e6
}

/** In-memory span recorder for the benchmark's own calls. Spark jobs and
  * stages are added afterwards from the listener, parented through the job
  * group that names the enclosing span.
  */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  // epoch anchor for the monotonic clock, so benchmark spans and Spark's
  // epoch-millisecond job times share one axis
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def current: Int = stack.headOption.getOrElse(-1)

  def span[A](name: String, kind: String)(body: => A): A = {
    val id = synchronized {
      val id = spans.length
      spans += Span(id, name, kind, nowUs, -1L, current)
      stack = id :: stack
      id
    }
    try body
    finally synchronized {
      spans(id) = spans(id).copy(end = nowUs)
      stack = stack.tail
    }
  }

  def add(name: String, kind: String, start: Long, end: Long, parent: Int): Int =
    synchronized {
      val id = spans.length
      spans += Span(id, name, kind, start, end, parent)
      id
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Trace {

  /** Self time of every span, in seconds: its duration minus the union of
    * its children's intervals clipped to it. The union (not the sum)
    * keeps concurrent children, such as parallel stages, from driving a
    * parent negative.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map { c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))
      }.filter { case (a, b) => b > a })
      s.id -> (s.end - s.start - covered) / 1e6
    }.toMap
  }

  /** Total length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** For each span of `kind`, the share of its wall covered by its direct
    * children: Σ child durations / own duration.
    */
  def childCoverage(spans: Seq[Span], kind: String): Seq[(Span, Double)] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.filter(s => s.kind == kind && s.end > s.start).map { s =>
      s -> kids.getOrElse(s.id, Nil).map(c => c.end - c.start).sum.toDouble /
        (s.end - s.start)
    }
  }

  def toJson(spans: Seq[Span], self: Map[Int, Double]): String =
    spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"kind":"${s.kind}",""" +
        s""""start_us":${s.start},"end_us":${s.end},"parent":${s.parent},""" +
        s""""self_s":${Json.num(self.getOrElse(s.id, 0.0))}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

/** The few JSON encodings the benchmark writes. */
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
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
