package perfbench

import scala.collection.mutable.ArrayBuffer

final case class Span(id: Int, parent: Int, trace: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory spans: name, start, end, parent, trace id. With tracing off
  * [[span]] only times its body; with it on, each call is kept and
  * [[write]] dumps them as JSON lines when the run ends. */
final class Tracer(val enabled: Boolean) {

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var traceId = 0

  /** Start a new trace: the spans of one operation share its id. */
  def newTrace(): Unit = traceId += 1

  /** Run `body` as a span; returns its result and its seconds. */
  def span[A](name: String)(body: => A): (A, Double) = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    val r = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    if (enabled) spans += Span(id, parent, traceId, name, t0, t1)
    (r, (t1 - t0) / 1e9)
  }

  /** Self seconds of every recorded span: its duration minus the part
    * its direct children cover. */
  private def selfSeconds: Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).view
      .mapValues(_.map(_.seconds).sum).toMap
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  def write(path: String): Unit = {
    val self = selfSeconds
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.render(Map("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_s" -> self(s.id))))
    } finally w.close()
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case '\r' => b ++= "\\r"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
