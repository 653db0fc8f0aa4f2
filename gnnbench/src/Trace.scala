package gnnbench

import scala.collection.mutable

/** Benchmark-side spans. A span is opened around one call into the
  * engine from this package; nothing inside the engine is instrumented.
  * Spans stay in memory and are written out once, when the run ends.
  * Off (the untraced run), `span` is a plain call. */
final class Trace(var on: Boolean) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0) // 0 = the run span
  private var nextId = 1
  val t0: Long = System.nanoTime()

  def span[A](name: String, op: String = "")(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, op, s, System.nanoTime())
      }
    }

  /** Records an interval measured elsewhere (a micro-batch, from its
    * progress event) under the currently open span. */
  def record(name: String, op: String, startNs: Long, endNs: Long): Unit =
    if (on) {
      spans += Span(nextId, stack.head, name, op, startNs, endNs)
      nextId += 1
    }

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it its children cover, summed over spans of that name. */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { sp =>
        val covered = kids.getOrElse(sp.id, Nil).map { c =>
          math.max(0L, math.min(c.endNs, sp.endNs) - math.max(c.startNs, sp.startNs))
        }.sum
        (sp.endNs - sp.startNs - covered) / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path, endNs: Long): Unit = {
    val all = Span(0, -1, "run", "", t0, endNs) +: spans.sortBy(_.startNs).toSeq
    val lines = all.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, op: String,
      startNs: Long, endNs: Long)
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => require(!d.isNaN && !d.isInfinite, s"non-finite metric $d"); d.toString
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: Map[_, _] @unchecked => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case o => throw new IllegalArgumentException(s"cannot encode $o")
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

/** Quantiles with linear interpolation between order statistics. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
