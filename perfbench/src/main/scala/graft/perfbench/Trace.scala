package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** In-memory spans and counters, written out once when the run ends.
  *
  * A span is (name, start, end, parent, run id); the harness opens one
  * around each call it makes into a layer of the program. When tracing is
  * off, spans still time their body (the harness needs the walls) but are
  * not kept, and counters are dropped.
  */
final class Trace(val runId: String, val enabled: Boolean) {
  import Trace.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val nextId = new AtomicInteger(0)
  /** Time spent inside the harness's own listener callbacks. */
  val listenerNs = new AtomicLong(0)

  /** Runs `body` inside a span and returns its result and wall seconds. */
  def span[A](name: String, parent: Int = 0)(body: Int => A): (A, Double) = {
    val id = nextId.incrementAndGet()
    val t0 = System.nanoTime()
    val out = body(id)
    val t1 = System.nanoTime()
    if (enabled) spans.add(Span(id, parent, name, t0, t1))
    (out, (t1 - t0) / 1e9)
  }

  def count(name: String, delta: Long): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(delta): Unit

  /** Spans as JSON lines, then one line holding the counters. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.forEach { s =>
      sb ++= s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    val cs = new java.util.TreeMap[String, AtomicLong](counters)
    sb ++= cs.entrySet().toArray.map { e =>
      val en = e.asInstanceOf[java.util.Map.Entry[String, AtomicLong]]
      s"${Json.str(en.getKey)}:${en.getValue.get}"
    }.mkString(s"""{"run":${Json.str(runId)},"counters":{""", ",", "}}\n")
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Minimal JSON rendering for the harness's flat records. */
object Json {
  def str(s: String): String = graft.util.Json.quote(s)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
