package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded span. `parent` is the span whose work contains this one
  * (-1 for a root); `call` is shared by every span of one traced call.
  */
final case class Span(id: Int, name: String, parent: Int, call: Int,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced pass. Spans are recorded by the
  * benchmark around its own calls into the engine; nothing inside the
  * engine is instrumented.
  *
  * Self time of a span is its duration minus the summed durations of its
  * children. For children that run inside the parent's interval this is
  * the usual interval-coverage definition. A replay span (a piece of a
  * call re-executed on its own, e.g. the candidate scan of a search) is a
  * child of the span whose work contains it, so the same subtraction
  * yields the layer's share: kernel = partials - decode, finish = search -
  * partials - prep.
  */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var curCall = -1
  private var nCalls = 0

  /** Run `f` as the root span of a new call. */
  def call[A](name: String)(f: => A): A = {
    val saved = (stack, curCall)
    stack = Nil
    curCall = nCalls
    nCalls += 1
    try span(name)(f) finally { stack = saved._1; curCall = saved._2 }
  }

  /** Run `f` as a child of the innermost open span. */
  def span[A](name: String)(f: => A): A = spanOf(name)(f)._1

  /** As [[span]], also returning the span's id. */
  def spanOf[A](name: String)(f: => A): (A, Int) = {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, curCall, System.nanoTime(), -1L)
    stack = id :: stack
    val a = try f finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
    (a, id)
  }

  /** Run `f` with span `id` as the parent of the spans it opens, without
    * extending span `id` itself: how replays attach to the call whose
    * work contains them.
    */
  def under[A](id: Int)(f: => A): A = {
    stack = id :: stack
    try f finally stack = stack.tail
  }

  /** Record an already-finished span as a child of the innermost open span
    * and return its id (build stages, whose times come from the commit
    * manifests; the fastest of repeated replays).
    */
  def record(name: String, startNs: Long, endNs: Long): Int = {
    spans += Span(spans.length, name, stack.headOption.getOrElse(-1), curCall,
      startNs, endNs)
    spans.length - 1
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time (ns) of every span, keyed by span id. */
  private def selfNs: Map[Int, Long] = {
    val childSum = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> (s.durNs - childSum.getOrElse(s.id, 0L))).toMap
  }

  /** Mean self time (ms) per call of each span name under roots named
    * `root`, plus the mean root duration (ms) and the number of calls.
    */
  def layerTable(root: String): (Seq[(String, Double)], Double, Int) = {
    val roots = spans.filter(s => s.parent < 0 && s.name == root)
    if (roots.isEmpty) return (Nil, 0.0, 0)
    val calls = roots.map(_.call).toSet
    val self = selfNs
    val inCalls = spans.filter(s => calls.contains(s.call) && s.parent >= 0)
    val names = inCalls.map(_.name).distinct
    val n = roots.size
    val rows = names.map { nm =>
      nm -> inCalls.filter(_.name == nm).map(s => self(s.id)).sum / 1e6 / n
    }
    (rows.toSeq, roots.map(_.durNs).sum / 1e6 / n, n)
  }

  def toJson: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"call":${s.call},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
