package graftbench

import scala.collection.mutable

/** One timed interval. `op` is the workload operation the span belongs
  * to (0 = outside any operation: set-up, warmup, checks); `parent` is
  * the span that was active when this one started (0 = root).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startNs: Long, endNs: Long)

/** In-memory span recorder and per-operation counters for the traced
  * run. Every span is opened by the benchmark's own code around a call
  * into one graft layer; nothing inside graft is instrumented.
  *
  * The workloads run one client thread, so one active span, restored
  * when a span ends, is enough. Calls that graft fans out to pool threads (parallel manifest
  * loads) attach to whatever span is active on the client thread; their
  * intervals may overlap, which [[selfTimes]] handles by taking the
  * union of child intervals.
  *
  * With tracing off every entry point is a plain call: no spans, no
  * counters, no listeners.
  */
object Trace {
  @volatile var on: Boolean = false

  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.Map[(Int, String), Double]()
  private var nextId = 0
  @volatile private var currentOp = 0
  @volatile private var currentSpan = 0

  /** Hook run whenever the active span changes (the Spark collectors
    * use it to tag jobs with the span that launched them).
    */
  @volatile var onActive: (Int, Int) => Unit = (_, _) => ()

  def op: Int = currentOp
  def activeSpan: Int = currentSpan

  /** Runs `f` as workload operation `opId`, inside a root span. */
  def operation[T](opId: Int, kind: String)(f: => T): T =
    if (!on) f
    else {
      currentOp = opId
      try span(s"op.$kind", "bench")(f)
      finally currentOp = 0
    }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!on) f
    else {
      val id = newId()
      val parent = currentSpan
      val start = System.nanoTime()
      currentSpan = id
      onActive(currentOp, id)
      try f
      finally {
        record(Span(id, parent, currentOp, name, layer, start, System.nanoTime()))
        currentSpan = parent
        onActive(currentOp, parent)
      }
    }

  /** Records a finished interval measured elsewhere (a FileIO call on
    * any thread, a Spark job from the listener bus).
    */
  def record(s: Span): Unit = synchronized { spans += s }

  def newId(): Int = synchronized { nextId += 1; nextId }

  def count(name: String, v: Double = 1.0, opId: Int = currentOp): Unit =
    if (on) synchronized {
      counters((opId, name)) = counters.getOrElse((opId, name), 0.0) + v
    }

  def allSpans: Vector[Span] = synchronized(spans.toVector)

  /** Total of counter `name` over the given operations. */
  def total(name: String, ops: Set[Int]): Double = synchronized {
    counters.iterator.collect {
      case ((o, n), v) if n == name && ops.contains(o) => v
    }.sum
  }

  /** Self time per layer, in nanoseconds, over spans of the given
    * operations: each span's duration minus the part of it that its
    * children cover.
    */
  def selfTimes(ops: Set[Int]): Map[String, Long] = {
    val ss = allSpans.filter(s => ops.contains(s.op))
    val children = ss.groupBy(_.parent)
    ss.groupMapReduce(_.layer) { s =>
      val kids = children.getOrElse(s.id, Vector.empty)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (s.endNs - s.startNs) - covered
    }(_ + _)
  }

  /** Spans as JSON lines, for the trace file written at the end. */
  def dumpJsonLines(out: java.io.Writer): Unit = allSpans.foreach { s =>
    out.write(f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
      s""""name":"${s.name}","layer":"${s.layer}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n")
  }
}
