package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval, in `System.nanoTime` units. `parent` is 0 at the root.
  * The layer is the name's first dotted component (`kernel.pdf_parse` →
  * `kernel`; listener stages are `spark.stage`). */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int,
                      runId: String) {
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for a traced run. Spans open and close on the
  * thread that submits the Spark jobs, around each call into a layer; the
  * Spark listener adds stage spans from its own thread, parented to the span
  * that submitted them. Nothing is written until the run ends. A disabled tracer only runs
  * the bodies, so untraced runs pay one branch per call. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val closed = ArrayBuffer[Span]()
  private var nextId = 1
  @volatile private var openId = 0
  /** When set, each span is also published as a job-local property, so the
    * listener parents the stages a span submits to that span. */
  @volatile var sc: org.apache.spark.SparkContext = null
  /** nanoTime − epoch-ns, to place listener (epoch-ms) times on the span clock. */
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = openId
      openId = id
      publish(id)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        openId = parent
        publish(parent)
        synchronized { closed += Span(id, name, start, end, parent, runId) }
      }
    }

  private def publish(id: Int): Unit = {
    val c = sc
    if (c != null) c.setLocalProperty(StageListener.SpanKey, if (id == 0) null else id.toString)
  }

  /** Adds a finished span measured elsewhere (epoch milliseconds). */
  def recordEpochMs(name: String, startMs: Long, endMs: Long, parent: Int): Unit =
    if (enabled) synchronized {
      closed += Span(nextId, name, startMs * 1000000L + clockOffsetNs,
        endMs * 1000000L + clockOffsetNs, parent, runId)
      nextId += 1
    }

  def spans: Vector[Span] = synchronized(closed.toVector)

  /** Self time per layer: each span's duration minus the part of it that its
    * children cover (children may overlap one another, e.g. parallel stages). */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.iterator.map(s =>
        (s.end - s.start) - covered(s, kids.getOrElse(s.id, Vector.empty))).sum / 1e9
    }
  }

  private def covered(s: Span, children: Seq[Span]): Long = {
    val clipped = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var lo = 0L
    var hi = -1L
    for ((a, b) <- clipped) {
      if (hi < lo || a > hi) { if (hi >= lo) total += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi >= lo) total += hi - lo
    total
  }

  def writeJsonLines(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "run" -> s.runId)))
    } finally w.close()
  }
}
