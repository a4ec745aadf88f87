package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** One span: a named interval at a layer boundary, linked to the span
  * that caused it. Times are microseconds since the run's clock base. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startUs: Double, endUs: Double)

/** In-memory span recorder. Spans are only kept while `on`; they are
  * written out once, when the run ends. Harness spans use the monotonic
  * clock; scheduler spans (jobs, stages) arrive as epoch milliseconds
  * and are mapped onto the same base. */
final class Trace {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var on: Boolean = false

  def nowUs: Double = (System.nanoTime() - baseNs) / 1e3
  def nsToUs(ns: Long): Double = (ns - baseNs) / 1e3
  def epochMsToUs(ms: Long): Double = (ms - baseEpochMs) * 1e3

  def newId(): Int = ids.incrementAndGet()

  def add(id: Int, parent: Int, kind: String, name: String,
          startUs: Double, endUs: Double, always: Boolean = false): Unit =
    if (on || always) spans.add(Span(id, parent, kind, name, startUs, endUs))

  /** Run `body` as a span of `kind`; `body` receives the span's id so it
    * can parent its own children. */
  def span[T](parent: Int, kind: String, name: String)(body: Int => T): T = {
    val id = newId()
    val t0 = nowUs
    try body(id) finally add(id, parent, kind, name, t0, nowUs)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span kind, in seconds: each span's duration minus
    * the part of its interval that its children cover. Every kind of
    * either workload is reported; one the run made no span of is 0. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    Trace.Kinds.map(_ -> 0.0).toMap ++ ss.groupBy(_.kind).map { case (kind, group) =>
      kind -> group.map { s =>
        val covered = Trace.unionLength(
          kids.getOrElse(s.id, Nil).map(c =>
            (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
        math.max(0.0, (s.endUs - s.startUs) - covered)
      }.sum / 1e6
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startUs).foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs)))
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  /** Span kinds: batch run -> pass -> operation -> {queries.fn, action}
    * -> job -> stage; serve run -> step -> request -> {queue, search}. */
  val Kinds: Seq[String] = Seq("run", "pass", "operation", "queries.fn", "action", "job",
    "stage", "step", "request", "queue", "search")

  /** Total length of a union of intervals (empty ones ignored). */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
