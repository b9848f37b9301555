package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans for the traced run. A span has an id, the id of the
  * op it belongs to, a layer, a name, a parent and start/end times, plus
  * the Spark counters ([[Probe]]) read at both boundaries. With tracing
  * off, [[span]] only runs its body.
  *
  * The client is one thread, so a plain stack tracks nesting.
  */
object Trace {
  final case class Span(id: Int, op: Long, layer: String, name: String,
                        parent: Int, start: Long, end: Long,
                        counters: Array[Long]) {
    def durNs: Long = end - start
  }

  @volatile var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Long, Array[Long])]
  private var nextId = 0
  private var op = 0L
  /** Time spent reading counters and draining the bus. */
  var bookkeepingNs = 0L

  /** Start a new op: spans opened until the next call share its id. */
  def newOp(): Unit = op += 1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val before = Probe.snapshot()
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val start = System.nanoTime()
      bookkeepingNs += start - b0
      stack = (id, start, before) :: stack
      try body
      finally {
        val end = System.nanoTime()
        val after = Probe.snapshot()
        stack = stack.tail
        spans += Span(id, op, layer, name, parent, start, end,
          Array.tabulate(Probe.N)(i => after(i) - before(i)))
        bookkeepingNs += System.nanoTime() - end
      }
    }

  /** Per-span self values: a span's own duration and counters minus
    * those of its direct children.
    */
  def selfOf: Map[Int, (Long, Array[Long])] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil)
      val ns = s.durNs - ch.map(_.durNs).sum
      val cs = Array.tabulate(Probe.N)(i => s.counters(i) - ch.map(_.counters(i)).sum)
      s.id -> (ns, cs)
    }.toMap
  }

  /** Self time and counters summed per layer. */
  def byLayer: Map[String, (Long, Array[Long])] = {
    val self = selfOf
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> (ss.map(s => self(s.id)._1).sum,
        Array.tabulate(Probe.N)(i => ss.map(s => self(s.id)._2(i)).sum))
    }
  }

  /** Spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"op":${s.op},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
        s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""counters":[${s.counters.mkString(",")}]}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
