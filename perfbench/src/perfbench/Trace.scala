package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `parent` is 0 for an operation's
  * root span; `op` is the operation the span belongs to. */
final case class Span(id: Int, name: String, op: Long, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder; spans are written out once, at the end of a run.
  *
  * The open-span stack is shared by all threads: the benchmark drives one
  * client in a closed loop, so while the main thread waits in
  * `processAllAvailable` the stream thread's `foreachBatch` spans nest under
  * the waiting span, which is the causal parent. Disabled tracers run the
  * body and record nothing. */
final class Tracer(@volatile var enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  @volatile private var op = 0L

  def currentOp: Long = op
  def setOp(id: Long): Unit = op = id

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = nextId
        nextId += 1
        val parent = open.headOption.getOrElse(0)
        open = id :: open
        (id, parent)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          open = open.filterNot(_ == id)
          done += Span(id, name, op, parent, t0, t1)
        }
      }
    }

  def spans: Seq[Span] = synchronized(done.toList)
}

object Trace {
  /** Self time of every span: its duration minus its children's. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Self time summed per layer (the span-name prefix before the first dot). */
  def layerSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfSeconds(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Spans that break nesting: a child outside its parent's interval, or two
    * siblings that overlap. With none, every span's self time plus its
    * children's time equals its wall time and no time is counted twice. */
  def violations(spans: Seq[Span]): Int = {
    val byId = spans.map(s => s.id -> s).toMap
    val outside = spans.count { s =>
      byId.get(s.parent).exists(p => s.startNs < p.startNs || s.endNs > p.endNs)
    }
    val overlapping = spans.filter(_.parent != 0).groupBy(_.parent).values.map { cs =>
      cs.sortBy(_.startNs).sliding(2).count {
        case Seq(a, b) => b.startNs < a.endNs
        case _ => false
      }
    }.sum
    outside + overlapping
  }

  def toJson(spans: Seq[Span], t0Ns: Long): Seq[Map[String, Any]] = {
    val self = selfSeconds(spans)
    spans.sortBy(_.startNs).map { s =>
      Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0Ns) / 1e9, "end_s" -> (s.endNs - t0Ns) / 1e9,
        "self_s" -> self(s.id))
    }
  }
}
