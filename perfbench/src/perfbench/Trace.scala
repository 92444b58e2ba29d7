package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is (op id, span id,
  * parent span id, name, start ns, end ns); spans nest by call order on the
  * one client thread. Nothing is written until the run ends. When disabled,
  * `span` is a plain call. */
final class Trace(val enabled: Boolean) {

  final case class Span(op: Long, id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1L

  def beginOp(id: Long): Unit = { op = id; stack = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(op, id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq
}
