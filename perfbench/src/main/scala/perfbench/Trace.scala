package perfbench

import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch microseconds: millisecond epoch base plus a
  * nanosecond monotonic offset, so spans are precise and still comparable
  * with the millisecond event times Spark's listener bus reports.
  */
object Clock {
  private val baseMs   = System.currentTimeMillis()
  private val baseNano = System.nanoTime()
  def us: Long = baseMs * 1000L + (System.nanoTime() - baseNano) / 1000L
}

/** One traced interval. `op` is shared by every span of one query or
  * MapReduce job (0 outside any); `parent` is the enclosing span's id.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)

/** In-memory span recorder, written out once when the run ends. Disabled,
  * it only runs the body: the untraced run pays nothing per call.
  */
final class Tracer(val enabled: Boolean) {
  val spans            = ArrayBuffer[Span]()
  private var nextId   = 0
  private var stack    = List.empty[Int]

  def span[T](name: String, op: Int = 0)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id     = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.us
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, Clock.us)
      }
    }
}
