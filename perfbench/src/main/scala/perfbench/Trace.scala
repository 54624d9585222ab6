package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext

/** One clock for everything the harness records: epoch milliseconds with
  * sub-millisecond resolution (wall anchor + monotonic offset), so spans,
  * iterations and the listeners' epoch-ms event times share an axis. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, parent: Int, name: String, iter: Int,
    startMs: Double, var endMs: Double = Double.NaN)

/** In-memory span recorder, written out once when the run ends.
  *
  * While a span is open, the SparkContext local properties
  * `perfbench.span` / `perfbench.iter` name it, so every job (and through
  * it every stage and task) the listeners see is attributed to the
  * innermost open span. When disabled, `span` only runs its body. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var iter = -1

  def startIteration(i: Int): Unit = {
    iter = i
    sc.setLocalProperty("perfbench.iter", i.toString)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, iter,
        Clock.nowMs)
      spans += s
      stack = s :: stack
      sc.setLocalProperty("perfbench.span", name)
      try body
      finally {
        s.endMs = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty("perfbench.span", stack.headOption.map(_.name).orNull)
      }
    }
}
