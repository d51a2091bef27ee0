package perfbench

import scala.collection.mutable

/** One timed operation of the closed loop. Times are epoch-based
  * nanoseconds (`Recorder.now`) so they line up with Spark listener
  * event times (epoch milliseconds). */
final case class OpSample(id: Int, cls: String, name: String,
    startNs: Long, endNs: Long, error: Option[String]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A traced interval: `op` is the id of the operation it belongs to
  * (0 outside any operation), `parent` the id of the enclosing span. */
final case class Span(id: Int, op: Int, parent: Int, name: String,
    startNs: Long, endNs: Long)

/** Records operations always and spans only when tracing. Single
  * client, so one thread drives it; the span stack needs no locking. */
final class Recorder(val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpSample]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextSpan = 1
  @volatile var currentOp = 0

  def span[A](name: String)(body: => A): A = {
    if (!traced) return body
    val id = nextSpan; nextSpan += 1
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = Recorder.now
    try body finally {
      stack.pop()
      spans += Span(id, currentOp, parent, name, t0, Recorder.now)
    }
  }

  /** Run one operation of the timed loop; a thrown error is recorded
    * as a failed operation and does not stop the loop. When tracing,
    * the operation's Spark jobs carry its id as their job group. */
  def op(cls: String, name: String,
      sc: => org.apache.spark.SparkContext)(body: => Unit): OpSample = {
    val id = ops.size + 1
    currentOp = id
    if (traced) sc.setJobGroup(id.toString, s"$cls:$name")
    val t0 = Recorder.now
    val err =
      try { span(s"op.$cls") { body }; None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    val s = OpSample(id, cls, name, t0, Recorder.now, err)
    if (traced) sc.clearJobGroup()
    currentOp = 0
    ops += s
    s
  }
}

object Recorder {
  private val epochNs = System.currentTimeMillis() * 1000000L
  private val base = System.nanoTime()
  /** Monotonic nanoseconds on the epoch scale. */
  def now: Long = epochNs + (System.nanoTime() - base)
}
