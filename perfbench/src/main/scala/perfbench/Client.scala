package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Wall and executor CPU seconds of one operation. */
final case class Cost(wall: Double, cpu: Double)

/** The single closed-loop client: each operation is issued only after
  * the previous one returns. Every operation counts as attempted; one
  * that throws or fails its output check counts as failed and its time
  * is never recorded, so a failure can never read as a fast result.
  *
  * `executorCpuNs` reads the executors' summed CPU so far, once the
  * listener has caught up. What the client does around an operation,
  * its output check above all, is left out of that operation's cost and
  * out of the cost of every operation it is nested in. */
final class Client(executorCpuNs: () => Long = () => 0L) {
  private var nAttempted = 0L
  private val failures = ArrayBuffer.empty[(String, String)]
  private val costs = ArrayBuffer.empty[(String, Cost)]
  /** Wall and CPU nanoseconds spent so far outside operations. */
  private var ownNs = 0L
  private var ownCpuNs = 0L

  def attempted: Long = nAttempted
  def failed: Long = failures.length
  def failureLog: Seq[(String, String)] = failures.toSeq
  /** (operation name, seconds) of every operation that succeeded. */
  def timings: Seq[(String, Double)] = costs.map { case (n, c) => n -> c.wall }.toSeq

  def op[A](name: String)(f: => A): Option[(A, Cost)] = checked(name)(f)(_ => None)

  /** Runs `f`, then `check` on its result; returns the result and its
    * cost only when both succeed. `check` returns an error message, or
    * None when the output is correct; its cost is not counted. */
  def checked[A](name: String)(f: => A)(check: A => Option[String]): Option[(A, Cost)] = {
    nAttempted += 1
    val start = System.nanoTime()
    val c0 = executorCpuNs()
    val t0 = System.nanoTime()
    ownNs += t0 - start
    val (own0, ownCpu0) = (ownNs, ownCpuNs)
    try {
      val r = f
      val t1 = System.nanoTime()
      val c1 = executorCpuNs()
      val cost = Cost((t1 - t0 - (ownNs - own0)) / 1e9, (c1 - c0 - (ownCpuNs - ownCpu0)) / 1e9)
      val verdict = check(r)
      ownCpuNs += executorCpuNs() - c1
      ownNs += System.nanoTime() - t1
      verdict match {
        case None => costs += name -> cost; Some((r, cost))
        case Some(msg) => failures += name -> s"check: $msg"; None
      }
    } catch {
      case NonFatal(e) =>
        failures += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }
}
