package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed public operation of an iteration. `cls` is "write" or "read". */
final case class OpRec(iter: Int, name: String, cls: String, wallNs: Long, spanId: Int)

/**
 * Closed-loop driver state shared by the workloads: one client thread
 * issues an operation only after the previous one returned.
 *
 * Every operation is timed on its own. An operation that throws, or an
 * iteration whose correctness check fails, counts all of that iteration's
 * operations as failed and none of them as timings. With a tracer, every
 * set-up build, iteration, operation, public call and check is also a span,
 * and the listener's jobs hang under the innermost span that was open.
 */
final class Harness(val spark: SparkSession, val tracer: Option[Tracer]) {
  private final class Abort extends RuntimeException(null, null, false, false)

  private var iter = -1
  private var iterFailed = false
  private val current = mutable.ArrayBuffer[OpRec]()
  /** Operations of the iterations that succeeded in the timed loop. */
  val iterations = mutable.ArrayBuffer[Seq[OpRec]]()
  var attempted = 0L
  var failed = 0L
  var timedNs = 0L

  def traced: Boolean = tracer.nonEmpty

  private def report(what: String, e: Throwable): Unit = {
    System.err.println(s"perfbench: $what failed: $e")
    e.printStackTrace(System.err)
  }

  private def spanned[T](name: String, kind: String)(body: => T): (T, Long, Int) = {
    tracer.foreach(_.begin(name, kind))
    val t0 = System.nanoTime()
    val r = try body catch {
      case e: Throwable => tracer.foreach(_.end(System.nanoTime())); throw e
    }
    val t1 = System.nanoTime()
    (r, t1 - t0, tracer.map(_.end(t1).id).getOrElse(-1))
  }

  /** Run one iteration. Timed iterations add their operations' time to the
    * run's clock; warm-up iterations are checked the same way but not timed. */
  def iteration(i: Int, timed: Boolean)(body: => Unit): Boolean = {
    iter = i
    iterFailed = false
    current.clear()
    tracer.foreach(_.setIteration(i))
    try spanned(s"iteration-$i", "iteration")(body)
    catch {
      case _: Abort =>
      case NonFatal(e) => report(s"iteration $i", e); iterFailed = true
    }
    if (iterFailed) failed += math.max(1, current.size)
    else if (timed) {
      iterations += current.toList
      timedNs += current.map(_.wallNs).sum
    }
    !iterFailed
  }

  /** A timed public operation; a throw fails the iteration. */
  def op[T](name: String, cls: String)(body: => T): T = {
    attempted += 1
    try {
      val (r, ns, id) = spanned(name, "op")(body)
      current += OpRec(iter, name, cls, ns, id)
      r
    } catch {
      case a: Abort => throw a
      case NonFatal(e) =>
        report(s"operation $name", e)
        current += OpRec(iter, name, cls, 0L, -1)
        iterFailed = true
        throw new Abort
    }
  }

  /** Untimed work outside the iterations (building inputs and tables): a
    * span of its own when traced, so its jobs are attributed too. */
  def setup[T](name: String)(body: => T): T =
    if (traced) spanned(name, "setup")(body)._1 else body

  /** A public call inside an operation: a span of its own when traced. */
  def call[T](name: String)(body: => T): T =
    if (traced) spanned(name, "call")(body)._1 else body

  /** Untimed work a check needs, such as the counts it compares: a check
    * span of its own when traced, so its jobs are attributed. A throw fails
    * the iteration. */
  def checkInput[T](name: String)(body: => T): T =
    if (traced) spanned(name, "check")(body)._1 else body

  /** An untimed correctness check of the current iteration. */
  def check(name: String)(ok: => Boolean): Unit = {
    val passed =
      try spanned(name, "check")(ok)._1
      catch { case NonFatal(e) => report(s"check $name", e); false }
    if (!passed) {
      System.err.println(s"perfbench: check failed: $name (iteration $iter)")
      iterFailed = true
    }
  }

  /** A correctness check of the whole run, outside any iteration; counted
    * as one attempted operation. */
  def verify(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    iter = -1
    tracer.foreach(_.setIteration(-1))
    val passed =
      try spanned(name, "check")(ok)._1
      catch { case NonFatal(e) => report(s"verify $name", e); false }
    if (!passed) {
      System.err.println(s"perfbench: verification failed: $name")
      failed += 1
    }
  }

  // ---- summaries over the successful timed iterations ----------------------

  def opsNamed(name: String): Seq[OpRec] = iterations.toSeq.flatten.filter(_.name == name)

  /** Per-iteration total of the operations of class `cls`, in ms. */
  def perIterationMs(cls: String): Seq[Double] =
    iterations.toSeq.map(_.filter(_.cls == cls).map(_.wallNs).sum / 1e6)

  /** The sum, over the operation names of class `cls`, of each name's
    * median latency in ms: one operation of each kind, at its median. */
  def medianOpsMs(cls: String): Double =
    iterations.toSeq.flatten.filter(_.cls == cls).groupBy(_.name).values
      .map(ops => Stats.median(ops.map(_.wallNs / 1e6))).sum

  def opsPerSecond: Double =
    iterations.map(_.size).sum.toDouble / (timedNs / 1e9)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Lower median: an observed value, so counts stay whole numbers. */
  def lowMedian(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)
}
