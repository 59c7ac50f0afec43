package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.io.LogStore

/** One Spark job as the listener saw it; times are the events' epoch ms. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
}

/** Records every job with its tasks' I/O. Jobs wait in `unclaimed` until
  * the span that was open when they ran claims them. */
final class JobListener extends SparkListener {
  private val byStage = mutable.HashMap[Int, JobRec]()
  private val byId = mutable.HashMap[Int, JobRec]()
  private val unclaimed = mutable.ArrayBuffer[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time)
    e.stageIds.foreach(s => byStage(s) = j)
    byId(e.jobId) = j
    unclaimed += j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def claim(): Seq[JobRec] = synchronized {
    val r = unclaimed.toList
    unclaimed.clear()
    r
  }
}

/** A traced interval. `kind` is setup, iteration, op, call or check (or gap,
  * for jobs that ran outside every span); jobs are the Spark jobs that ran
  * while this span was the innermost open one. */
final case class Span(id: Int, parent: Int, iter: Int, name: String, kind: String,
    startMs: Double, endMs: Double, jobs: Seq[JobRec]) {
  def wallMs: Double = endMs - startMs
}

/** Spans kept in memory and written out once, when the run ends. */
final class Tracer(sc: SparkContext) {
  private val listener = new JobListener
  sc.addSparkListener(listener)
  // one epoch anchor, so nanoTime spans line up with the listener's
  // epoch-ms job times
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private val done = mutable.ArrayBuffer[Span]()
  private final class Open(val id: Int, val name: String, val kind: String, val startNs: Long) {
    val jobs = mutable.ArrayBuffer[JobRec]()
  }
  private val open = mutable.Stack[Open]()
  private var nextId = 0
  private var iter = -1

  private def toMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def setIteration(i: Int): Unit = iter = i

  private def nextSpanId(): Int = { nextId += 1; nextId }

  /** Hand the jobs that ran since the last claim to the innermost open
    * span; jobs outside every span get a top-level span of their own. */
  private def claim(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val jobs = listener.claim()
    if (open.nonEmpty) open.top.jobs ++= jobs
    else if (jobs.nonEmpty)
      done += Span(nextSpanId(), 0, iter, "outside", "gap", jobs.map(_.startMs).min.toDouble,
        jobs.map(j => math.max(j.startMs, j.endMs)).max.toDouble, jobs)
  }

  def begin(name: String, kind: String): Unit = {
    claim()
    open.push(new Open(nextSpanId(), name, kind, System.nanoTime()))
  }

  /** Close the innermost span; returns it with the jobs it claimed. */
  def end(endNs: Long): Span = {
    claim()
    val o = open.pop()
    val sp = Span(o.id, if (open.isEmpty) 0 else open.top.id, iter, o.name, o.kind,
      toMs(o.startNs), toMs(endNs), o.jobs.toList)
    done += sp
    sp
  }

  def spans: Seq[Span] = done.toSeq

  /** All jobs in the subtree of span `id`. */
  def subtreeJobs(id: Int): Seq[JobRec] = {
    val kids = done.filter(_.parent == id)
    done.find(_.id == id).toSeq.flatMap(_.jobs) ++ kids.flatMap(k => subtreeJobs(k.id))
  }

  def writeJson(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("{\"spans\": [")
      val all = done.toSeq
      all.zipWithIndex.foreach { case (s, i) =>
        w.print(Json.obj(
          "id" -> s.id, "parent" -> s.parent, "iter" -> s.iter, "name" -> s.name,
          "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "jobs" -> s.jobs.map(j => Json.Raw(Json.obj(
            "job" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
            "tasks" -> j.tasks)))))
        w.println(if (i + 1 < all.size) "," else "")
      }
      w.println("]}")
    } finally w.close()
  }
}

object Trace {
  /** Measure of the union of [s, e] intervals clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** A LogStore that counts and times every call into the one it wraps. */
final class CountingStore(inner: LogStore) extends LogStore {
  val lists = new java.util.concurrent.atomic.AtomicLong()
  val reads = new java.util.concurrent.atomic.AtomicLong()
  val puts = new java.util.concurrent.atomic.AtomicLong()
  val busyNs = new java.util.concurrent.atomic.AtomicLong()

  private def timed[T](n: java.util.concurrent.atomic.AtomicLong)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally { n.incrementAndGet(); busyNs.addAndGet(System.nanoTime() - t0) }
  }

  def list(table: String): Seq[String] = timed(lists)(inner.list(table))
  def read(table: String, name: String): String = timed(reads)(inner.read(table, name))
  def putIfAbsent(table: String, name: String, content: String): Boolean =
    timed(puts)(inner.putIfAbsent(table, name, content))
  def putPointer(table: String, name: String, content: String): Unit =
    timed(puts)(inner.putPointer(table, name, content))
  def readPointer(table: String, name: String): Option[String] =
    timed(reads)(inner.readPointer(table, name))
}
