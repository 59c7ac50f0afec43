package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.io.TxLogOps

/**
 * One benchmark workload. `setup` generates the inputs from the seed and
 * builds the tables under `dir`; `iterate` runs one closed-loop iteration
 * through the harness; `verifyRun` checks the final state. `detail` gives
 * the workload's own latencies by name; `layers` its per-layer metrics
 * (only read after a traced run).
 */
abstract class Workload(val h: Harness, val dir: String, val seed: Long, val scale: Double) {
  def spark: SparkSession = h.spark

  def setup(): Unit
  def iterate(i: Int): Unit
  def verifyRun(): Unit
  def detail: Map[String, Double]
  def layers: Map[String, Double]

  /** A deterministic per-iteration generator. */
  protected def rng(i: Int, salt: Int): scala.util.Random =
    new scala.util.Random(seed * 1000003L + i * 7919L + salt)

  protected def scaled(n: Int): Int = math.max(1, (n * scale).round.toInt)

  protected def path(rel: String): String = new File(dir, rel).getPath

  /** Median wall, in seconds, of the traced call spans named `name`. */
  protected def callSeconds(name: String): Double =
    Stats.median(h.tracer.toSeq.flatMap(_.spans)
      .filter(s => s.kind == "call" && s.name == name && s.iter >= 0).map(_.wallMs / 1000))

  /** Median jobs per traced call span named `name`. */
  protected def callJobs(name: String): Double =
    Stats.lowMedian(h.tracer.toSeq.flatMap(_.spans)
      .filter(s => s.kind == "call" && s.name == name && s.iter >= 0).map(_.jobs.size.toDouble))

  /** Median of the per-iteration values in `xs`, an empty series reading 0. */
  protected def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)
}

object Workload {
  def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** The public counters of a TxLogOps instance, read from outside. */
  final case class TxCounters(parses: Long, cowScans: Long, recomputes: Long, rebases: Long) {
    def -(o: TxCounters): TxCounters = TxCounters(parses - o.parses,
      cowScans - o.cowScans, recomputes - o.recomputes, rebases - o.rebases)
  }

  def counters(ops: TxLogOps): TxCounters = TxCounters(ops.manifestParseCount.get,
    ops.cowScanCount.get, ops.commitRecomputeCount.get, ops.commitRebaseCount.get)

  def apply(name: String, h: Harness, dir: String, seed: Long, scale: Double): Workload =
    name match {
      case "sample_reduce" => new SampleReduce(h, dir, seed, scale)
      case "txlog_commits" => new TxlogCommits(h, dir, seed, scale)
      case "index_follow" => new IndexFollow(h, dir, seed, scale)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  val names: Seq[String] = Seq("sample_reduce", "txlog_commits", "index_follow")
}
