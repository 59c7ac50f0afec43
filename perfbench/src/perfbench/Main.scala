package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: build the workload's inputs and tables once, warm up
 * with one iteration (`setup_s` is the build plus the warm-up), run the
 * closed loop for `--seconds` of operation time, check the final state,
 * print the result as the last line of stdout.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --work <dir> --out <dir> [--scale <x>]
 *
 * With --trace 1 the run also writes the span file and the per-layer table
 * to --out, and reports the per-layer metrics instead of the end-to-end ones.
 */
object Main {
  /** Timed iterations a run makes at the least, however slow they are, so
    * every per-operation figure is a median of three. */
  private val MinIterations = 3
  /** Wall-clock cap on the timed loop: a much slower program still ends
    * its run within the 180 s a run may take. */
  private val MaxLoopSeconds = 90.0

  val opTypes: Seq[String] = Seq("sample", "reduce", "query", "append", "upsert", "delete",
    "cdc", "read", "pruned_read", "src_commit", "advance", "search")

  private val sparkPerOp = Seq("jobs" -> "count", "job_s" -> "s", "driver_s" -> "s",
    "tasks" -> "count", "shuffle_write_mb" -> "MB", "input_mb" -> "MB", "output_mb" -> "MB")

  /** Every per-layer metric with its unit, in report order. A workload that
    * does not reach a layer reports 0 there. */
  val perLayer: Seq[(String, String)] =
    opTypes.flatMap(op => sparkPerOp.map { case (m, u) => s"spark.$m.$op" -> u }) ++ Seq(
      "spark.spill_mb" -> "MB",
      "sampler.exact_s" -> "s", "sampler.jobs" -> "count", "sampler.rows_out" -> "count",
      "semijoin.reduce_s.orders" -> "s", "semijoin.reduce_s.customer" -> "s",
      "semijoin.reduce_s.part" -> "s", "semijoin.keep_ratio.orders" -> "ratio",
      "semijoin.keep_ratio.customer" -> "ratio", "semijoin.keep_ratio.part" -> "ratio",
      "parquetio.write_s" -> "s", "parquetio.bytes_written" -> "bytes",
      "txlog.manifest_parses" -> "count", "txlog.cow_segments_scanned" -> "count",
      "txlog.commit_recomputes" -> "count", "txlog.commit_rebases" -> "count",
      "txlog.segments_live" -> "count", "txlog.checkpoints" -> "count",
      "txlog.data_bytes_written" -> "bytes", "txlog.write_amp" -> "ratio",
      "logstore.list_calls" -> "count", "logstore.read_calls" -> "count",
      "logstore.put_calls" -> "count", "logstore.busy_s" -> "s",
      "follower.jobs" -> "count", "follower.source_commit_s" -> "s",
      "follower.state_segments_written" -> "count", "follower.state_segments_kept" -> "ratio",
      "graphann.search_jobs" -> "count", "graphann.recall_at_10" -> "ratio",
      "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB", "trace.cycle_s" -> "s")

  val endToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "write_ms" -> "ms", "read_ms" -> "ms", "ops_per_s" -> "1/s")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workload.names.contains(workload),
      s"unknown workload '$workload' (known: ${Workload.names.mkString(", ")})")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case other => sys.error(s"--trace must be 0 or 1, got $other")
    }
    val work = new File(need("work"))
    val out = new File(need("out"))
    val scale = opt.getOrElse("scale", "1").toDouble
    out.mkdirs()

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSeconds =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    try {
      val h = new Harness(spark, if (traced) Some(new Tracer(spark.sparkContext)) else None)

      // set-up: inputs and tables built once, then one warm-up iteration
      val t0 = System.nanoTime()
      val w = Workload(workload, h, new File(work, "setup").getPath, seed, scale)
      h.setup("build")(w.setup())
      val buildSeconds = (System.nanoTime() - t0) / 1e9
      val w0 = System.nanoTime()
      h.iteration(-1, timed = false)(w.iterate(-1))
      val warmupSeconds = (System.nanoTime() - w0) / 1e9

      val gc0 = gcSeconds()
      heapPools.foreach(_.resetPeakUsage())
      val loopStart = System.nanoTime()
      var i = 0
      var failedIterations = 0
      while ((h.timedNs < seconds * 1e9 || h.iterations.size < MinIterations) &&
          (System.nanoTime() - loopStart) / 1e9 < MaxLoopSeconds && failedIterations < 3) {
        if (!h.iteration(i, timed = true)(w.iterate(i))) failedIterations += 1
        i += 1
      }
      val loopSeconds = (System.nanoTime() - loopStart) / 1e9
      val gcS = gcSeconds() - gc0
      val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val v0 = System.nanoTime()
      w.verifyRun()
      val verifySeconds = (System.nanoTime() - v0) / 1e9

      val e2e = Map(
        "setup_s" -> (buildSeconds + warmupSeconds),
        "write_ms" -> h.medianOpsMs("write"),
        "read_ms" -> h.medianOpsMs("read"),
        "ops_per_s" -> (if (h.timedNs > 0) h.opsPerSecond else 0.0))
      println(Json.obj("workload" -> workload, "seed" -> seed, "trace" -> traced,
        "iterations" -> h.iterations.size, "operation_s" -> h.timedNs / 1e9,
        "loop_s" -> loopSeconds, "jvm_to_session_s" -> sessionSeconds, "verify_s" -> verifySeconds,
        "loop_gc_s" -> gcS, "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0,
        "setup_build_s" -> buildSeconds, "warmup_s" -> warmupSeconds, "cycle_s" -> Stats.median(
          h.iterations.toSeq.map(_.map(_.wallNs).sum / 1e9)),
        "write_ms_by_iteration" -> h.perIterationMs("write"),
        "read_ms_by_iteration" -> h.perIterationMs("read"), "detail" -> w.detail))

      val metrics: Seq[(String, Double, String)] =
        if (!traced) endToEnd.map { case (n, u) => (n, e2e(n), u) }
        else {
          val t = h.tracer.get
          val values = sparkLayer(h, t) ++ w.layers ++ Map(
            "jvm.gc_s" -> gcS, "jvm.peak_heap_mb" -> peakHeapMb,
            "trace.cycle_s" -> Stats.median(h.iterations.toSeq.map(_.map(_.wallNs).sum / 1e9)))
          val unknown = values.keySet -- perLayer.map(_._1)
          require(unknown.isEmpty, s"metrics missing from the catalogue: $unknown")
          val rows = perLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
          t.writeJson(new File(out, s"spans-$workload-$seed.json").getPath)
          writeTable(new File(out, s"layers-$workload-$seed.txt"), workload, seed, rows)
          rows
        }

      val result = Json.obj(
        "correct" -> (h.failed == 0 && h.iterations.nonEmpty),
        "attempted" -> h.attempted,
        "failed" -> h.failed,
        "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }: _*)))
      println(result)
      System.out.flush()
    } finally spark.stop()
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  /** The Spark-engine layer, per operation type: medians over the timed
    * operations of each type (lower medians for counts). */
  private def sparkLayer(h: Harness, t: Tracer): Map[String, Double] = {
    val spans = t.spans.map(s => s.id -> s).toMap
    val perOp = opTypes.flatMap { op =>
      val recs = h.opsNamed(op).flatMap(o => spans.get(o.spanId).map(s => (s, t.subtreeJobs(s.id))))
      if (recs.isEmpty) Nil
      else {
        def sumOf(f: JobRec => Long) = recs.map(_._2.map(f).sum / 1048576.0)
        val jobS = recs.map { case (s, jobs) =>
          Trace.unionMs(jobs.map(j => (j.startMs.toDouble,
            (if (j.endMs < 0) s.endMs else j.endMs.toDouble))), s.startMs, s.endMs) / 1000 }
        val wallS = recs.map(_._1.wallMs / 1000)
        Seq(
          s"spark.jobs.$op" -> Stats.lowMedian(recs.map(_._2.size.toDouble)),
          s"spark.job_s.$op" -> Stats.median(jobS),
          s"spark.driver_s.$op" -> Stats.median(wallS.zip(jobS).map { case (w, j) => w - j }),
          s"spark.tasks.$op" -> Stats.lowMedian(recs.map(_._2.map(_.tasks).sum.toDouble)),
          s"spark.shuffle_write_mb.$op" -> Stats.median(sumOf(_.shuffleWriteBytes)),
          s"spark.input_mb.$op" -> Stats.median(sumOf(_.inputBytes)),
          s"spark.output_mb.$op" -> Stats.median(sumOf(_.outputBytes)))
      }
    }
    val spill = h.iterations.toSeq.map(_.flatMap(o => t.subtreeJobs(o.spanId))
      .map(_.spillBytes).sum / 1048576.0)
    (perOp :+ ("spark.spill_mb" -> Stats.median(spill))).toMap
  }

  private def writeTable(f: File, workload: String, seed: Long,
      rows: Seq[(String, Double, String)]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println(s"# per-layer metrics, workload $workload, seed $seed")
      rows.foreach { case (n, v, u) => w.println(f"$n%-36s $v%16.6f  $u") }
    } finally w.close()
  }
}
