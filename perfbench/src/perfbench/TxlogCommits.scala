package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{PosixLogStore, TxLog, TxLogOps}

/**
 * A keyed TxLog table under a fixed, seeded cycle of commits and reads:
 * append, copy-on-write upsert, deletion-vector delete, CDC apply, then
 * full counts and manifest-pruned range counts. The commit path is mostly
 * driver work (manifests, footer stats, claims, checkpoints), and the reads
 * sit beside the writes so a commit-side gain that costs reads shows.
 *
 * The benchmark keeps its own replay of every operation in a map (the
 * model); each cycle's counts and the final content must match it.
 */
final class TxlogCommits(h0: Harness, dir0: String, seed0: Long, scale0: Double)
    extends Workload(h0, dir0, seed0, scale0) {
  private val initialRows = scaled(300000)
  private val appendRows = scaled(10000)
  private val upsertKeys = scaled(5000)
  private val deleteKeys = scaled(1000)
  private val cdcRows = scaled(5000)
  private val cdcWindow = scaled(10000)
  private val prunedSpan = scaled(5000)
  /** Reads per cycle of each kind: readers call more often than the one
    * writer, and nine reads of each kind in a three-cycle run give a
    * steadier median than three. */
  private val readRepeats = 3
  /** The initial keys form `buckets` equal key ranges, one segment each.
    * An upsert or CDC batch stays inside one bucket, so every rewrite
    * touches exactly one segment and rewrites it into one segment: the
    * copy-on-write footprint is the same on every seed and every cycle.
    *
    * Building the table takes `buckets` commits (v0 to v5) and the warm-up
    * cycle four more, so the timed loop starts at v10: its three cycles at
    * the least (v10 to v21) cross the checkpoints at v10 and v20 of the
    * default interval of 10. */
  private val buckets = 6
  private val bucketKeys = initialRows / buckets

  /** Traced runs drive a TxLogOps over a counting LogStore; untraced runs
    * the production object. Both use the default checkpoint interval. */
  private val store = if (h.traced) Some(new CountingStore(PosixLogStore)) else None
  private val ops: TxLogOps = store.map(new TxLogOps(_)).getOrElse(TxLog)
  private val table = path("t")

  private val schema = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("v", LongType), StructField("x", DoubleType), StructField("s", StringType)))
  private val changeSchema = StructType(schema.fields ++ Seq(
    StructField("op", StringType), StructField("seq", LongType)))

  private val Alnum = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).toArray
  private type Vals = (Long, Double, String)
  private val model = mutable.LongMap[Vals]()
  private var nextKey = 0L

  // per timed cycle
  private val parses, cowScans, recomputes, rebases = mutable.ArrayBuffer[Double]()
  private val bytesWritten, writeAmp = mutable.ArrayBuffer[Double]()
  private val lists, reads, puts, busy = mutable.ArrayBuffer[Double]()
  private var checkpointsAtStart = -1L

  private def vals(r: scala.util.Random): Vals = (r.nextLong(), r.nextInt(1000000) / 100.0,
    new String(Array.fill(12)(Alnum(r.nextInt(Alnum.length)))))

  private def frame(rows: Seq[(Long, Vals)]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map { case (k, (v, x, s)) => Row(k, v, x, s) }, 4), schema)

  private def fresh(n: Int, r: scala.util.Random): Seq[(Long, Vals)] = {
    val rows = (0 until n).map(j => (nextKey + j, vals(r)))
    nextKey += n
    rows
  }

  def setup(): Unit = {
    val r = rng(-1000, 0)
    val chunks = (0 until buckets).map(_ => fresh(bucketKeys, r))
    ops.create(spark, table, frame(chunks.head))
    chunks.tail.foreach(c => ops.append(spark, table, frame(c)))
    chunks.flatten.foreach { case (k, v) => model(k) = v }
  }

  private def checkpoints: Long = ops.store.list(table).count(_.endsWith(".checkpoint")).toLong

  def iterate(i: Int): Unit = {
    val r = rng(i, 1)
    val before = if (h.traced) ops.latest(table) else null
    if (i >= 0 && checkpointsAtStart < 0) checkpointsAtStart = checkpoints
    // counters are read right before the cycle's first operation and right
    // after its last, so the bookkeeping around them is not counted
    val c0 = Workload.counters(ops)
    val s0 = store.map(s => (s.lists.get, s.reads.get, s.puts.get, s.busyNs.get))

    val app = fresh(appendRows, r)
    h.op("append", "write")(h.call("TxLog.append")(ops.append(spark, table, frame(app))))
    app.foreach { case (k, v) => model(k) = v }

    val lo = r.nextInt(buckets).toLong * bucketKeys
    val ups = new scala.util.Random(r.nextLong()).shuffle((lo until lo + bucketKeys).toVector)
      .take(upsertKeys).map(k => (k, vals(r)))
    h.op("upsert", "write")(h.call("TxLog.upsert")(ops.upsert(spark, table, frame(ups), Seq("k"))))
    ups.foreach { case (k, v) => model(k) = v }

    val dels = Seq.fill(deleteKeys)((r.nextDouble() * nextKey).toLong).distinct
    h.op("delete", "write")(h.call("TxLog.deleteRowsKeyed")(ops.deleteRowsKeyed(spark, table,
      spark.createDataFrame(spark.sparkContext.parallelize(dels.map(Row(_)), 4),
        StructType(Seq(StructField("k", LongType, nullable = false)))), Seq("k"))))
    dels.foreach(model.remove)

    // keys drawn with replacement from a window inside one bucket, so some
    // repeat; seq orders the repeats and ~20% of the changes are deletes
    val clo = r.nextInt(buckets).toLong * bucketKeys + r.nextInt(bucketKeys - cdcWindow + 1)
    val changes = (0 until cdcRows).map { j =>
      val k = clo + r.nextInt(cdcWindow)
      val (v, x, s) = vals(r)
      (k, v, x, s, if (r.nextDouble() < 0.2) "D" else "U", j.toLong)
    }
    val changeDf = spark.createDataFrame(spark.sparkContext.parallelize(changes.map {
      case (k, v, x, s, o, q) => Row(k, v, x, s, o, q) }, 4), changeSchema)
    h.op("cdc", "write")(h.call("TxLog.applyChanges")(
      ops.applyChanges(spark, table, changeDf, Seq("k"), Seq(col("seq")), "op", "D")))
    changes.foreach { case (k, v, x, s, o, _) =>
      if (o == "D") model.remove(k) else model(k) = (v, x, s) }

    val counted = (0 until readRepeats).map { _ =>
      val full = h.op("read", "read")(h.call("TxLog.read")(ops.read(spark, table)).count())
      val plo = r.nextInt(buckets).toLong * bucketKeys + r.nextInt(bucketKeys - prunedSpan + 1)
      val phi = plo + prunedSpan - 1
      val pruned = h.op("pruned_read", "read")(h.call("TxLog.readWhere")(
        ops.readWhere(spark, table, "k", plo.toDouble, phi.toDouble)).count())
      (full, plo, phi, pruned)
    }

    val c1 = Workload.counters(ops)
    val s1 = store.map(s => (s.lists.get, s.reads.get, s.puts.get, s.busyNs.get))
    h.check("read count equals the replay")(counted.forall(_._1 == model.size.toLong))
    h.check("fastCount equals read().count()")(ops.fastCount(table).contains(counted.head._1))
    h.check("pruned read count equals the replay")(counted.forall { case (_, plo, phi, pruned) =>
      pruned == model.keysIterator.count(k => k >= plo && k <= phi).toLong })

    if (i >= 0) {
      val d = c1 - c0
      parses += d.parses.toDouble; cowScans += d.cowScans.toDouble
      recomputes += d.recomputes.toDouble; rebases += d.rebases.toDouble
      for ((a, b) <- s0.zip(s1)) {
        lists += (b._1 - a._1).toDouble; reads += (b._2 - a._2).toDouble
        puts += (b._3 - a._3).toDouble; busy += (b._4 - a._4) / 1e9
      }
      if (before != null) {
        val after = ops.latest(table)
        val added = (after.segments ++ after.dvs.keys).filterNot(
          s => before.segments.contains(s) || before.dvs.contains(s))
        bytesWritten += added.map(s => Workload.bytesUnder(new File(table, s))).sum.toDouble
        val rowsWritten = after.segments.filterNot(before.segments.contains)
          .map(after.rowCounts.getOrElse(_, 0L)).sum
        writeAmp += rowsWritten.toDouble / (app.size + ups.size + changes.size)
      }
    }
  }

  /** The table's content against the replay: row count plus an order-free
    * digest, the sum of a per-row hash that Spark computes over the table
    * and the benchmark computes over its own map. */
  def verifyRun(): Unit = {
    val m = 2147483647L
    val crc = new java.util.zip.CRC32
    val want = model.foldLeft((0L, 0L)) { case ((n, sum), (k, (v, x, str))) =>
      crc.reset()
      crc.update(str.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val f = Math.floorMod(Math.floorMod(k, m) * 31 + Math.floorMod(v, m) * 37 +
        math.round(x * 100) * 41 + crc.getValue * 43, m)
      (n + 1, sum + f)
    }
    var rows = -1L
    h.verify("final table equals the replay") {
      val got = ops.read(spark, table).agg(count(lit(1)), sum(pmod(
        pmod(col("k"), lit(m)) * 31 + pmod(col("v"), lit(m)) * 37 +
          round(col("x") * 100).cast("long") * 41 +
          crc32(col("s").cast("binary")) * 43, lit(m)))).head()
      rows = got.getLong(0)
      (rows, if (got.isNullAt(1)) 0L else got.getLong(1)) == want
    }
    h.verify("fastCount equals the row count at the end")(ops.fastCount(table).contains(rows))
    h.verify("a single client never recomputes or rebases a commit")(
      recomputes.sum == 0 && rebases.sum == 0)
  }

  private val opNames = Seq("append", "upsert", "delete", "cdc", "read", "pruned_read")

  def detail: Map[String, Double] =
    opNames.map(n => s"${n}_ms" -> med(h.opsNamed(n).map(_.wallNs / 1e6))).toMap +
      ("txlog_ops_per_s" -> h.opsPerSecond)

  def layers: Map[String, Double] = Map(
    "txlog.manifest_parses" -> Stats.lowMedian(parses.toSeq),
    "txlog.cow_segments_scanned" -> Stats.lowMedian(cowScans.toSeq),
    "txlog.commit_recomputes" -> recomputes.sum,
    "txlog.commit_rebases" -> rebases.sum,
    "txlog.segments_live" -> ops.latest(table).segments.size.toDouble,
    "txlog.checkpoints" -> (checkpoints - checkpointsAtStart).toDouble,
    "txlog.data_bytes_written" -> med(bytesWritten),
    "txlog.write_amp" -> med(writeAmp),
    "logstore.list_calls" -> Stats.lowMedian(lists.toSeq),
    "logstore.read_calls" -> Stats.lowMedian(reads.toSeq),
    "logstore.put_calls" -> Stats.lowMedian(puts.toSeq),
    "logstore.busy_s" -> med(busy))
}
