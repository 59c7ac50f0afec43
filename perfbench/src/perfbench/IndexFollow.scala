package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{GraphAnn, IndexFollower, Similarity}
import graft.io.TxLog

/**
 * A 4-shard HNSW index following a TxLog corpus of generated vectors. Each
 * round appends, re-embeds and deletes on the source, advances the
 * follower (a multi-segment state commit plus GraphAnn builds) and searches
 * a fixed query batch. The index must serve exactly the live ids, never a
 * deleted one, and keep recall against brute force at the q326 floor;
 * recall and deleted ids are checked every round, the served set at the end.
 */
final class IndexFollow(h0: Harness, dir0: String, seed0: Long, scale0: Double)
    extends Workload(h0, dir0, seed0, scale0) {
  private val dim = 32
  private val clusters = 64
  private val initialRows = scaled(1200)
  private val appendRows = scaled(150)
  private val reembedRows = scaled(40)
  private val deleteRows = scaled(150)
  private val queryRows = 16
  private val k = 10
  private val cfg = GraphAnn.HnswConfig(m = 8, efConstruction = 96, efSearch = 128, shards = 4)

  private val src = path("docs")
  private val idx = path("index")
  private val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private val model = mutable.LongMap[Array[Float]]()
  private val deleted = mutable.LongMap[Unit]()
  private var nextId = 0L
  private var centers: Array[Array[Float]] = _
  private var queries: DataFrame = _

  // per timed round
  private val segsWritten, segsKept = mutable.ArrayBuffer[Double]()
  private val parses, cowScans, recomputes, rebases = mutable.ArrayBuffer[Double]()
  private val recall = mutable.ArrayBuffer[Double]()
  private var checkpointsAtStart = -1L

  /** A point near a random cluster center: corpora cluster, and HNSW
    * recall on clustered data is what serving sees. */
  private def vec(r: scala.util.Random): Array[Float] = {
    val c = centers(r.nextInt(clusters))
    Array.tabulate(dim)(d => (c(d) + 0.3 * r.nextGaussian()).toFloat)
  }

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v.toSeq) }, 4), schema)

  private def fresh(n: Int, r: scala.util.Random): Seq[(Long, Array[Float])] = {
    val rows = (0 until n).map(j => (nextId + j, vec(r)))
    nextId += n
    rows
  }

  private def follow(): Boolean =
    IndexFollower.followIndex(spark, src, idx, "ann", "vec_id", "embedding", cfg)

  def setup(): Unit = {
    val r = rng(-1000, 0)
    centers = Array.fill(clusters, dim)(r.nextGaussian().toFloat)
    val init = fresh(initialRows, r)
    init.foreach { case (i, v) => model(i) = v }
    TxLog.create(spark, src, frame(init))
    require(follow(), "bootstrap advance committed nothing")
    queries = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until queryRows).map(q => Row(q.toLong, vec(r).toSeq)), 1),
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("qvec", ArrayType(FloatType, containsNull = false))))).cache()
    queries.count()
  }

  private def checkpoints: Long =
    Seq(src, idx).map(t => TxLog.store.list(t).count(_.endsWith(".checkpoint"))).sum.toLong

  def iterate(i: Int): Unit = {
    val r = rng(i, 2)
    val live = model.keys.toVector.sorted
    val app = fresh(appendRows, r)
    val picks = new scala.util.Random(r.nextLong()).shuffle(live).take(reembedRows + deleteRows)
    val reembed = picks.take(reembedRows).map(id => (id, vec(r)))
    val dels = picks.drop(reembedRows)
    val stateBefore = if (h.traced) TxLog.latest(idx).segments else Nil
    if (i >= 0 && checkpointsAtStart < 0) checkpointsAtStart = checkpoints
    val c0 = Workload.counters(TxLog)

    h.op("src_commit", "write") {
      h.call("TxLog.append")(TxLog.append(spark, src, frame(app)))
      h.call("TxLog.upsert")(TxLog.upsert(spark, src, frame(reembed), Seq("vec_id")))
      h.call("TxLog.deleteRowsKeyed")(TxLog.deleteRowsKeyed(spark, src,
        frame(dels.map(id => (id, model(id)))).select("vec_id"), Seq("vec_id")))
    }
    (app ++ reembed).foreach { case (id, v) => model(id) = v }
    dels.foreach { id => model.remove(id); deleted(id) = () }

    val advanced = h.op("advance", "write")(h.call("IndexFollower.followIndex")(follow()))
    val res = h.op("search", "read")(h.call("IndexFollower.searchIndex")(
      IndexFollower.searchIndex(spark, idx, queries, "qid", "qvec", k, cfg))
      .select("query_id", "neighbor_id").collect())
    val c1 = Workload.counters(TxLog)

    h.check("advance committed the round")(advanced)
    h.check("no deleted id is returned")(res.forall(row => !deleted.contains(row.getLong(1))))
    val brute = h.checkInput("Similarity.bruteTopK")(Similarity.bruteTopK(
      TxLog.read(spark, src), "vec_id", "embedding", queries, "qid", "qvec", k)
      .select("query_id", "neighbor_id").collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet)
    val hits = (0 until queryRows).map(q =>
      res.count(row => row.getLong(0) == q && brute.contains((q.toLong, row.getLong(1)))))
    h.check("recall@10 is at least 5 of 10 for every query")(hits.forall(_ >= 5))

    if (i >= 0) {
      recall += hits.sum.toDouble / (queryRows * k)
      val d = c1 - c0
      parses += d.parses.toDouble; cowScans += d.cowScans.toDouble
      recomputes += d.recomputes.toDouble; rebases += d.rebases.toDouble
      if (h.traced) {
        val after = TxLog.latest(idx).segments
        segsWritten += after.count(s => !stateBefore.contains(s)).toDouble
        segsKept += after.count(stateBefore.contains).toDouble / math.max(1, after.size)
      }
    }
  }

  def verifyRun(): Unit = {
    h.verify("a replayed advance is skipped")(!follow())
    h.verify("served ids equal the live ids") {
      val state = TxLog.read(spark, idx)
      val served = IndexFollower.nodesOf(state).select(col("id"))
        .exceptAll(IndexFollower.tombstonesOf(state)).collect().map(_.getLong(0))
      served.length == model.size && served.forall(model.contains)
    }
    h.verify("the source holds exactly the live ids") {
      val ids = TxLog.read(spark, src).select("vec_id").collect().map(_.getLong(0))
      ids.length == model.size && ids.forall(model.contains)
    }
    h.verify("a single client never recomputes or rebases a commit")(
      recomputes.sum == 0 && rebases.sum == 0)
  }

  def detail: Map[String, Double] = Map(
    "advance_s" -> med(h.opsNamed("advance").map(_.wallNs / 1e9)),
    "search_ms" -> med(h.opsNamed("search").map(_.wallNs / 1e6)),
    "recall_at_10" -> med(recall))

  def layers: Map[String, Double] = {
    def jobsOf(name: String) = Stats.lowMedian(h.opsNamed(name).map(o =>
      h.tracer.map(_.subtreeJobs(o.spanId).size.toDouble).getOrElse(0.0)))
    Map(
      "follower.jobs" -> jobsOf("advance"),
      "follower.source_commit_s" -> med(h.opsNamed("src_commit").map(_.wallNs / 1e9)),
      "follower.state_segments_written" -> Stats.lowMedian(segsWritten.toSeq),
      "follower.state_segments_kept" -> med(segsKept),
      "graphann.search_jobs" -> jobsOf("search"),
      "graphann.recall_at_10" -> med(recall),
      "txlog.manifest_parses" -> Stats.lowMedian(parses.toSeq),
      "txlog.cow_segments_scanned" -> Stats.lowMedian(cowScans.toSeq),
      "txlog.commit_recomputes" -> recomputes.sum,
      "txlog.commit_rebases" -> rebases.sum,
      "txlog.segments_live" -> TxLog.latest(src).segments.size.toDouble,
      "txlog.checkpoints" -> (checkpoints - checkpointsAtStart).toDouble)
  }
}
