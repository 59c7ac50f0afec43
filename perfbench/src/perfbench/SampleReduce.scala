package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.ParquetIO
import graft.operators.{Sampler, SemiJoinReducer}

/**
 * The paper's pipeline over a generated star schema: an exact 1% sample of
 * the fact table, then each dimension reduced to the rows the sample (or
 * the reduced orders) still references, every output written as parquet;
 * then a star join over the reduced tables, the query the sample exists
 * for. Scan- and shuffle-bound in graft.operators and ParquetIO; it never
 * touches TxLog or the index followers.
 */
final class SampleReduce(h0: Harness, dir0: String, seed0: Long, scale0: Double)
    extends Workload(h0, dir0, seed0, scale0) {
  private val ratio = 0.01
  private val factRows = scaled(1200000)
  private val orderRows = factRows / 4
  private val customerRows = factRows / 40
  private val partRows = factRows / 30
  private val dims = Seq("orders", "customer", "part")

  private var fact: DataFrame = _
  private var orders: DataFrame = _
  private var customer: DataFrame = _
  private var part: DataFrame = _

  // per timed iteration
  private val sampleRows = mutable.ArrayBuffer[Double]()
  private val keepRatio = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
  private val bytesWritten = mutable.ArrayBuffer[Double]()

  /** Uniform in [0, n) from the row id, the seed and a column salt. */
  private def pick(n: Long, salt: Int) = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(n))

  private def text(salt: Int) = substring(sha2(concat(col("id").cast("string"), lit(s"$seed/$salt")), 256), 1, 24)

  def setup(): Unit = {
    val gen = Seq(
      "fact" -> spark.range(factRows).select(
        pick(orderRows, 1).as("l_orderkey"), pick(partRows, 2).as("l_partkey"),
        (pick(50, 3) + 1).cast("int").as("l_quantity"),
        (pick(100000, 4) / 100.0).as("l_price"), text(5).as("l_comment")),
      "orders" -> spark.range(orderRows).select(col("id").as("o_orderkey"),
        pick(customerRows, 6).as("o_custkey"), (pick(1000000, 7) / 100.0).as("o_total"),
        text(8).as("o_comment")),
      "customer" -> spark.range(customerRows).select(col("id").as("c_custkey"),
        text(9).as("c_name"), (pick(1000000, 10) / 100.0).as("c_acctbal")),
      "part" -> spark.range(partRows).select(col("id").as("p_partkey"),
        text(11).as("p_name"), (pick(100000, 12) / 100.0).as("p_retail")))
    gen.foreach { case (n, df) => ParquetIO.write(df, path(s"in/$n")) }
    fact = ParquetIO.read(spark, path("in/fact"))
    orders = ParquetIO.read(spark, path("in/orders"))
    customer = ParquetIO.read(spark, path("in/customer"))
    part = ParquetIO.read(spark, path("in/part"))
  }

  def iterate(i: Int): Unit = {
    val out = path(s"out/$i")
    def o(n: String) = s"$out/$n"
    h.op("sample", "write") {
      val s = h.call("Sampler.exact")(Sampler.exact(fact, ratio, seed * 1000 + i))
      h.call("ParquetIO.write")(ParquetIO.write(s, o("sample")))
    }
    h.op("reduce", "write") {
      val smp = h.call("ParquetIO.read")(ParquetIO.read(spark, o("sample")))
      def reduce(name: String, dim: DataFrame, dimKey: String, by: DataFrame, byKey: String): Unit = {
        val r = h.call(s"SemiJoinReducer.reduce[$name]")(
          SemiJoinReducer.reduce(dim, dimKey, by, byKey))
        h.call(s"ParquetIO.write[$name]")(ParquetIO.write(r, o(name)))
      }
      reduce("orders", orders, "o_orderkey", smp, "l_orderkey")
      val ords = h.call("ParquetIO.read")(ParquetIO.read(spark, o("orders")))
      reduce("customer", customer, "c_custkey", ords, "o_custkey")
      reduce("part", part, "p_partkey", smp, "l_partkey")
    }
    val joined = h.op("query", "read") {
      val Seq(s, ord, cus, prt) = h.call("ParquetIO.read") {
        Seq("sample", "orders", "customer", "part").map(n => ParquetIO.read(spark, o(n)))
      }
      s.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"))
        .join(prt, col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)), sum(col("l_quantity"))).head().getLong(0)
    }

    val expected = (factRows * ratio).toLong
    val got = h.checkInput("sample row count")(ParquetIO.rowCount(spark, o("sample")))
    h.check("sample row count is floor(n * ratio)")(got == expected)
    val (referenced, kept) = h.checkInput("referenced and kept keys") {
      val smp = ParquetIO.read(spark, o("sample"))
      val ords = ParquetIO.read(spark, o("orders"))
      (Map("orders" -> smp.select("l_orderkey").distinct().count(),
        "customer" -> ords.select("o_custkey").distinct().count(),
        "part" -> smp.select("l_partkey").distinct().count()),
        dims.map(d => d -> ParquetIO.rowCount(spark, o(d))).toMap)
    }
    dims.foreach(d => h.check(s"$d keeps exactly its referenced keys")(kept(d) == referenced(d)))
    h.check("every sampled row joins through the reduced dimensions")(joined == expected)

    if (i >= 0) {
      sampleRows += got.toDouble
      val scanned = Map("orders" -> orderRows, "customer" -> customerRows, "part" -> partRows)
      dims.foreach(d => keepRatio.getOrElseUpdate(d, mutable.ArrayBuffer()) +=
        kept(d).toDouble / scanned(d))
      bytesWritten += Workload.bytesUnder(new File(out)).toDouble
    }
    Workload.deleteTree(new File(out))
  }

  def verifyRun(): Unit =
    h.verify("inputs unchanged")(ParquetIO.rowCount(spark, path("in/fact")) == factRows)

  def detail: Map[String, Double] = Map(
    "pipeline_s" -> med(h.iterations.map(_.filter(_.cls == "write").map(_.wallNs).sum / 1e9)),
    "query_ms" -> med(h.perIterationMs("read")))

  def layers: Map[String, Double] = {
    val writes = Seq("ParquetIO.write") ++ dims.map(d => s"ParquetIO.write[$d]")
    val perIterWrite = h.tracer.toSeq.flatMap(_.spans)
      .filter(s => s.kind == "call" && s.iter >= 0 && writes.contains(s.name))
      .groupBy(_.iter).values.map(_.map(_.wallMs / 1000).sum)
    Map(
      "sampler.exact_s" -> callSeconds("Sampler.exact"),
      "sampler.jobs" -> callJobs("Sampler.exact"),
      "sampler.rows_out" -> Stats.lowMedian(sampleRows.toSeq),
      "parquetio.write_s" -> med(perIterWrite),
      "parquetio.bytes_written" -> med(bytesWritten)) ++
      dims.flatMap(d => Seq(
        s"semijoin.reduce_s.$d" ->
          (callSeconds(s"SemiJoinReducer.reduce[$d]") + callSeconds(s"ParquetIO.write[$d]")),
        s"semijoin.keep_ratio.$d" -> med(keepRatio.getOrElse(d, Nil))))
  }
}
