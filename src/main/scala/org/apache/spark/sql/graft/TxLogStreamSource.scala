package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.TxLog

/**
 * NATIVE Structured Streaming source for TxLog tables (r10 verdict #3):
 *
 * {{{
 *   spark.readStream.format("graft_txlog")
 *     .option("maxVersionsPerTrigger", 2)
 *     .load(tablePath)
 * }}}
 *
 * lets any VANILLA Spark streaming job follow a TxLog table with its own
 * checkpoints and triggers — the caller-driven loop of
 * [[graft.io.TxLogOps.changeStream]] lifted into the engine's streaming
 * runtime, with identical batch semantics: the FIRST batch is the initial
 * snapshot (tagged `insert`, at its resolution version, clamped to the
 * vacuum retention floor — the Delta streaming-source initial-snapshot
 * discipline), every later batch is a classified change-feed slice with
 * `_change_type` / `_commit_version` columns. Offsets are source VERSIONS
 * (a `LongOffset` of the last version the batch covers), so the stream's
 * checkpoint replays exactly the uncommitted range after a crash and a
 * resumed query consumes only versions committed since its mark.
 *
 * Implemented against the classic `Source` API deliberately: `getBatch`
 * returns a full Catalyst DataFrame, so the change-feed read keeps its
 * plan (column pruning, row-group skipping, dv position filters) instead of
 * funneling through a row-level reader. Rate limiting
 * (`maxVersionsPerTrigger`) follows the FileStreamSource discipline — the
 * largest version handed out persists under the stream's own metadata
 * dir, and a restart restores it from the replayed offsets as well.
 *
 * A read below the retention floor (the stream paused across a vacuum
 * that reclaimed its position) fails LOUDLY with the floor in the
 * message — never a silent gap; re-bootstrap with a fresh checkpoint.
 */
class TxLogSourceProvider extends StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "graft_txlog"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("graft_txlog", TxLogStreamSource.schemaFor(ctx, parameters))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new TxLogStreamSource(ctx, metadataPath, parameters)

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft_txlog sink does not take partitionBy — TxLog lays segments out itself")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft_txlog sink supports Append output mode only, got $outputMode — " +
        "aggregations belong on TxLog.followAggregate, not a complete-mode sink")
    new TxLogStreamSink(parameters)
  }
}

/**
 * NATIVE exactly-once streaming SINK for TxLog tables — the write twin of
 * [[TxLogStreamSource]]:
 *
 * {{{
 *   df.writeStream.format("graft_txlog")
 *     .option("checkpointLocation", ckp)
 *     .option("streamId", "my_pipeline")
 *     .start(tablePath)
 * }}}
 *
 * `streamId` defaults to `"graft_txlog_sink"`; SET IT whenever more than
 * one pipeline writes the same destination table — the exactly-once mark
 * is per (table, streamId), so two distinct pipelines sharing the default
 * id would skip each other's batch numbers.
 *
 * Each micro-batch lands as ONE atomic TxLog commit through
 * [[graft.io.TxLogOps.appendStreamBatch]] keyed by (streamId, batchId) —
 * a batch REPLAYED after a crash/restart (Structured Streaming
 * re-delivers the last uncommitted batch) is detected through the
 * checkpointed high-water mark and SKIPPED, whatever sink-side state the
 * crash left. End-to-end with the source this makes
 * `readStream.format("graft_txlog") → transform → writeStream
 * .format("graft_txlog")` an exactly-once table-to-table pipeline in
 * pure vanilla Spark streaming API. The destination table is created
 * from the first batch's schema if absent (empty batches never create).
 *
 * `mode=cdc` turns the sink into a REPLICATOR: the incoming batches are
 * classified change-feed slices (the `graft_txlog` SOURCE's shape —
 * `_change_type` / `_commit_version` present) and each applies as one
 * exactly-once keyed [[graft.io.TxLogOps.applyChangesKeyed]] rewrite:
 * inserts and update postimages upsert by `keys`, deletes drop the key,
 * preimages are ignored, the latest `_commit_version` wins within a
 * batch. The replica CONVERGES to the source table under any mix of
 * appends, upserts, and deletes — and stays a followable TxLog table
 * itself (the keyed commit carries its key columns, so the replica's own
 * change feed classifies). `keys` must uniquely identify source rows.
 * An optional `where` predicate (SQL expression over the data columns)
 * scopes a PARTIAL replica: matching rows upsert, and a postimage that
 * leaves the predicate DELETES its key — filtering the stream yourself
 * would strand rows that move out of scope.
 */
class TxLogStreamSink(parameters: Map[String, String])
    extends org.apache.spark.sql.execution.streaming.Sink {
  import TxLogStreamSource.{pathOf, ChangeType, CommitVersion}
  private val table = pathOf(parameters)
  private def opt(name: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
  private val streamId: String = opt("streamId").getOrElse("graft_txlog_sink")
  private val cdcKeys: Seq[String] = opt("mode").map(_.toLowerCase) match {
    case Some("cdc") =>
      val ks = opt("keys").getOrElse(throw new IllegalArgumentException(
        "graft_txlog sink mode=cdc needs .option(\"keys\", \"k1,k2\") — " +
          "the columns that uniquely identify a source row"))
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(ks.nonEmpty, "graft_txlog sink mode=cdc: keys must name at least one column")
      ks
    case Some("append") | None => Nil
    case Some(other) => throw new IllegalArgumentException(
      s"graft_txlog sink: unknown mode '$other' (append | cdc)")
  }

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val spark =
      data.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // the micro-batch frame arrives with isStreaming=true, which refuses
    // .write — rebuild a BATCH frame over the incremental plan's RDD (the
    // standard v1-sink rewrap; the plan executes once, at writeSegment)
    val batch = spark.internalCreateDataFrame(
      data.queryExecution.toRdd, data.schema, isStreaming = false)
    if (cdcKeys.nonEmpty) applyCdc(spark, batchId, batch)
    else {
      if (!TxLog.exists(table)) {
        // idempotent bootstrap: v0 = empty table with the stream's schema
        // (a racing creator loses loudly inside create — same discipline as
        // changeStream's destination bootstrap)
        TxLog.create(spark, table, batch.limit(0))
        ()
      }
      // AvailableNow sometimes schedules an EMPTY tail batch — the log
      // records only batches that carried rows (the streamSink adapter
      // discipline); skipping an empty batch id never breaks exactly-once
      // because a skipped id commits no data for a later replay to double
      if (!batch.isEmpty) {
        TxLog.appendStreamBatch(spark, table, batch, streamId, batchId)
        ()
      }
    }
  }

  private def applyCdc(spark: org.apache.spark.sql.classic.SparkSession,
      batchId: Long, batch: DataFrame): Unit = {
    val cols = batch.columns.toSet
    require(cols.contains(ChangeType) && cols.contains(CommitVersion),
      s"graft_txlog sink mode=cdc needs classified change rows " +
        s"($ChangeType, $CommitVersion) — pipe them from " +
        "spark.readStream.format(\"graft_txlog\") unfiltered")
    cdcKeys.foreach(k => require(cols.contains(k),
      s"graft_txlog sink mode=cdc: key column '$k' missing from the stream " +
        s"(have: ${batch.columns.mkString(", ")})"))
    // the change plan is referenced several times (winners, tombstones,
    // touched-segment scan) — pin the micro-batch so the source executes
    // once, not once per subplan
    val pinned = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (!TxLog.exists(table)) {
        TxLog.create(spark, table, pinned.drop(ChangeType, CommitVersion).limit(0))
        ()
      }
      val inScope = opt("where")
        .map(w => when(expr(w), lit("U")).otherwise(lit("D")))
        .getOrElse(lit("U"))
      val ops = pinned.filter(col(ChangeType) =!= "update_preimage")
        .withColumn("__graft_cdc_op",
          when(col(ChangeType) === "delete", lit("D")).otherwise(inScope))
        .drop(ChangeType)
      if (!ops.isEmpty) {
        // a source schema ADDITION widens the replica (restart the stream
        // to pick up the new source schema; the apply evolves from there)
        val dataCols = batch.columns.filterNot(
          c => c == ChangeType || c == CommitVersion).toSeq
        TxLog.applyChangesKeyed(spark, table, ops, cdcKeys,
          Seq(col(CommitVersion)), "__graft_cdc_op", streamId, batchId,
          evolveWith = dataCols,
          // the micro-batch is already pinned above — re-filtering cached
          // blocks is cheaper than a second block-manager materialization
          // (the bootstrap batch is the full snapshot)
          materializeWinners = false)
        ()
      }
    } finally { pinned.unpersist(); () }
  }

  override def toString: String =
    s"TxLogStreamSink($table, $streamId${if (cdcKeys.nonEmpty) s", cdc by ${cdcKeys.mkString(",")}" else ""})"
}

object TxLogStreamSource {
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  private[graft] def pathOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft_txlog source needs the table path: " +
          "spark.readStream.format(\"graft_txlog\").load(<tablePath>)"))

  /** Option validation shared by load() (sourceSchema) and the source
    * constructor — `load` must already refuse a bad startingVersion, not
    * defer the error to stream start. */
  private[graft] def validateStart(table: String,
      parameters: Map[String, String]): Option[Long] = {
    val sv = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("startingVersion") => v.toLong
    }
    sv.foreach { v =>
      require(v >= 1, s"startingVersion must be >= 1 (version 0 is the " +
        s"create snapshot — omit the option to stream it), got $v")
      val floor = TxLog.retentionFloor(table)
      require(v >= floor,
        s"startingVersion $v of $table was vacuumed (retention floor " +
          s"$floor) — the changes below the floor are gone")
    }
    sv
  }

  private[graft] def schemaFor(ctx: SQLContext,
      parameters: Map[String, String]): StructType = {
    val table = pathOf(parameters)
    require(TxLog.exists(table),
      s"graft_txlog source: not a TxLog table (no _graft_log commits): $table")
    validateStart(table, parameters)
    val base = TxLog.read(ctx.sparkSession, table).schema
    StructType(base.fields.toSeq :+
      StructField(ChangeType, StringType) :+ StructField(CommitVersion, LongType))
  }
}

class TxLogStreamSource(ctx: SQLContext, metadataPath: String,
    parameters: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import TxLogStreamSource._
  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit}

  private val spark =
    ctx.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private val table = pathOf(parameters)
  private val maxVersions: Long = parameters.collectFirst {
    case (k, v) if k.equalsIgnoreCase("maxVersionsPerTrigger") => v.toLong
  }.getOrElse(Long.MaxValue)
  require(maxVersions >= 1,
    s"maxVersionsPerTrigger must be >= 1, got $maxVersions")
  // startingVersion=v skips the initial snapshot and streams the
  // CLASSIFIED changes of versions >= v (the Delta startingVersion
  // semantics); without it the first batch is the full snapshot.
  // Validated at load() time too (schemaFor → validateStart).
  private val startingVersion: Option[Long] = validateStart(table, parameters)

  override val schema: StructType = schemaFor(ctx, parameters)

  // rate-limit bookkeeping that survives restarts: the largest version
  // handed out persists under the stream's checkpoint-scoped metadata dir;
  // getBatch ALSO restores it from replayed offsets (belt and braces).
  // metadataPath arrives as a QUALIFIED URI string (file:/…, hdfs://…,
  // s3a://…) — resolve it through the Hadoop FileSystem, never java.io
  // (a java.io.File would read "file:/tmp/…" as a RELATIVE path and
  // scribble under the driver's cwd)
  private val hwmPath =
    new org.apache.hadoop.fs.Path(metadataPath, "graft_txlog_hwm")
  private val hwmFs: org.apache.hadoop.fs.FileSystem =
    hwmPath.getFileSystem(spark.sessionState.newHadoopConf())
  private var handedOut: Long =
    if (hwmFs.exists(hwmPath)) {
      val buf = new Array[Byte](hwmFs.getFileStatus(hwmPath).getLen.toInt)
      val in = hwmFs.open(hwmPath)
      try in.readFully(buf) finally in.close()
      new String(buf, "UTF-8").trim.toLong
    } else -1L

  private def persistHwm(): Unit = {
    val out = hwmFs.create(hwmPath, true)
    try out.write(handedOut.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Both live `LongOffset`s and checkpoint-replayed `SerializedOffset`s
    * render the version as their json. */
  private def versionOf(o: OffsetV1): Long = o.json.trim.toLong

  // Trigger.AvailableNow latches the target version ONCE at start and the
  // rate-limited offsets step up to it batch by batch — the
  // SupportsTriggerAvailableNow protocol (FileStreamSource discipline;
  // without it the wrapper latches a single rate-limited getOffset and
  // the run stops after one trigger-bound batch).
  private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(TxLog.latest(table).version)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  private def nextHandout(): Long = {
    val latestRaw = TxLog.latest(table).version
    val latest = availableNowTarget.fold(latestRaw)(math.min(latestRaw, _))
    // a fresh stream with startingVersion set behaves as if it had
    // already handed out sv-1: the first batch is the classified range
    // (sv-1, …], never the snapshot
    val base =
      if (handedOut >= 0) handedOut
      else startingVersion.map(_ - 1L).getOrElse(-1L)
    val to =
      if (base < 0)
        // bootstrap: the initial snapshot resolves at the newest version
        // within the trigger bound, clamped UP to the vacuum floor (on a
        // vacuumed source the earliest readable snapshot may already span
        // more than one trigger's versions)
        math.max(TxLog.retentionFloor(table), math.min(maxVersions - 1L, latest))
      else if (latest <= base) base // caught up
      else {
        // SATURATING add: the unlimited default is Long.MaxValue, and
        // base + Long.MaxValue overflows negative the moment base >= 1 —
        // which poisoned the offset log with Long.MinValue and stalled
        // every later resume
        val step =
          if (maxVersions > Long.MaxValue - base) Long.MaxValue
          else base + maxVersions
        math.min(step, latest)
      }
    if (to > handedOut) { handedOut = to; persistHwm() }
    to
  }

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    LongOffset(nextHandout())

  override def reportLatestOffset(): OffsetV2 =
    LongOffset(TxLog.latest(table).version)

  override def getOffset: Option[OffsetV1] = Some(LongOffset(nextHandout()))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val to = versionOf(end)
    require(to >= 0, s"graft_txlog source: negative end offset $to — " +
      "the checkpoint's offset log is corrupt; re-bootstrap with a fresh checkpoint")
    if (to > handedOut) { handedOut = to; persistHwm() } // restart restore
    val batch = start.map(versionOf) match {
      case None => startingVersion match {
        // startingVersion: the first batch is the classified range
        // (sv-1, to] — no initial snapshot (Delta semantics)
        case Some(sv) => TxLog.changeFeed(spark, table, sv - 1, to)
        case None =>
          TxLog.read(spark, table, to)
            .withColumn(ChangeType, lit("insert"))
            .withColumn(CommitVersion, lit(to))
      }
      case Some(f) => TxLog.changeFeed(spark, table, f, to)
    }
    // align to the stream schema by name, NULL-padding columns the slice
    // predates (a range below a schema-widening commit, or an empty feed
    // resolved at a pre-drift version, carries the old columns — the
    // mergeSchema discipline applies to stream slices too); then mark the
    // plan streaming (MicroBatchExecution asserts isStreaming on v1 plans)
    val aligned = batch.select(schema.map(f =>
      if (batch.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
    spark.internalCreateDataFrame(
      aligned.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
}
