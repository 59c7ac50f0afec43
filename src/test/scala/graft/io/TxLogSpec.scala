package graft.io

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** TxLog: versioned snapshots compose the upsert/CDC/diff/compaction
  * family without lost updates — including under genuinely concurrent
  * writers (the optimistic hard-link claim serializes commits). */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    TempDirs.create("txlog_spec_").resolve("t").toString

  test("lifecycle: create, append, upsert, delete, compact; time travel sees history") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "v"))
    TxLog.append(spark, tbl, Seq((3L, "c", 30L)).toDF("k", "name", "v"))
    TxLog.upsert(spark, tbl, Seq((2L, "b2", 21L), (4L, "d", 40L)).toDF("k", "name", "v"), Seq("k"))
    TxLog.delete(spark, tbl, col("k") === 1L)
    TxLog.compact(spark, tbl, targetPartitions = 1)

    val live = TxLog.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(live === Set((2L, "b2", 21L), (3L, "c", 30L), (4L, "d", 40L)))
    // time travel: every version is still readable and correct
    assert(TxLog.read(spark, tbl, 0).count() === 2)
    assert(TxLog.read(spark, tbl, 1).count() === 3)
    assert(TxLog.read(spark, tbl, 2).collect().map(_.getLong(2)).sorted.toSeq
      === Seq(10L, 21L, 30L, 40L))
    assert(TxLog.read(spark, tbl, 3).count() === 3)
    assert(TxLog.read(spark, tbl, 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet === live)
    assert(TxLog.history(tbl).map(s => (s.version, s.op)) ===
      Seq((0L, "create"), (1L, "append"), (2L, "upsert:keys=k"), (3L, "delete"),
        (4L, "compact")))
    // every commit records its writer's timestamp
    assert(TxLog.history(tbl).forall(_.ts > 0L))
    // compaction really compacted: one segment, one part file
    assert(TxLog.latest(tbl).segments.size === 1)
  }

  test("diffVersions classifies added/removed/changed/unchanged across versions") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "t"))
    TxLog.upsert(spark, tbl, Seq((2L, "y2"), (4L, "w")).toDF("k", "t"), Seq("k"))
    TxLog.delete(spark, tbl, col("k") === 3L)
    val d = TxLog.diffVersions(spark, tbl, 0L, 2L, Seq("k"), md5(col("t").cast("binary")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("cdc applyChanges: per-key winners upsert, tombstone winners delete") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("k", "name", "v"))
    // out-of-order feed: k=1 update v2 then delete v3 (dead); k=2 two
    // updates, v5 wins; k=5 insert
    val changes = Seq(
      (1L, "a2", 2L, "U"), (1L, "a3", 3L, "D"),
      (2L, "b5", 5L, "U"), (2L, "b4", 4L, "U"),
      (5L, "e", 1L, "U")).toDF("k", "name", "v", "op")
    TxLog.applyChanges(spark, tbl, changes, Seq("k"), Seq(col("v")), "op")
    val live = TxLog.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(live === Set((2L, "b5", 5L), (3L, "c", 1L), (5L, "e", 1L)))
  }

  test("deleting every row keeps the schema readable at 0 rows") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a")).toDF("k", "t"))
    TxLog.delete(spark, tbl, lit(true))
    val empty = TxLog.read(spark, tbl)
    assert(empty.count() === 0 && empty.columns.toSeq === Seq("k", "t"))
  }

  // the concurrency suite runs against BOTH LogStore bindings: the POSIX
  // link(2) claim (production) and the in-memory conditional-PUT claim (the
  // S3-class contract) — the protocol, not the filesystem accident, is what
  // must be correct
  for ((label, ops) <- Seq(
      "posix link(2)" -> TxLog,
      "conditional-PUT" -> new TxLogOps(new InMemoryLogStore))) {

    test(s"[$label] concurrent appends all survive with distinct contiguous versions") {
      val tbl = freshTable()
      ops.create(spark, tbl, Seq((0L, 0L)).toDF("k", "v"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futures = (1 to 8).map { i =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long =
              ops.append(spark, tbl, Seq((i.toLong, i.toLong)).toDF("k", "v")).version
          })
        }
        val versions = futures.map(_.get()).sorted
        assert(versions === (1L to 8L), s"got $versions") // every claim distinct
      } finally pool.shutdown()
      assert(ops.read(spark, tbl).count() === 9) // no append lost
      assert(ops.history(tbl).map(_.version) === (0L to 8L))
    }

    test(s"[$label] concurrent deletion-vector deletes both apply; loser recomputes against winner's vectors") {
      val tbl = freshTable()
      ops.create(spark, tbl,
        spark.range(0, 100).selectExpr("id AS k", "id AS v").coalesce(1))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        // overlapping predicates: k%10==3 and k%5==3 share keys 3,13,...
        // — the loser must recompute against the winner's vectors, so the
        // shared rows land in exactly ONE vector (CDF stays exactly-once)
        val f1 = pool.submit(new Runnable {
          def run(): Unit = { ops.deleteRows(spark, tbl, col("k") % 10 === 3); () }
        })
        val f2 = pool.submit(new Runnable {
          def run(): Unit = { ops.deleteRows(spark, tbl, col("k") % 5 === 3); () }
        })
        f1.get(); f2.get()
      } finally pool.shutdown()
      // union of both predicates dead (k%5==3 ⊇ k%10==3: 20 rows)
      assert(ops.read(spark, tbl).count() === 80)
      // if the BROADER delete won the race, the narrower one finds all its
      // rows already dead and correctly commits NOTHING
      val h = ops.history(tbl).map(_.version)
      assert(h === Seq(0L, 1L) || h === Seq(0L, 1L, 2L), s"got $h")
      // exactly-once CDF: 20 deletes total, no row emitted twice
      val feed = ops.changeFeed(spark, tbl, 0L)
      assert(feed.count() === 20)
      assert(feed.select(col("k")).distinct().count() === 20)
    }

    test(s"[$label] concurrent conflicting rewrites both apply (loser recomputes, no lost update)") {
      val tbl = freshTable()
      ops.create(spark, tbl, Seq((1L, 0L), (2L, 0L)).toDF("k", "v"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val f1 = pool.submit(new Runnable {
          def run(): Unit =
            { ops.upsert(spark, tbl, Seq((1L, 100L)).toDF("k", "v"), Seq("k")); () }
        })
        val f2 = pool.submit(new Runnable {
          def run(): Unit =
            { ops.upsert(spark, tbl, Seq((2L, 200L)).toDF("k", "v"), Seq("k")); () }
        })
        f1.get(); f2.get()
      } finally pool.shutdown()
      // a lost update would leave one key at 0
      val live = ops.read(spark, tbl).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(live === Map(1L -> 100L, 2L -> 200L))
      assert(ops.history(tbl).map(_.version) === Seq(0L, 1L, 2L))
    }
  }

  test("appendStreamBatch: a replayed (streamId, batchId) is skipped, never double-applied") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((0L, 0L)).toDF("k", "v"))
    assert(TxLog.appendStreamBatch(spark, tbl, Seq((1L, 1L)).toDF("k", "v"), "s", 0L))
    // the restart scenario: same batch re-delivered
    assert(!TxLog.appendStreamBatch(spark, tbl, Seq((1L, 1L)).toDF("k", "v"), "s", 0L))
    assert(TxLog.read(spark, tbl).count() === 2) // not 3
    // a NEW batch id commits; a different streamId has its own id space
    assert(TxLog.appendStreamBatch(spark, tbl, Seq((2L, 2L)).toDF("k", "v"), "s", 1L))
    assert(TxLog.appendStreamBatch(spark, tbl, Seq((3L, 3L)).toDF("k", "v"), "s2", 0L))
    assert(TxLog.read(spark, tbl).count() === 4)
    assert(TxLog.history(tbl).map(_.op) === Seq("create",
      "stream_append:s:0", "stream_append:s:1", "stream_append:s2:0"))
  }

  test("appendedIn reads only the new segments; rewrite commits refuse the delta") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, 10L)).toDF("k", "v"))
    TxLog.append(spark, tbl, Seq((2L, 20L), (3L, 30L)).toDF("k", "v"))
    val d1 = TxLog.appendedIn(spark, tbl, 1L).collect().map(_.getLong(0)).sorted
    assert(d1.toSeq === Seq(2L, 3L)) // only the appended rows, not v0's
    TxLog.upsert(spark, tbl, Seq((1L, 11L)).toDF("k", "v"), Seq("k"))
    val e = intercept[IllegalArgumentException] { TxLog.appendedIn(spark, tbl, 2L) }
    assert(e.getMessage.contains("rewrote"))
    intercept[IllegalArgumentException] { TxLog.appendedIn(spark, tbl, 0L) }
  }

  private def dataSegmentDirs(tbl: String): Set[String] = {
    val d = new java.io.File(tbl, "data")
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.isDirectory).map(f => s"data/${f.getName}").toSet
  }

  test("vacuum: retained time travel bit-identical, sub-floor reads fail loudly, segments reclaimed") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))             // v0
    TxLog.upsert(spark, tbl, Seq((1L, 11L)).toDF("k", "v"), Seq("k"))              // v1 rewrite
    TxLog.upsert(spark, tbl, Seq((2L, 22L)).toDF("k", "v"), Seq("k"))              // v2 rewrite
    TxLog.append(spark, tbl, Seq((3L, 30L)).toDF("k", "v"))                        // v3
    val v3Rows = TxLog.read(spark, tbl, 3L).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = dataSegmentDirs(tbl)
    assert(before.size === 4) // one fresh segment per commit so far

    // retain the newest 2 versions: vacuum commits v4, floor = 3
    val snap = TxLog.vacuum(spark, tbl, retainVersions = 2)
    assert(snap.version === 4L && TxLog.retentionFloor(tbl) === 3L)

    // (a) time travel within retention still reads bit-identically
    assert(TxLog.read(spark, tbl, 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === v3Rows)
    assert(TxLog.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === v3Rows) // v4 == v3 content
    // (b) a vacuumed version fails loudly with the retention bound
    val e = intercept[IllegalArgumentException] { TxLog.read(spark, tbl, 1L) }
    assert(e.getMessage.contains("vacuumed") && e.getMessage.contains("floor 3"))
    intercept[IllegalArgumentException] { TxLog.appendedIn(spark, tbl, 1L) }
    // (c) sub-floor-only segments are gone; retained manifests' segments stay
    val keep = (3L to 4L).flatMap(v => TxLog.history(tbl).find(_.version == v).get.segments).toSet
    assert(dataSegmentDirs(tbl) === keep)
    assert(keep.size === 2) // v2's rewrite segment + v3's append segment
    // (d) an unreferenced (in-flight-shaped) segment dir is NOT touched
    val orphan = new java.io.File(tbl, "data/orphan_inflight")
    orphan.mkdirs()
    TxLog.append(spark, tbl, Seq((4L, 40L)).toDF("k", "v"))
    TxLog.vacuum(spark, tbl, retainVersions = 1)
    assert(orphan.exists())
    // repeated vacuum is idempotent and monotone
    assert(TxLog.retentionFloor(tbl) === 6L)
    assert(TxLog.read(spark, tbl).count() === 4)
    intercept[IllegalArgumentException] { TxLog.vacuum(spark, tbl, retainVersions = 0) }
  }

  test("checkpoint boundary: reads, stream replay checks, and floor survive the cutover") {
    // interval 3 over the POSIX store so a short history crosses several
    // checkpoint boundaries
    val ops = new TxLogOps(PosixLogStore, checkpointInterval = 3)
    val tbl = freshTable()
    ops.create(spark, tbl, Seq((0L, 0L)).toDF("k", "v"))                     // v0
    (1L to 7L).foreach { b =>
      assert(ops.appendStreamBatch(spark, tbl, Seq((b, b)).toDF("k", "v"), "s", b))
    }                                                                        // v1..v7
    // checkpoints exist at v3 and v6 and the pointer tracks the newest
    assert(ops.store.readPointer(tbl, "_last_checkpoint").map(_.trim) === Some("6"))
    assert(ops.store.list(tbl).count(_.endsWith(".checkpoint")) === 2)
    // replay checks resolve THROUGH the checkpoint: batch 2 committed before
    // the v6 checkpoint, batch 7 after it — both must be skipped
    assert(!ops.appendStreamBatch(spark, tbl, Seq((99L, 99L)).toDF("k", "v"), "s", 2L))
    assert(!ops.appendStreamBatch(spark, tbl, Seq((99L, 99L)).toDF("k", "v"), "s", 7L))
    // a fresh batch id still commits; a different stream has its own marks
    assert(ops.appendStreamBatch(spark, tbl, Seq((8L, 8L)).toDF("k", "v"), "s", 8L))
    assert(ops.appendStreamBatch(spark, tbl, Seq((100L, 1L)).toDF("k", "v"), "s2", 0L))
    assert(ops.read(spark, tbl).count() === 10)
    // the floor committed before a checkpoint still binds after it
    ops.vacuum(spark, tbl, retainVersions = 2)                               // v10 floor=9
    ops.append(spark, tbl, Seq((101L, 1L)).toDF("k", "v"))                   // v11
    ops.append(spark, tbl, Seq((102L, 1L)).toDF("k", "v"))                   // v12 -> checkpoint
    assert(ops.store.readPointer(tbl, "_last_checkpoint").map(_.trim) === Some("12"))
    assert(ops.retentionFloor(tbl) === 9L)
    intercept[IllegalArgumentException] { ops.read(spark, tbl, 8L) }
    assert(ops.read(spark, tbl).count() === 12)
  }

  test("schema evolution: appended columns merge across generations; incompatible types fail loudly") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a"), (2L, "b")).toDF("k", "t"))
    // generation 2 carries an ADDED column: merged read surfaces it, the
    // older generation reads NULL there
    TxLog.append(spark, tbl, Seq((3L, "c", 7L)).toDF("k", "t", "extra"))
    val merged = TxLog.read(spark, tbl)
    assert(merged.columns.toSeq === Seq("k", "t", "extra"))
    val rows = merged.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows === Set((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 7L)))
    // time travel below the schema change sees the OLD schema only
    assert(TxLog.read(spark, tbl, 0L).columns.toSeq === Seq("k", "t"))
    // the append-delta read of the new generation carries the new column
    assert(TxLog.appendedIn(spark, tbl, 1L).columns.toSeq === Seq("k", "t", "extra"))
    // an incompatible type change (t: string -> long) fails loudly at read
    TxLog.append(spark, tbl, Seq((4L, 9L)).toDF("k", "t"))
    val e = intercept[Exception] { TxLog.read(spark, tbl).collect() }
    assert(e.getMessage.toLowerCase.contains("merge") ||
      e.getMessage.toLowerCase.contains("schema"))
  }

  test("optimize (Z-order rewrite): same rows, op recorded, clustering measurably tightens") {
    val tbl = freshTable()
    // 4000 rows whose (a, b) arrive in id order — a narrow a-window
    // overlaps every row group before optimize
    val df = spark.range(4000).selectExpr("id AS k",
      "CAST((id * 2654435761) % 1000 AS DOUBLE) AS a",
      "CAST((id * 40503) % 1000 AS DOUBLE) AS b")
    TxLog.create(spark, tbl, df.repartition(8))
    val before = TxLog.read(spark, tbl).collect().map(_.toString).sorted.toSeq
    val snap = TxLog.optimize(spark, tbl, "a", "b", targetPartitions = 32)
    assert(snap.op === "optimize_zorder:a,b")
    val after = TxLog.read(spark, tbl).collect().map(_.toString).sorted.toSeq
    assert(after === before) // layout is physical, content identical
    // the optimized segment's row-group envelopes are tight on BOTH
    // clustering dims: a 5% window on either overlaps a minority of groups
    // (pre-optimize, id-ordered arrival makes every group overlap)
    val seg = s"$tbl/${snap.segments.head}"
    Seq("a", "b").foreach { c =>
      val (overlap, total) = ZOrder.overlappingRowGroups(spark, seg, c, 100.0, 150.0)
      assert(total >= 16 && overlap.toDouble / total <= 0.5,
        s"z-order did not tighten '$c' envelopes: $overlap/$total groups overlap a 5% window")
    }
  }

  test("changeFeed tags appended rows with their commit version and _change_type") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, 10L)).toDF("k", "v"))            // v0
    TxLog.append(spark, tbl, Seq((2L, 20L), (3L, 30L)).toDF("k", "v")) // v1
    TxLog.append(spark, tbl, Seq((4L, 40L)).toDF("k", "v"))            // v2
    val feed = TxLog.changeFeed(spark, tbl, 0L)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("_commit_version"),
        r.getAs[String]("_change_type"))).toSet
    // v0's rows are NOT changes; appends are inserts
    assert(feed === Set((2L, 1L, "insert"), (3L, 1L, "insert"), (4L, 2L, "insert")))
    // an empty range is empty with the feed schema
    assert(TxLog.changeFeed(spark, tbl, 2L).count() === 0)
    // schema evolution inside the range: the added column surfaces, earlier
    // versions read NULL there
    TxLog.append(spark, tbl, Seq((5L, 50L, "x")).toDF("k", "v", "extra")) // v3
    val evolved = TxLog.changeFeed(spark, tbl, 0L)
    assert(evolved.columns.toSet ===
      Set("k", "v", "extra", "_change_type", "_commit_version"))
    assert(evolved.filter(col("extra").isNotNull).count() === 1)
  }

  test("changeFeed full CDF: rewrites classify as update pre/postimage, delete, insert") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a"), (2L, "b")).toDF("k", "t"))        // v0
    TxLog.append(spark, tbl, Seq((3L, "c")).toDF("k", "t"))                   // v1
    TxLog.upsert(spark, tbl, Seq((2L, "b2"), (4L, "d")).toDF("k", "t"), Seq("k")) // v2
    TxLog.delete(spark, tbl, col("k") === 1L)                                  // v3
    TxLog.compact(spark, tbl, targetPartitions = 1)                            // v4
    val feed = TxLog.changeFeed(spark, tbl, 0L)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("t"),
        r.getAs[Long]("_commit_version"), r.getAs[String]("_change_type"))).toSet
    assert(feed === Set(
      (3L, "c", 1L, "insert"),
      (2L, "b", 2L, "update_preimage"), (2L, "b2", 2L, "update_postimage"),
      (4L, "d", 2L, "insert"),
      (1L, "a", 3L, "delete")))
    // compact (v4) is row-preserving: no CDF rows — verified by the set above
    // a key's unchanged rows never appear: upsert of the SAME value is silent
    TxLog.upsert(spark, tbl, Seq((2L, "b2")).toDF("k", "t"), Seq("k"))         // v5
    assert(TxLog.changeFeed(spark, tbl, 4L).count() === 0)
    // a delete matching nothing emits nothing (and commits no new segment)
    val segsBefore = TxLog.latest(tbl).segments
    TxLog.delete(spark, tbl, col("k") === 999L)                                // v6
    assert(TxLog.latest(tbl).segments === segsBefore)
    assert(TxLog.changeFeed(spark, tbl, 5L).count() === 0)
    // CDF across a SCHEMA-EVOLVING rewrite: the evolved column rides the
    // classified rows; earlier generations surface NULL there
    TxLog.append(spark, tbl, Seq((7L, "g", 10L)).toDF("k", "t", "extra"))      // v7
    TxLog.upsert(spark, tbl, Seq((7L, "g2", 20L), (3L, "c", 99L))
      .toDF("k", "t", "extra"), Seq("k"))                                      // v8
    val evolved = TxLog.changeFeed(spark, tbl, 6L)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("t"),
        if (r.isNullAt(r.fieldIndex("extra"))) -1L else r.getAs[Long]("extra"),
        r.getAs[Long]("_commit_version"), r.getAs[String]("_change_type"))).toSet
    assert(evolved === Set(
      (7L, "g", 10L, 7L, "insert"),
      (7L, "g", 10L, 8L, "update_preimage"), (7L, "g2", 20L, 8L, "update_postimage"),
      (3L, "c", -1L, 8L, "update_preimage"), (3L, "c", 99L, 8L, "update_postimage")))
  }

  test("copy-on-write: selective rewrites keep untouched segments verbatim") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a"), (2L, "b")).toDF("k", "t"))   // seg A
    TxLog.append(spark, tbl, Seq((11L, "k"), (12L, "l")).toDF("k", "t")) // seg B
    TxLog.append(spark, tbl, Seq((21L, "u"), (22L, "v")).toDF("k", "t")) // seg C
    val v2 = TxLog.latest(tbl)
    val Seq(segA, segB, segC) = v2.segments

    // upsert touching only seg B: A and C carry forward VERBATIM
    TxLog.upsert(spark, tbl, Seq((12L, "l2")).toDF("k", "t"), Seq("k"))
    val v3 = TxLog.latest(tbl)
    assert(v3.segments.contains(segA) && v3.segments.contains(segC))
    assert(!v3.segments.contains(segB) && v3.segments.size === 3)
    assert(TxLog.read(spark, tbl).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a"), (2L, "b"), (11L, "k"), (12L, "l2"), (21L, "u"), (22L, "v")))

    // delete touching only seg C: A and the upsert's fresh segment survive
    TxLog.delete(spark, tbl, col("k") === 22L)
    val v4 = TxLog.latest(tbl)
    assert(v4.segments.contains(segA) && !v4.segments.contains(segC))
    assert(v4.segments.size === 3)
    assert(TxLog.read(spark, tbl).count() === 5)

    // pure insert (no key collision): EVERY segment carries forward
    TxLog.upsert(spark, tbl, Seq((99L, "z")).toDF("k", "t"), Seq("k"))
    val v5 = TxLog.latest(tbl)
    assert(v4.segments.forall(v5.segments.contains) && v5.segments.size === 4)
    assert(TxLog.read(spark, tbl).count() === 6)

    // cdc_apply touching only seg A: B-successor/C-successor segments kept
    val changes = Seq((1L, "a2", 2L, "U"), (2L, "x", 2L, "D"))
      .toDF("k", "t", "ver", "op")
    TxLog.applyChanges(spark, tbl, changes.select(col("k"), col("t"), col("ver"), col("op")),
      Seq("k"), Seq(col("ver")), "op")
    val v6 = TxLog.latest(tbl)
    assert(!v6.segments.contains(segA))
    assert(v5.segments.filterNot(_ == segA).forall(v6.segments.contains))
    assert(TxLog.read(spark, tbl).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a2"), (11L, "k"), (12L, "l2"), (21L, "u"), (99L, "z")))
    // the full-CDF feed over the whole lifecycle classifies every step
    val ops = TxLog.changeFeed(spark, tbl, 2L).select(col("_change_type"))
      .collect().map(_.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    assert(ops === Map("update_preimage" -> 2, "update_postimage" -> 2,
      "delete" -> 2, "insert" -> 1))
  }

  test("followAggregate: exactly-once incremental follower equals from-scratch under any batching") {
    val src = freshTable()
    val dstA = freshTable()
    val dstB = freshTable()
    def batch(rows: (String, Long)*) = rows.toDF("g", "x")
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("x")).as("s"))

    TxLog.create(spark, src, batch("a" -> 1L, "b" -> 2L))                 // v0
    TxLog.append(spark, src, batch("a" -> 10L))                           // v1
    // follower A advances after every source commit; follower B once at the end
    assert(TxLog.followAggregate(spark, src, dstA, "c1", Seq("g"))(aggOf))
    TxLog.append(spark, src, batch("b" -> 20L, "c" -> 5L))                // v2
    TxLog.append(spark, src, batch("a" -> 100L))                          // v3
    assert(TxLog.followAggregate(spark, src, dstA, "c1", Seq("g"))(aggOf))
    assert(TxLog.followAggregate(spark, src, dstB, "c9", Seq("g"))(aggOf))
    // caught up: the replayed call is SKIPPED (exactly-once), state unchanged
    val nVersionsA = TxLog.history(dstA).length
    assert(!TxLog.followAggregate(spark, src, dstA, "c1", Seq("g"))(aggOf))
    assert(TxLog.history(dstA).length === nVersionsA)

    val expected = aggOf(TxLog.read(spark, src))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    for (dst <- Seq(dstA, dstB))
      assert(TxLog.read(spark, dst)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet === expected,
        s"follower state != from-scratch aggregate for $dst")

    // a source REWRITE poisons additive following: loud, not wrong
    TxLog.upsert(spark, src, batch("a" -> 7L), Seq("g"))                  // v4 rewrite
    TxLog.append(spark, src, batch("d" -> 1L))                            // v5
    val e = intercept[Exception] {
      TxLog.followAggregate(spark, src, dstA, "c1", Seq("g"))(aggOf)
    }
    assert(e.getMessage.contains("rewrite commit"))
  }

  test("compactSmall bin-packs only the small tier; big segments carry forward verbatim") {
    val tbl = freshTable()
    // one BIG segment (many rows), then a stream of tiny ones
    TxLog.create(spark, tbl, spark.range(20000).selectExpr("id AS k", "id * 2 AS v"))
    (1L to 4L).foreach { i =>
      TxLog.append(spark, tbl, Seq((1000000L + i, i)).toDF("k", "v")); ()
    }
    val before = TxLog.latest(tbl)
    val big = before.segments.head
    val snap = TxLog.compactSmall(spark, tbl, smallBytes = 100000L)
    assert(snap.op === "compact_small:4")
    assert(snap.segments.contains(big), "the big segment must carry forward verbatim")
    assert(snap.segments.size === 2, s"4 tiny segments must pack into 1: ${snap.segments}")
    assert(TxLog.read(spark, tbl).count() === 20004L)
    // row-preserving: the feed emits nothing for the compaction version
    assert(TxLog.changeFeed(spark, tbl, snap.version - 1).count() === 0)
    // idempotent: one small segment left (the packed one) is a no-op
    val again = TxLog.compactSmall(spark, tbl, smallBytes = 100000L)
    assert(again.op === "compact_small:noop" && again.segments === snap.segments)
  }

  test("manifest stats: recorded at commit, carried through COW, drive readWhere pruning") {
    val tbl = freshTable()
    // three segments with DISJOINT key ranges
    TxLog.create(spark, tbl, spark.range(0, 100).selectExpr("id AS k", "id * 10 AS v"))
    TxLog.append(spark, tbl, spark.range(100, 200).selectExpr("id AS k", "id * 10 AS v"))
    TxLog.append(spark, tbl, spark.range(200, 300).selectExpr("id AS k", "id * 10 AS v"))
    val snap = TxLog.latest(tbl)
    assert(snap.segments.forall(s => snap.stats.get(s).exists(_.contains("k"))),
      s"every segment must carry a k envelope: ${snap.stats}")
    assert(snap.stats(snap.segments.head)("k") === ColEnv(0.0, 99.0, noNulls = true))
    // pruning: a range inside the middle segment scans exactly one
    val (scanned, skipped) = TxLog.prunedSegments(tbl, "k", 120.0, 150.0)
    assert(scanned === Seq(snap.segments(1)) && skipped.size === 2)
    // content equals the unpruned filter, both integral and fractional bounds
    val expect = TxLog.read(spark, tbl).filter(col("k") >= 120 && col("k") <= 150)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(TxLog.readWhere(spark, tbl, "k", 120.0, 150.0)
      .collect().map(_.getLong(0)).sorted.toSeq === expect)
    assert(TxLog.readWhere(spark, tbl, "k", 119.5, 150.5)
      .collect().map(_.getLong(0)).sorted.toSeq === expect)
    // a range outside every envelope returns empty with the schema intact
    assert(TxLog.readWhere(spark, tbl, "k", 5000.0, 6000.0).count() === 0)
    assert(TxLog.readWhere(spark, tbl, "k", 5000.0, 6000.0).columns.toSeq === Seq("k", "v"))
    // COW upsert: envelopes RIDE the kept segments and the fresh one gets its own
    TxLog.upsert(spark, tbl, Seq((150L, 9999L)).toDF("k", "v"), Seq("k"))
    val v3 = TxLog.latest(tbl)
    assert(v3.segments.contains(snap.segments.head) &&
      v3.stats(snap.segments.head)("k") === ColEnv(0.0, 99.0, noNulls = true))
    val fresh = v3.segments.filterNot(snap.segments.contains).head
    assert(v3.stats(fresh)("k") === ColEnv(100.0, 199.0, noNulls = true))
    // post-upsert pruning still exact
    assert(TxLog.readWhere(spark, tbl, "v", 9999.0, 9999.0)
      .collect().map(_.getLong(0)).toSeq === Seq(150L))
    // an all-NULL column records no envelope and is never pruned on
    val tbl2 = freshTable()
    TxLog.create(spark, tbl2,
      Seq((1L, Option.empty[Long]), (2L, Option.empty[Long])).toDF("k", "n"))
    val s2 = TxLog.latest(tbl2)
    assert(s2.stats.values.forall(!_.contains("n")))
    assert(TxLog.readWhere(spark, tbl2, "k", 1.0, 1.0).count() === 1)
  }

  test("vacuum orphan sweep: aged unreferenced dirs reclaimed, fresh and referenced survive") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, 10L)).toDF("k", "v"))
    TxLog.append(spark, tbl, Seq((2L, 20L)).toDF("k", "v"))
    // an ORPHAN from a writer that died before claiming: old enough to sweep
    val oldOrphan = new java.io.File(tbl, "data/orphan_old")
    oldOrphan.mkdirs()
    val f = new java.io.File(oldOrphan, "part-0.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    val past = System.currentTimeMillis() - 60000L
    f.setLastModified(past); oldOrphan.setLastModified(past)
    // a FRESH in-flight segment (just written, claim imminent): must survive
    val freshOrphan = new java.io.File(tbl, "data/orphan_fresh")
    freshOrphan.mkdirs()
    // referenced segments are never orphans, whatever their age
    TxLog.latest(tbl).segments.foreach { s =>
      val d = new java.io.File(tbl, s)
      d.setLastModified(past)
      d.listFiles().foreach(_.setLastModified(past))
    }
    TxLog.vacuum(spark, tbl, retainVersions = 10, orphanAgeMs = 30000L)
    assert(!oldOrphan.exists(), "aged orphan dir must be reclaimed")
    assert(freshOrphan.exists(), "fresh in-flight dir must survive the sweep")
    assert(TxLog.read(spark, tbl).count() === 2, "referenced segments untouched")
    // default (orphanAgeMs < 0) never sweeps
    val another = new java.io.File(tbl, "data/orphan_old2")
    another.mkdirs(); another.setLastModified(past)
    TxLog.append(spark, tbl, Seq((3L, 30L)).toDF("k", "v"))
    TxLog.vacuum(spark, tbl, retainVersions = 10)
    assert(another.exists())
  }

  test("timestamp time travel: versionAt monotonizes writer clock skew") {
    val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
    // writer clock: 1000, 2000, 3000, ... per commit
    val ops = new TxLogOps(PosixLogStore, clock = () => ticks.addAndGet(1000L))
    val tbl = freshTable()
    ops.create(spark, tbl, Seq((1L, 10L)).toDF("k", "v"))   // v0 ts=1000
    ops.append(spark, tbl, Seq((2L, 20L)).toDF("k", "v"))   // v1 ts=2000
    ops.append(spark, tbl, Seq((3L, 30L)).toDF("k", "v"))   // v2 ts=3000
    assert(ops.versionAt(tbl, 1000L) === 0L)
    assert(ops.versionAt(tbl, 1999L) === 0L)
    assert(ops.versionAt(tbl, 2000L) === 1L)
    assert(ops.versionAt(tbl, 999999L) === 2L)
    assert(ops.readAsOf(spark, tbl, 2500L).count() === 2L)
    val e = intercept[IllegalArgumentException] { ops.versionAt(tbl, 999L) }
    assert(e.getMessage.contains("no retained version"))
    // SKEWED writer: v3's clock reads EARLIER than v2's — the running-max
    // monotonization keeps history ordered (v3 resolves at v2's time)
    val skewed = new TxLogOps(PosixLogStore, clock = () => 1500L)
    skewed.append(spark, tbl, Seq((4L, 40L)).toDF("k", "v")) // v3 ts=1500 (skew)
    assert(ops.versionAt(tbl, 2999L) === 1L) // v2 at 3000 still binds
    assert(ops.versionAt(tbl, 3000L) === 3L) // v3 monotonized UP to 3000
    assert(ops.readAsOf(spark, tbl, 3000L).count() === 4L)
  }

  test("create on an existing table fails; reads of unknown versions fail loudly") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a")).toDF("k", "t"))
    intercept[IllegalArgumentException] {
      TxLog.create(spark, tbl, Seq((2L, "b")).toDF("k", "t"))
    }
    intercept[RuntimeException] { TxLog.read(spark, tbl, 99L) }
  }

  test("deleteWhere: disjoint kept verbatim, covered dropped metadata-only, partial rewritten") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, spark.range(0, 100).selectExpr("id AS k", "id * 10 AS v"))
    TxLog.append(spark, tbl, spark.range(100, 200).selectExpr("id AS k", "id * 10 AS v"))
    TxLog.append(spark, tbl, spark.range(200, 300).selectExpr("id AS k", "id * 10 AS v"))
    val before = TxLog.latest(tbl)
    // the range covers segment 2 ENTIRELY and segment 3's first half
    val snap = TxLog.deleteWhere(spark, tbl, "k", 100.0, 249.0)
    assert(snap.op === "delete:where=k,100.0,249.0;kept=1;dropped=1;rewritten=1")
    assert(snap.segments.contains(before.segments.head),
      "disjoint segment must carry forward verbatim")
    assert(!snap.segments.contains(before.segments(1)) &&
      !snap.segments.contains(before.segments(2)))
    assert(snap.segments.size === 2)
    assert(TxLog.read(spark, tbl).collect().map(_.getLong(0)).sorted.toSeq ===
      ((0L until 100L) ++ (250L until 300L)))
    // change feed classifies the version: exactly the 150 removed rows
    val feed = TxLog.changeFeed(spark, tbl, snap.version - 1)
    assert(feed.count() === 150 &&
      feed.filter(col("_change_type") === "delete").count() === 150)
    // time travel still reads the pre-delete snapshot
    assert(TxLog.read(spark, tbl, before.version).count() === 300)
    // a range hitting nothing commits a pure no-op manifest
    val noop = TxLog.deleteWhere(spark, tbl, "k", 5000.0, 6000.0)
    assert(noop.segments === snap.segments)
    assert(noop.op.endsWith(";kept=2;dropped=0;rewritten=0"))
  }

  test("deleteWhere: NULLs block the metadata-only drop — null rows survive a covering range") {
    val tbl = freshTable()
    TxLog.create(spark, tbl,
      Seq((Option(1L), 10L), (Option(2L), 20L), (Option.empty[Long], 30L))
        .toDF("k", "v").coalesce(1))
    val env = TxLog.latest(tbl).stats.values.head.get("k")
    assert(env.exists(!_.noNulls), s"envelope must record nulls-present: $env")
    val snap = TxLog.deleteWhere(spark, tbl, "k", 0.0, 100.0)
    // the range covers the whole envelope, but NULL rows never match a
    // range predicate: the segment must REWRITE, never drop
    assert(snap.op.contains("dropped=0") && snap.op.contains("rewritten=1"))
    val rows = TxLog.read(spark, tbl).collect()
    assert(rows.length === 1 && rows.head.isNullAt(0) && rows.head.getLong(1) === 30L)
  }

  test("merge: COW MERGE INTO — matched update/delete, unmatched insert, kept segments verbatim, CDF classifies all three") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, spark.range(0, 100).selectExpr("id AS k", "id AS v"))
    TxLog.append(spark, tbl, spark.range(100, 200).selectExpr("id AS k", "id AS v"))
    val before = TxLog.latest(tbl)
    // source touches ONLY segment 2's key range: update 150 (+1000),
    // delete 160, insert 1000 — segment 1 must carry forward verbatim
    val source = Seq((150L, 1000L, false), (160L, 0L, true), (1000L, 7L, false))
      .toDF("k", "bump", "kill")
    val snap = TxLog.merge(spark, tbl, source, Seq("k"),
      whenMatchedSet = Map("v" -> (col("v") + col("src_bump"))),
      whenMatchedDelete = Some(col("src_kill")))
    assert(snap.segments.contains(before.segments.head),
      "out-of-range segment must carry forward verbatim")
    assert(snap.op === "merge:keys=k")
    val live = TxLog.read(spark, tbl).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(live(150L) === 1150L && !live.contains(160L) && live(1000L) === -1L)
    assert(live.size === 200) // 200 - 1 deleted + 1 inserted
    // the keyed CDF classifies the whole merge
    val feed = TxLog.changeFeed(spark, tbl, snap.version - 1)
      .groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed === Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "delete" -> 1L, "insert" -> 1L))
    assert(TxLog.fastCount(tbl) === Some(200L))
  }

  test("restore: pure manifest rollback — content equals the target version, history intact, CDF classifies the undo") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, spark.range(0, 100).selectExpr("id AS k", "id AS v"))
    TxLog.append(spark, tbl, spark.range(100, 150).selectExpr("id AS k", "id AS v"))
    val good = TxLog.latest(tbl)                                      // v1
    // the mistake: a bad upsert, a bad COW delete, and a bad dv delete
    TxLog.upsert(spark, tbl, Seq((5L, 5555L)).toDF("k", "v"), Seq("k")) // v2
    TxLog.delete(spark, tbl, col("k") >= 140)                           // v3
    TxLog.deleteRows(spark, tbl, col("k") % 30 === 1)                   // v4 (dv)
    val dataBefore = new java.io.File(tbl, "data").listFiles().length
    val r = TxLog.restore(spark, tbl, good.version)                     // v5
    // nothing was written: pure manifest arithmetic
    assert(new java.io.File(tbl, "data").listFiles().length === dataBefore)
    assert(r.op === s"restore:v=${good.version}" && r.segments === good.segments)
    // content, count arithmetic, and envelopes all equal the target
    assert(TxLog.read(spark, tbl).collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 150L))
    assert(TxLog.fastCount(tbl) === Some(150L))
    // history intact: the mistake versions still time-travel
    assert(TxLog.read(spark, tbl, 4L).count() === 135) // 140 minus 5 dv rows
    // CDF of the restore: the bad versions' effects come back — removed
    // rows re-insert (incl. the dv-dead ones), the bad upsert's value
    // change re-classifies as a multiset delete+insert pair
    val feed = TxLog.changeFeed(spark, tbl, r.version - 1, r.version)
    val ins = feed.filter(col("_change_type") === "insert")
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    val del = feed.filter(col("_change_type") === "delete")
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    val dvDead = (0L until 140L).filter(_ % 30 == 1).map(k => (k, k)).toSet
    assert(ins === ((140L until 150L).map(k => (k, k)).toSet ++ dvDead + ((5L, 5L))))
    assert(del === Set((5L, 5555L)))
    // restoring below the retention floor refuses
    TxLog.vacuum(spark, tbl, retainVersions = 2)
    val e = intercept[IllegalArgumentException] { TxLog.restore(spark, tbl, 0L) }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("materializeVectors: rewrites ONLY dv-carrying segments, clears vectors, preserves rows; noop when clean") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, spark.range(0, 100).selectExpr("id AS k", "id AS v"))
    TxLog.append(spark, tbl, spark.range(100, 200).selectExpr("id AS k", "id AS v"))
    TxLog.append(spark, tbl, spark.range(200, 300).selectExpr("id AS k", "id AS v"))
    // vectors land only on segment 1 (keys < 100)
    TxLog.deleteRows(spark, tbl, col("k") % 30 === 7 && col("k") < 100)
    val dirtyVersion = TxLog.latest(tbl)
    assert(dirtyVersion.dvs.nonEmpty)
    val m = TxLog.materializeVectors(spark, tbl)
    assert(m.op === "materialize_dv:1" && m.dvs.isEmpty)
    // the two clean segments carried forward verbatim
    assert(m.segments.contains(dirtyVersion.segments(1)) &&
      m.segments.contains(dirtyVersion.segments(2)))
    assert(!m.segments.contains(dirtyVersion.segments.head))
    assert(PosixLogStore.read(tbl, f"${m.version}%08d.commit").contains("protocol=1"))
    // rows identical; row-preserving for the feed; counts reconcile
    assert(TxLog.read(spark, tbl).count() === 296) // 7, 37, 67, 97 dead
    assert(TxLog.fastCount(tbl) === Some(296L))
    assert(TxLog.changeFeed(spark, tbl, m.version - 1).count() === 0)
    // already clean: noop keeps the manifest
    val again = TxLog.materializeVectors(spark, tbl)
    assert(again.op === "materialize_dv:noop" && again.segments === m.segments)
  }

  test("vacuumDryRun: reports exactly what the real vacuum then drops; commits nothing") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, 10L)).toDF("k", "v"))
    (1 to 5).foreach(_ => { TxLog.compact(spark, tbl, 1); () }) // strand 5 segments
    val before = TxLog.history(tbl).length
    val (floor, wouldDrop) = TxLog.vacuumDryRun(tbl, retainVersions = 2)
    assert(TxLog.history(tbl).length === before, "dry run must not commit")
    assert(wouldDrop.nonEmpty)
    assert(wouldDrop.forall(d => new java.io.File(tbl, d).exists()))
    val snap = TxLog.vacuum(spark, tbl, retainVersions = 2)
    assert(snap.op === s"vacuum:retainFrom=$floor")
    assert(wouldDrop.forall(d => !new java.io.File(tbl, d).exists()),
      "the real vacuum must drop exactly the dry run's artifact set")
  }

  test("changeFeedAsOf: wall-clock range resolves through skew-monotonized timestamps") {
    val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
    val ops = new TxLogOps(PosixLogStore, clock = () => ticks.addAndGet(1000L))
    val tbl = freshTable()
    ops.create(spark, tbl, Seq((1L, 10L)).toDF("k", "v"))   // v0 ts=1000
    ops.append(spark, tbl, Seq((2L, 20L)).toDF("k", "v"))   // v1 ts=2000
    ops.append(spark, tbl, Seq((3L, 30L)).toDF("k", "v"))   // v2 ts=3000
    ops.append(spark, tbl, Seq((4L, 40L)).toDF("k", "v"))   // v3 ts=4000
    // changes strictly after t=2000 (v1) up to t=3500 (v2): just v2's row
    val mid = ops.changeFeedAsOf(spark, tbl, 2000L, 3500L)
      .collect().map(_.getLong(0)).toSeq
    assert(mid === Seq(3L))
    // open-ended: everything after t=1500 (resolves to v0)
    assert(ops.changeFeedAsOf(spark, tbl, 1500L)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L, 4L))
  }

  test("fastCount: legacy manifests without row counts return None, never a guess") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, spark.range(0, 10).selectExpr("id AS k"))
    assert(TxLog.fastCount(tbl) === Some(10L))
    // a legacy writer's manifest: references the segment, records no counts
    val seg = TxLog.latest(tbl).segments.head
    PosixLogStore.putIfAbsent(tbl, "00000001.commit",
      s"version=1\nop=append\nts=0\nsegment=$seg\n")
    assert(TxLog.fastCount(tbl) === None)
    assert(TxLog.read(spark, tbl).count() === 10) // the scan still works
  }

  test("manifest protocol guard: a future-protocol commit refuses loudly") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, spark.range(0, 10).selectExpr("id AS k"))
    // a hypothetical newer writer claims v1 with a protocol this reader predates
    PosixLogStore.putIfAbsent(tbl, "00000001.commit",
      "version=1\nop=append\nts=0\nprotocol=99\nsegment=data/xyz\n")
    val e = intercept[Exception] { TxLog.read(spark, tbl) }
    assert(e.getMessage.contains("protocol 99"))
  }

  test("readWhereAll: any provably-disjoint column prunes; content equals the unpruned filter") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, spark.range(0, 100).selectExpr("id AS k", "id % 7 AS m"))
    TxLog.append(spark, tbl, spark.range(100, 200).selectExpr("id AS k", "id % 7 + 100 AS m"))
    TxLog.append(spark, tbl, spark.range(200, 300).selectExpr("id AS k", "id % 7 AS m"))
    // k-range admits segments 2 and 3; the m-range THEN excludes segment 2
    val (scanned, skipped) = TxLog.prunedSegmentsAll(tbl,
      Seq(("k", 100.0, 300.0), ("m", 0.0, 6.0)))
    assert(scanned.size === 1 && skipped.size === 2)
    val got = TxLog.readWhereAll(spark, tbl, Seq(("k", 100.0, 250.0), ("m", 0.0, 3.0)))
      .collect().map(_.getLong(0)).sorted.toSeq
    val expect = TxLog.read(spark, tbl)
      .filter(col("k").between(100, 250) && col("m").between(0, 3))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === expect)
  }

  test("string envelopes: footer-recorded, round-trip the manifest, drive string-keyed COW, readWhereStr, deleteWhereStr") {
    val tbl = freshTable()
    def ids(a: Int, b: Int) = spark.range(a, b)
      .selectExpr("concat('doc-', lpad(cast(id AS string), 6, '0')) AS k", "id AS v")
    TxLog.create(spark, tbl, ids(0, 100))
    TxLog.append(spark, tbl, ids(100, 200))
    TxLog.append(spark, tbl, ids(200, 300))
    val snap = TxLog.latest(tbl)
    assert(snap.strStats(snap.segments.head)("k") ===
      StrEnv("doc-000000", "doc-000099", noNulls = true))
    // the envelopes survive the manifest round trip (base64 rendering)
    assert(TxLog.history(tbl).last.strStats === snap.strStats)
    // segment pruning + content equivalence
    val (scanned, skipped) = TxLog.prunedSegmentsStr(tbl, "k", "doc-000120", "doc-000150")
    assert(scanned === Seq(snap.segments(1)) && skipped.size === 2)
    assert(TxLog.readWhereStr(spark, tbl, "k", "doc-000120", "doc-000150")
      .collect().map(_.getLong(1)).sorted.toSeq === (120L to 150L))
    assert(TxLog.readWhereStr(spark, tbl, "k", "zzz", "zzzz").count() === 0)
    // string-keyed COW upsert: the two out-of-range segments carry verbatim
    TxLog.upsert(spark, tbl, Seq(("doc-000150", 9999L)).toDF("k", "v"), Seq("k"))
    val v3 = TxLog.latest(tbl)
    assert(v3.segments.contains(snap.segments.head) &&
      v3.segments.contains(snap.segments(2)),
      "string pre-prune must keep the out-of-range segments verbatim")
    assert(!v3.segments.contains(snap.segments(1)))
    assert(TxLog.read(spark, tbl).filter(col("k") === "doc-000150")
      .head().getLong(1) === 9999L)
    // deleteWhereStr: the rewritten middle segment is now fully covered
    // (drops metadata-only), the first half of segment 3 rewrites, and
    // segment 1 never even lists
    val d = TxLog.deleteWhereStr(spark, tbl, "k", "doc-000100", "doc-000249")
    assert(d.op.endsWith(";kept=1;dropped=1;rewritten=1"), d.op)
    assert(TxLog.read(spark, tbl).collect().map(_.getLong(1)).sorted.toSeq ===
      ((0L until 100L) ++ (250L until 300L)))
  }

  test("deletion vectors: merge-on-read delete, exact CDF, rewrite materialization, vacuum reclaim, protocol 2") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, spark.range(0, 100).selectExpr("id AS k", "id * 10 AS v"))
    TxLog.append(spark, tbl, spark.range(100, 200).selectExpr("id AS k", "id * 10 AS v"))
    val before = TxLog.latest(tbl)
    // scattered delete hits BOTH segments but rewrites NOTHING
    val d1 = TxLog.deleteRows(spark, tbl, col("k") % 50 === 7) // 7,57,107,157
    assert(d1.segments === before.segments, "dv delete must not touch segments")
    assert(d1.dvs.size === 1 && d1.dvs.head._2.size === 2 && d1.op === "delete_dv:segs=2")
    // manifests carrying dvs claim protocol 2 (pre-dv readers refuse
    // instead of resurrecting rows)
    assert(PosixLogStore.read(tbl, f"${d1.version}%08d.commit").contains("protocol=2"))
    assert(TxLog.read(spark, tbl).count() === 196)
    assert(TxLog.read(spark, tbl).filter(col("k") === 57).count() === 0)
    // time travel below the vector still sees the rows
    assert(TxLog.read(spark, tbl, before.version).count() === 200)
    // metadata-only COUNT(*): exact under vectors, and per version
    assert(TxLog.fastCount(tbl) === Some(196L))
    assert(TxLog.fastCount(tbl, before.version) === Some(200L))
    // a second vector composes; already-dead rows never re-enter one
    val d2 = TxLog.deleteRows(spark, tbl, col("k") % 25 === 7) // new: 32,82,132,182
    assert(TxLog.read(spark, tbl).count() === 192)
    assert(TxLog.fastCount(tbl) === Some(192L))
    // CDF: each dv version emits exactly its NEWLY-dead rows, once
    val feed = TxLog.changeFeed(spark, tbl, before.version)
    assert(feed.filter(col("_change_type") =!= "delete").count() === 0)
    assert(feed.filter(col("_commit_version") === d1.version)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(7L, 57L, 107L, 157L))
    assert(feed.filter(col("_commit_version") === d2.version)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(32L, 82L, 132L, 182L))
    // range reads apply the vectors too
    assert(TxLog.readWhere(spark, tbl, "k", 0.0, 40.0).count() === 39) // minus 7, 32
    // upserting a dv-DEAD key finds no live match (discovery is
    // dv-applied): the key RE-INSERTS as fresh data — never resurrects at
    // its old value, and NO segment rewrites for rows that are already dead
    val preIns = TxLog.latest(tbl).segments
    TxLog.upsert(spark, tbl, Seq((7L, 777L)).toDF("k", "v"), Seq("k"))
    assert(TxLog.read(spark, tbl).filter(col("k") === 7).head().getLong(1) === 777L)
    assert(TxLog.read(spark, tbl).count() === 193)
    assert(preIns.forall(TxLog.latest(tbl).segments.contains),
      "a dead-key upsert must not rewrite any segment")
    // a COW upsert of a LIVE key rewrites its segment, and the rewrite
    // MATERIALIZES that segment's tombstones — its dv entries drop from
    // the manifest; the fresh segment's recorded count and the surviving
    // dv counts still reconcile exactly
    TxLog.upsert(spark, tbl, Seq((8L, 888L)).toDF("k", "v"), Seq("k"))
    assert(TxLog.read(spark, tbl).count() === 193)
    assert(TxLog.fastCount(tbl) === Some(193L))
    assert(TxLog.latest(tbl).dvs.values.forall(_.keys.toSeq === Seq(before.segments(1))))
    // compaction materializes every tombstone: dvs cleared, protocol
    // back to 1, zero CDF rows (live rows preserved)
    val c = TxLog.compact(spark, tbl, 2)
    assert(c.dvs.isEmpty)
    assert(PosixLogStore.read(tbl, f"${c.version}%08d.commit").contains("protocol=1"))
    assert(TxLog.read(spark, tbl).count() === 193)
    assert(TxLog.changeFeed(spark, tbl, c.version - 1).count() === 0)
    // vacuum reclaims dv files once only sub-floor manifests reference them
    val dvDirs = d2.dvs.keys.toSeq
    assert(dvDirs.forall(d => new java.io.File(tbl, d).exists()))
    TxLog.vacuum(spark, tbl, retainVersions = 1)
    assert(dvDirs.forall(d => !new java.io.File(tbl, d).exists()),
      "sub-floor dv files must reclaim with their manifests")
    // a delete matching nothing commits nothing
    val n0 = TxLog.history(tbl).length
    TxLog.deleteRows(spark, tbl, col("k") === -999L)
    assert(TxLog.history(tbl).length === n0)
    // keyed erasure (the GDPR surface): victims arrive as a RELATION,
    // matched by a distributed semi-join — zero segments rewritten
    val victims = Seq(11L, 13L, 150L, -5L).toDF("k")
    val beforeKeyed = TxLog.latest(tbl)
    val dk = TxLog.deleteRowsKeyed(spark, tbl, victims, Seq("k"))
    assert(dk.segments === beforeKeyed.segments && dk.dvs.nonEmpty)
    assert(TxLog.read(spark, tbl).count() === 190) // 193 minus 11, 13, 150
    assert(TxLog.read(spark, tbl).filter(col("k").isin(11L, 13L, 150L)).count() === 0)
  }

  test("followAggregate retractions: tracks from-scratch through upserts/deletes; vanished keys leave") {
    val root = TempDirs.create("txfollow_retract_")
    val src = root.resolve("src").toString
    val dstOnce = root.resolve("dstOnce").toString
    val dstEach = root.resolve("dstEach").toString
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    def follow(dst: String, cid: String) =
      TxLog.followAggregate(spark, src, dst, cid, Seq("g"),
        retractWith = Some("n"))(aggOf)
    def stateOf(tbl: String) = TxLog.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

    TxLog.create(spark, src,
      spark.range(0, 40).selectExpr("id AS k", "id % 4 AS g", "id AS v"))     // v0
    assert(follow(dstEach, "each"))
    // upsert: bump v of keys 0..9 by 1000 and insert fresh keys 40..44
    TxLog.upsert(spark, src,
      spark.range(0, 10).selectExpr("id AS k", "id % 4 AS g", "id + 1000 AS v")
        .unionAll(spark.range(40, 45).selectExpr("id AS k", "id % 4 AS g", "id AS v")),
      Seq("k"))                                                               // v1
    assert(follow(dstEach, "each"))
    // delete EVERY row of group 3: the key must LEAVE the follower state
    TxLog.delete(spark, src, col("g") === 3)                                  // v2
    assert(follow(dstEach, "each"))
    TxLog.append(spark, src,
      spark.range(100, 110).selectExpr("id AS k", "id % 2 AS g", "id AS v"))  // v3
    assert(follow(dstEach, "each"))
    // a DELETION-VECTOR delete is just delete rows on the feed: absorbed
    TxLog.deleteRows(spark, src, col("k") % 10 === 2)                         // v4
    assert(follow(dstEach, "each"))
    // a second follower absorbs the whole lifecycle in ONE call
    assert(follow(dstOnce, "once"))
    val expected = aggOf(TxLog.read(spark, src)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(stateOf(dstEach) === expected)
    assert(stateOf(dstOnce) === expected)
    assert(!stateOf(dstEach).exists(_._1 == 3L), "group 3 must vanish from the state")
    // caught up: skipped on both
    assert(!follow(dstEach, "each") && !follow(dstOnce, "once"))
    // retractWith must name a VALUE column of the aggregate
    intercept[IllegalArgumentException] {
      TxLog.append(spark, src, Seq((999L, 0L, 1L)).toDF("k", "g", "v"))
      TxLog.followAggregate(spark, src, dstEach, "each", Seq("g"),
        retractWith = Some("g"))(aggOf)
    }
  }

  test("compound-key COW pre-prune: any key column's envelope keeps a segment out of the discovery scan") {
    // a fresh ops instance isolates the cowScanCount telemetry; the
    // small-table single-pass discovery is disabled so THIS spec keeps
    // pinning the pruning tiers (they only engage above the row
    // threshold in production)
    val ops = new TxLogOps(PosixLogStore) {
      override protected def CowPrunePassRows: Long = 0L
    }
    val tbl = freshTable()
    // two segments with the SAME k range but DISJOINT g ranges: the first
    // key column alone cannot prune segment B; the second can (verdict r9)
    ops.create(spark, tbl, spark.range(0, 50).selectExpr(
      "id AS k", "id AS g", "id AS v"))
    ops.append(spark, tbl, spark.range(0, 50).selectExpr(
      "id AS k", "id + 1000 AS g", "id AS v"))
    val v1 = ops.latest(tbl)
    val Seq(segA, segB) = v1.segments
    val before = ops.cowScanCount.get()
    ops.upsert(spark, tbl, Seq((10L, 10L, 999L)).toDF("k", "g", "v"), Seq("k", "g"))
    // only segment A entered the scan: B was excluded by the g-envelope
    // conjunction, pure manifest arithmetic
    assert(ops.cowScanCount.get() - before === 1L,
      "second key column's envelope must pre-prune segment B")
    val v2 = ops.latest(tbl)
    assert(v2.segments.contains(segB) && !v2.segments.contains(segA))
    val out = ops.read(spark, tbl).filter(col("k") === 10L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((10L, 999L), (1010L, 10L)))
    // compound STRING second key prunes too (utf8 envelopes)
    val tbl2 = freshTable()
    ops.create(spark, tbl2, spark.range(0, 20).selectExpr(
      "id AS k", "concat('aa', id) AS s", "id AS v"))
    ops.append(spark, tbl2, spark.range(0, 20).selectExpr(
      "id AS k", "concat('zz', id) AS s", "id AS v"))
    val b2 = ops.cowScanCount.get()
    ops.upsert(spark, tbl2, Seq((3L, "aa3", 777L)).toDF("k", "s", "v"), Seq("k", "s"))
    assert(ops.cowScanCount.get() - b2 === 1L,
      "string second key column's envelope must pre-prune the zz segment")
    assert(ops.read(spark, tbl2).filter(col("s") === "aa3")
      .collect().map(_.getLong(2)).toSeq === Seq(777L))
    // a NULL in ONE touch key column disables pruning on that column only:
    // (k=3, s=NULL) must still find + replace nothing wrongly — both
    // segments scan (no s-pruning) but only matching rows move
    val b3 = ops.cowScanCount.get()
    ops.upsert(spark, tbl2,
      Seq((Some(3L), Option.empty[String], Some(1L))).toDF("k", "s", "v"),
      Seq("k", "s"))
    assert(ops.cowScanCount.get() - b3 === 2L,
      "NULL-carrying key column must not prune; numeric k column alone cannot split these segments")
    assert(ops.read(spark, tbl2).count() === 41)
  }

  test("small-table COW discovery: single-pass semi-join matches the pruning tiers' answer") {
    // below the row threshold, discovery is ONE scan⋉touch-keys action
    // (no range-stats pass); results must be identical to the pruned
    // flow — touched vs verbatim segments, null-safe key matching, and
    // the empty-touch-keys early exit
    val ops = new TxLogOps(PosixLogStore) // default: fast path at this size
    val tbl = freshTable()
    ops.create(spark, tbl, spark.range(0, 50).selectExpr(
      "id AS k", "id AS g", "id AS v"))
    ops.append(spark, tbl, spark.range(0, 50).selectExpr(
      "id AS k", "id + 1000 AS g", "id AS v"))
    val v1 = ops.latest(tbl)
    val Seq(segA, segB) = v1.segments
    ops.upsert(spark, tbl, Seq((10L, 10L, 999L)).toDF("k", "g", "v"), Seq("k", "g"))
    val v2 = ops.latest(tbl)
    // segment B untouched by content: carried verbatim; A rewritten
    assert(v2.segments.contains(segB) && !v2.segments.contains(segA))
    val out = ops.read(spark, tbl).filter(col("k") === 10L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((10L, 999L), (1010L, 10L)))
    // NULL-safe match: a NULL key component must match NULL rows exactly
    val tbl2 = freshTable()
    ops.create(spark, tbl2,
      Seq((Some(1L), Option.empty[Long], Some(7L)), (Some(2L), Some(5L), Some(8L)))
        .toDF("k", "g", "v"))
    ops.upsert(spark, tbl2,
      Seq((Some(1L), Option.empty[Long], Some(70L))).toDF("k", "g", "v"), Seq("k", "g"))
    assert(ops.read(spark, tbl2).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2)))
      .toSet === Set((1L, -1L, 70L), (2L, 5L, 8L)))
    // empty touch keys: nothing rewrites — every prior segment carries
    // verbatim (the batch itself may land as an empty fresh segment,
    // identically to the pruned flow's early exit) and data is unchanged
    val segsBefore = ops.latest(tbl2).segments
    val dataBefore = ops.read(spark, tbl2).collect().toSet
    ops.upsert(spark, tbl2,
      Seq.empty[(Option[Long], Option[Long], Option[Long])].toDF("k", "g", "v"),
      Seq("k", "g"))
    assert(segsBefore.forall(ops.latest(tbl2).segments.contains),
      "no prior segment may be rewritten by an empty upsert")
    assert(ops.read(spark, tbl2).collect().toSet === dataBefore)
  }

  test("distributed envelopes: a segment above the driver footer cap still records stats and row counts") {
    // tiny cap forces the DISTRIBUTED footer pass on a 4-file segment
    val ops = new TxLogOps(PosixLogStore) {
      override protected def MaxStatFiles: Int = 2
    }
    val tbl = freshTable()
    ops.create(spark, tbl,
      spark.range(0, 400).selectExpr("id AS k", "concat('s', id) AS s").repartition(4))
    val snap = ops.latest(tbl)
    val seg = snap.segments.head
    assert(new java.io.File(s"$tbl/$seg").listFiles()
      .count(_.getName.endsWith(".parquet")) === 4, "fixture needs >cap files")
    // envelopes recorded despite exceeding the driver cap (verdict r9 #4)
    assert(snap.stats(seg)("k") === ColEnv(0.0, 399.0, noNulls = true))
    assert(snap.strStats.get(seg).exists(_.contains("s")))
    assert(ops.fastCount(tbl) === Some(400L))
    // identical to what the driver loop records on the same data
    val tblD = freshTable()
    TxLog.create(spark, tblD,
      spark.range(0, 400).selectExpr("id AS k", "concat('s', id) AS s").repartition(4))
    val snapD = TxLog.latest(tblD)
    assert(snap.stats(seg) === snapD.stats(snapD.segments.head))
    assert(snap.strStats(seg) === snapD.strStats(snapD.segments.head))
    // and the envelopes drive pruning as usual
    val (scanned, skipped) = ops.prunedSegments(tbl, "k", 1000.0, 2000.0)
    assert(scanned.isEmpty && skipped === Seq(seg))
  }

  test("commit rebase: a lost append claim rebases by manifest arithmetic — zero recompute; rewrites still recompute") {
    val inner = new InMemoryLogStore
    // a second writer bound to the RAW store steals exactly one version
    // the moment the tested ops tries to claim it — a deterministic race
    val racing = new TxLogOps(inner)
    val steal = new java.util.concurrent.atomic.AtomicInteger(0)
    val store: LogStore = new LogStore {
      def list(t: String) = inner.list(t)
      def read(t: String, n: String) = inner.read(t, n)
      def putIfAbsent(t: String, n: String, c: String) = {
        if (steal.getAndDecrement() > 0 && n.endsWith(".commit"))
          racing.append(spark, t, Seq((999L, 999L)).toDF("k", "v"))
        inner.putIfAbsent(t, n, c)
      }
      def putPointer(t: String, n: String, c: String) = inner.putPointer(t, n, c)
      def readPointer(t: String, n: String) = inner.readPointer(t, n)
    }
    val ops = new TxLogOps(store)
    val tbl = freshTable()
    ops.create(spark, tbl, Seq((0L, 0L)).toDF("k", "v"))
    // APPEND loses its claim → REBASED onto the racing winner, no recompute
    steal.set(1)
    val (rc0, rb0) = (ops.commitRecomputeCount.get(), ops.commitRebaseCount.get())
    ops.append(spark, tbl, Seq((1L, 1L)).toDF("k", "v"))
    assert(ops.commitRecomputeCount.get() - rc0 === 0L, "append must not recompute")
    assert(ops.commitRebaseCount.get() - rb0 === 1L, "append must rebase once")
    assert(ops.history(tbl).map(_.op) === Seq("create", "append", "append"))
    assert(ops.read(spark, tbl).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(0L, 1L, 999L))
    // keyed APPEND (the stream-sink path) rebases the same way
    steal.set(1)
    val rb1 = ops.commitRebaseCount.get()
    assert(ops.appendStreamBatch(spark, tbl, Seq((2L, 2L)).toDF("k", "v"), "s", 0L))
    assert(ops.commitRebaseCount.get() - rb1 === 1L)
    assert(ops.read(spark, tbl).count() === 5) // 0,1,999,999(second steal),2
    // a REWRITE that loses must RECOMPUTE (the racing append may hold
    // matching keys a rebase would silently miss)
    steal.set(1)
    val (rc2, rb2) = (ops.commitRecomputeCount.get(), ops.commitRebaseCount.get())
    ops.upsert(spark, tbl, Seq((999L, -1L)).toDF("k", "v"), Seq("k"))
    assert(ops.commitRecomputeCount.get() - rc2 === 1L, "lost rewrite must recompute")
    assert(ops.commitRebaseCount.get() - rb2 === 0L)
    // the recompute saw the winner's snapshot: every 999-row replaced by
    // the single update row, INCLUDING the one appended mid-claim (a
    // rebase would have silently left it at 999)
    val live = ops.read(spark, tbl).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(live.count(_ == (999L, -1L)) === 1 && !live.exists(r => r._1 == 999L && r._2 == 999L))
    assert(live.sortBy(_._1).toSeq === Seq((0L, 0L), (1L, 1L), (2L, 2L), (999L, -1L)))
  }

  test("commit rebase: a replay landing mid-rebase turns the keyed commit into a skip (exactly-once)") {
    val inner = new InMemoryLogStore
    val racing = new TxLogOps(inner)
    val steal = new java.util.concurrent.atomic.AtomicInteger(0)
    val store: LogStore = new LogStore {
      def list(t: String) = inner.list(t)
      def read(t: String, n: String) = inner.read(t, n)
      def putIfAbsent(t: String, n: String, c: String) = {
        if (steal.getAndDecrement() > 0 && n.endsWith(".commit")) {
          // the RACING writer commits the SAME (streamId, batchId)
          racing.appendStreamBatch(spark, t, Seq((7L, 7L)).toDF("k", "v"), "s", 5L)
          ()
        }
        inner.putIfAbsent(t, n, c)
      }
      def putPointer(t: String, n: String, c: String) = inner.putPointer(t, n, c)
      def readPointer(t: String, n: String) = inner.readPointer(t, n)
    }
    val ops = new TxLogOps(store)
    val tbl = freshTable()
    ops.create(spark, tbl, Seq((0L, 0L)).toDF("k", "v"))
    steal.set(1)
    // our own attempt at (s, 5) loses to an identical replay: SKIP, not double-apply
    assert(!ops.appendStreamBatch(spark, tbl, Seq((7L, 7L)).toDF("k", "v"), "s", 5L))
    assert(ops.read(spark, tbl).filter(col("k") === 7L).count() === 1)
  }

  test("scoped optimize: only un-clustered segments rewrite; clustered ones carry verbatim; noop when fully clustered") {
    val tbl = freshTable()
    val df = spark.range(4000).selectExpr("id AS k",
      "CAST((id * 2654435761) % 1000 AS DOUBLE) AS a",
      "CAST((id * 40503) % 1000 AS DOUBLE) AS b")
    TxLog.create(spark, tbl, df.repartition(4))
    val v1 = TxLog.optimize(spark, tbl, "a", "b", targetPartitions = 16)  // full
    val clusteredSeg = v1.segments.head
    TxLog.append(spark, tbl, df.selectExpr("k + 10000 AS k", "a", "b"))   // v2
    val before = TxLog.read(spark, tbl).collect().map(_.toString).sorted.toSeq
    // scoped: the v1 clustered segment carries VERBATIM, only v2's appends cluster
    val v3 = TxLog.optimize(spark, tbl, "a", "b", targetPartitions = 16, scoped = true)
    assert(v3.op === "optimize_zorder:a,b")
    assert(v3.segments.contains(clusteredSeg), "clustered segment must carry verbatim")
    assert(!v3.segments.exists(TxLog.history(tbl)(2).segments.filterNot(_ == clusteredSeg).contains),
      "the appended segment must have been re-clustered away")
    assert(TxLog.read(spark, tbl).collect().map(_.toString).sorted.toSeq === before)
    // fully clustered now: a second scoped call commits NOTHING — the
    // snapshot returns unchanged and the log does not grow (a scheduled
    // daily optimize must not accumulate empty versions)
    val v4 = TxLog.optimize(spark, tbl, "a", "b", targetPartitions = 16, scoped = true)
    assert(v4.version === v3.version && v4.segments === v3.segments)
    assert(TxLog.latest(tbl).version === v3.version, "nothing-to-do must not commit")
    // BOTH clustered segments' row groups are tight on both dims
    (v4.segments :+ clusteredSeg).distinct.foreach { seg =>
      Seq("a", "b").foreach { c =>
        val (overlap, total) = ZOrder.overlappingRowGroups(spark, s"$tbl/$seg", c, 100.0, 150.0)
        assert(overlap.toDouble / total <= 0.5, s"$seg not clustered on $c: $overlap/$total")
      }
    }
    // a deletion vector makes a clustered segment dirty: the next scoped
    // optimize re-clusters it AND materializes the tombstones
    TxLog.deleteRows(spark, tbl, col("k") === 17L)                        // v5
    assert(TxLog.latest(tbl).dvs.nonEmpty)
    val v6 = TxLog.optimize(spark, tbl, "a", "b", targetPartitions = 16, scoped = true)
    assert(v6.dvs.isEmpty, "scoped optimize must materialize vectors on dirty segments")
    assert(TxLog.read(spark, tbl).count() === 7999)
  }

  test("versionAt: checkpointed timestamp index keeps resolution parses flat") {
    val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
    val ops = new TxLogOps(new InMemoryLogStore, checkpointInterval = 10,
      clock = () => ticks.addAndGet(1000L))
    val tbl = freshTable()
    ops.create(spark, tbl, Seq((0L, 0L)).toDF("k", "v"))        // v0 ts=1000
    (1 to 39).foreach(i => ops.append(spark, tbl, Seq((i.toLong, 0L)).toDF("k", "v")))
    // version v carries ts=(v+1)*1000; checkpoints at 10/20/30 carry maxTs
    val p0 = ops.manifestParseCount.get()
    assert(ops.versionAt(tbl, 35500L) === 34L)
    val parses = ops.manifestParseCount.get() - p0
    // seeded path: logState tail (<= interval) + scan from cp30 (~5) —
    // never the 40-version full scan
    assert(parses <= 2L * ops.checkpointInterval,
      s"versionAt parsed $parses manifests; expected <= ${2 * ops.checkpointInterval}")
    // exactness across the seeded/unseeded boundary
    assert(ops.versionAt(tbl, 1000L) === 0L)   // before the first checkpoint
    assert(ops.versionAt(tbl, 9999L) === 8L)
    assert(ops.versionAt(tbl, 40000L) === 39L)
    assert(ops.versionAt(tbl, 999999L) === 39L)
    intercept[Exception] { ops.versionAt(tbl, 500L) } // before v0
  }

  test("keyed commit exactly-once: a same-batch commit racing between log listings never double-applies") {
    val inner = new InMemoryLogStore
    val racing = new TxLogOps(inner)
    val listCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var armed = false
    val store: LogStore = new LogStore {
      def list(t: String) = {
        // inject a COMPLETED same-(stream, batch) commit mid-guard: after
        // the version listing, before the claim — the window where a
        // guard-and-base split across two listings would miss the replay
        if (armed && listCalls.incrementAndGet() == 2) {
          armed = false
          racing.appendStreamBatch(spark, t, Seq((7L, 7L)).toDF("k", "v"), "s", 9L)
          ()
        }
        inner.list(t)
      }
      def read(t: String, n: String) = inner.read(t, n)
      def putIfAbsent(t: String, n: String, c: String) = inner.putIfAbsent(t, n, c)
      def putPointer(t: String, n: String, c: String) = inner.putPointer(t, n, c)
      def readPointer(t: String, n: String) = inner.readPointer(t, n)
    }
    val ops = new TxLogOps(store)
    val tbl = freshTable()
    ops.create(spark, tbl, Seq((0L, 0L)).toDF("k", "v"))
    armed = true
    ops.appendStreamBatch(spark, tbl, Seq((7L, 7L)).toDF("k", "v"), "s", 9L)
    assert(ops.read(spark, tbl).filter(col("k") === 7L).count() === 1,
      "racing same-batch commit must be detected, never double-applied")
  }

  test("changeStream bootstraps on a vacuumed source: the initial snapshot clamps to the retention floor") {
    val root = TempDirs.create("txstream_vac_")
    val src = root.resolve("src").toString
    val dst = root.resolve("dst").toString
    TxLog.create(spark, src, Seq((0L, 0L)).toDF("k", "v"))
    (1 to 5).foreach(i => TxLog.append(spark, src, Seq((i.toLong, i.toLong * 10)).toDF("k", "v")))
    TxLog.vacuum(spark, src, retainVersions = 2)
    assert(TxLog.retentionFloor(src) > 1L, "fixture needs a raised floor")
    // trigger bound 2 would bootstrap at version 1 — below the floor —
    // without the clamp; with it, the first batch is the floor snapshot
    val n = TxLog.changeStream(spark, src, dst, "c", maxVersionsPerTrigger = 2)(
      feed => feed.filter(col("_change_type") === "insert").select(col("k"), col("v")))
    assert(n >= 1)
    assert(TxLog.read(spark, dst).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === TxLog.read(spark, src).collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("upsert discovery is dv-applied: a segment whose only matching rows are dv-dead stays verbatim") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, spark.range(0, 10).selectExpr("id AS k", "id AS v"))
    TxLog.append(spark, tbl, spark.range(10, 20).selectExpr("id AS k", "id AS v"))
    val segs = TxLog.latest(tbl).segments
    TxLog.deleteRows(spark, tbl, col("k") === 5L) // dv-kill k=5 in segment A
    // upserting the dv-dead key finds NO live match: both segments carry
    // verbatim and the key re-inserts as fresh data (no wasted rewrite)
    val snap = TxLog.upsert(spark, tbl, Seq((5L, 999L)).toDF("k", "v"), Seq("k"))
    assert(segs.forall(snap.segments.contains),
      "dv-dead-only match must not rewrite the segment")
    val k5 = TxLog.read(spark, tbl).filter(col("k") === 5L)
      .collect().map(_.getLong(1)).toSeq
    assert(k5 === Seq(999L))
  }

  test("changeStream: bounded micro-batches drain exactly-once; dst equals src under ANY batching") {
    val root = TempDirs.create("txstream_")
    val src = root.resolve("src").toString
    def slice(i: Int) = Seq((i.toLong, i.toLong * 10)).toDF("k", "v")
    TxLog.create(spark, src, slice(0))                                   // v0
    (1 to 5).foreach(i => TxLog.append(spark, src, slice(i)))            // v1..v5
    val inserts = (feed: org.apache.spark.sql.DataFrame) =>
      feed.filter(col("_change_type") === "insert").select(col("k"), col("v"))
    // three consumers, three trigger bounds — same destination content
    val batchCounts = Seq(1, 2, 100).map { trig =>
      val dst = root.resolve(s"dst$trig").toString
      val n = TxLog.changeStream(spark, src, dst, s"c$trig", trig)(inserts)
      assert(TxLog.read(spark, dst).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        === (0 to 5).map(i => (i.toLong, i.toLong * 10)).toSet,
        s"dst content must equal src under trigger bound $trig")
      assert(TxLog.changeStream(spark, src, dst, s"c$trig", trig)(inserts) === 0,
        "caught-up drain must commit nothing")
      n
    }
    // trig=1: snapshot@v0 + 5 single-version slices; trig=2: snapshot@v1 +
    // (1,3] + (3,5]; trig=100: one snapshot batch
    assert(batchCounts === Seq(6, 3, 1))
    // new commits resume from the high-water mark, not from scratch
    TxLog.append(spark, src, slice(6))
    val dst2 = root.resolve("dst2").toString
    assert(TxLog.changeStream(spark, src, dst2, "c2", 2)(inserts) === 1)
    assert(TxLog.read(spark, dst2).count() === 7)
  }

  test("optimizeDims: 3-dim Hilbert re-cluster keeps content, scopes like 2-dim, and tightens row groups on EVERY dim") {
    val tbl = freshTable()
    val df = spark.range(6000).selectExpr("id AS k",
      "CAST((id * 2654435761) % 1000 AS DOUBLE) AS a",
      "CAST((id * 40503) % 1000 AS DOUBLE) AS b",
      "CAST((id * 69069) % 1000 AS DOUBLE) AS c")
    TxLog.create(spark, tbl, df.repartition(4))
    val before = TxLog.read(spark, tbl).collect().map(_.toString).sorted.toSeq
    val v1 = TxLog.optimizeDims(spark, tbl, Seq("a", "b", "c"), targetPartitions = 16)
    assert(v1.op === "optimize_zorder:a,b,c")
    assert(TxLog.read(spark, tbl).collect().map(_.toString).sorted.toSeq === before)
    // the clustered layout prunes on EVERY dim, including the third
    v1.segments.foreach { seg =>
      Seq("a", "b", "c").foreach { col =>
        val (overlap, total) = ZOrder.overlappingRowGroups(spark, s"$tbl/$seg", col, 100.0, 150.0)
        assert(overlap.toDouble / total <= 0.6, s"$seg not clustered on $col: $overlap/$total")
      }
    }
    // scoping keys on the dims tuple: the 3-dim clustered segments carry
    // verbatim under a scoped re-run after an append
    TxLog.append(spark, tbl, df.selectExpr("k + 10000 AS k", "a", "b", "c"))
    val v3 = TxLog.optimizeDims(spark, tbl, Seq("a", "b", "c"),
      targetPartitions = 16, scoped = true)
    assert(v1.segments.forall(v3.segments.contains),
      "3-dim clustered segments must carry verbatim under scoped optimize")
    // nothing-to-do: no commit
    val v4 = TxLog.optimizeDims(spark, tbl, Seq("a", "b", "c"),
      targetPartitions = 16, scoped = true)
    assert(v4.version === v3.version)
    // 2-dim delegation unchanged (tag and behavior)
    assert(intercept[IllegalArgumentException] {
      TxLog.optimizeDims(spark, tbl, Seq("a"), 4)
    }.getMessage.contains("2-4 dimensions"))
    assert(intercept[IllegalArgumentException] {
      TxLog.optimizeDims(spark, tbl, Seq("a", "b", "c", "k", "k"), 4)
    }.getMessage.contains("2-4 dimensions"))
  }

  test("concurrent same-id replicators: exactly-once holds under the race, the replica converges") {
    val root = TempDirs.create("txrep_race_")
    val src = root.resolve("src").toString
    val dst = root.resolve("dst").toString
    def slice(i: Int) = Seq((i.toLong, i.toLong * 10)).toDF("k", "v")
    TxLog.create(spark, src, slice(0))                                   // v0
    TxLog.replicate(spark, src, dst, Seq("k"), "race")                   // bootstrap
    (1 to 6).foreach(i => TxLog.append(spark, src, slice(i)))           // v1..v6
    TxLog.upsert(spark, src, Seq((2L, 99L)).toDF("k", "v"), Seq("k"))   // v7
    TxLog.deleteRows(spark, src, col("k") === 3L)                        // v8
    // two replicators of the SAME consumer race through bounded drains:
    // each slice must land exactly once whoever wins each claim
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[Int] {
          def call(): Int =
            TxLog.replicate(spark, src, dst, Seq("k"), "race",
              maxVersionsPerTrigger = 2)
        }))
      val counts = futs.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(counts.sum >= 1, s"nobody advanced: $counts")
    } finally pool.shutdown()
    val got = TxLog.read(spark, dst).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.toSet.size,
      s"rows double-applied: ${got.toSeq.sorted}")
    val live = TxLog.read(spark, src).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live.size === 6 && got.toSet === live,
      s"racing replicators must still converge: got ${got.toSeq.sorted}")
  }

  test("chained replication: a replica of a replica converges (the replica's own feed classifies)") {
    val root = TempDirs.create("txrep_chain_")
    val src = root.resolve("src").toString
    val mid = root.resolve("mid").toString
    val end = root.resolve("end").toString
    def slice(i: Int) = Seq((i.toLong, i.toLong * 10)).toDF("k", "v")
    TxLog.create(spark, src, slice(0))
    TxLog.append(spark, src, slice(1))
    TxLog.replicate(spark, src, mid, Seq("k"), "a")
    TxLog.replicate(spark, mid, end, Seq("k"), "b")
    // mixed ops flow src → mid → end entirely through classified feeds
    TxLog.upsert(spark, src, Seq((1L, 77L)).toDF("k", "v"), Seq("k"))
    TxLog.deleteRows(spark, src, col("k") === 0L)
    TxLog.append(spark, src, slice(2))
    TxLog.replicate(spark, src, mid, Seq("k"), "a")
    TxLog.replicate(spark, mid, end, Seq("k"), "b")
    def rows(t: String) = TxLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(end) === Set((1L, 77L), (2L, 20L)), s"got ${rows(end)}")
    assert(rows(end) === rows(src) && rows(mid) === rows(src))
  }

  test("changeStream refuses a batch built from a stale high-water mark: racing same-id consumers never double-apply") {
    val root = TempDirs.create("txstream_race_")
    val src = root.resolve("src").toString
    val dst = root.resolve("dst").toString
    def slice(i: Int) = Seq((i.toLong, i.toLong * 10)).toDF("k", "v")
    TxLog.create(spark, src, slice(0))                                   // v0
    (1 to 5).foreach(i => TxLog.append(spark, src, slice(i)))           // v1..v5
    val inserts = (feed: org.apache.spark.sql.DataFrame) =>
      feed.filter(col("_change_type") === "insert").select(col("k"), col("v"))
    // r10 ADVICE race: a concurrent SAME-id consumer that observed an
    // OLDER srcLatest commits a SMALLER batch id between our high-water
    // read and our claim. The old guard (txns >= batchId only) passed and
    // the pre-built snapshot batch double-applied the winner's prefix;
    // the stale-mark guard must refuse and re-drain from the fresh mark.
    var injected = false
    TxLog.changeStream(spark, src, dst, "race") { feed =>
      // the first transform invocation is schema derivation during dst
      // bootstrap-create (dst has no versions yet) — inject on the first
      // REAL batch
      if (!injected && TxLog.exists(dst)) {
        injected = true
        assert(TxLog.commitKeyedTransform(spark, dst, "txstream:race", 2L) {
          (base, _) => (Some(TxLog.read(spark, src, 2L)), base.segments)
        }, "the injected concurrent consumer must land first")
      }
      inserts(feed)
    }
    val got = TxLog.read(spark, dst).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 6, s"rows double-applied: ${got.toSeq.sorted}")
    assert(got.toSet === (0 to 5).map(i => (i.toLong, i.toLong * 10)).toSet)
    assert(TxLog.streamHighWater(dst, "txstream:race") === 5L,
      "the refused drain must resume from the winner's mark and catch up")
  }

  test("deleteWhere discovery is dv-applied: a segment whose only in-range rows are dv-dead is not rewritten") {
    val tbl = freshTable()
    // seg A holds k 0..9, seg B holds k 10..19 with NULLs blocking the
    // covered-drop tier (so B lands in the ambiguous scan tier)
    TxLog.create(spark, tbl, spark.range(0, 10).selectExpr("id AS k", "id AS v"))
    TxLog.append(spark, tbl, spark.range(10, 20).selectExpr(
      "id AS k", "IF(id = 10, NULL, id) AS v"))
    // dv-kill the only B rows inside [15, 17]
    TxLog.deleteRows(spark, tbl, col("k") >= 15 && col("k") <= 17)
    val snap = TxLog.deleteWhere(spark, tbl, "k", 15.0, 17.0)
    // no LIVE row matches: zero rewrites, tier split records it (ADVICE r9)
    assert(snap.op.contains("rewritten=0"), s"got op ${snap.op}")
    assert(TxLog.read(spark, tbl).count() === 17)
  }

  /** A snapshot's rows by the regexp + anti-join formula for deletion
    * vectors, built from the manifest alone — the independent reference
    * the position-filter read must equal. Keeps each row's file key and
    * row index as `__f` / `__r`. */
  private def antiJoinPositioned(root: String, snap: TxSnapshot): DataFrame = {
    val base = spark.read.option("mergeSchema", "true")
      .parquet(snap.segments.map(s => s"$root/$s"): _*)
      .withColumn("__f", regexp_extract(col("_metadata.file_path"), "/(data/[^/]+/[^/]+)$", 1))
      .withColumn("__r", col("_metadata.row_index"))
    if (snap.dvs.isEmpty) base
    else base.join(
      spark.read.parquet(snap.dvs.keys.toSeq.map(d => s"$root/$d"): _*)
        .select(col("file").as("__dv_f"), col("row").as("__dv_r")),
      col("__f") === col("__dv_f") && col("__r") === col("__dv_r"), "left_anti")
  }

  private def antiJoinRead(root: String, snap: TxSnapshot): DataFrame =
    antiJoinPositioned(root, snap).drop("__f", "__r")

  /** Multiset-exact row comparison. */
  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$what: ${g.diff(w).take(5)} extra, ${w.diff(g).take(5)} missing")
  }

  test("dv position filter equals the anti-join reference, multiset-exact, split files") {
    val tbl = freshTable()
    val prevSplit = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    try {
      // several row groups per file and every file split across tasks, so
      // row indexes come from row groups that different tasks read
      spark.conf.set("parquet.block.size", "2048")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      def rows(lo: Long) = spark.range(lo, lo + 3000, 1, 2)
        .selectExpr("id AS k", "id * 3 AS v", "concat('s', id) AS s")
      TxLog.create(spark, tbl, rows(0))                                     // v0
      TxLog.append(spark, tbl, rows(3000))                                  // v1
      TxLog.append(spark, tbl, rows(6000))                                  // v2
      val preDv = TxLog.latest(tbl)
      TxLog.deleteRows(spark, tbl, col("k") % 7 === 3)                       // v3
      TxLog.deleteRowsKeyed(spark, tbl,
        spark.range(0, 9000).filter(col("id") % 11 === 5).toDF("k"), Seq("k")) // v4
      TxLog.deleteRows(spark, tbl, col("k") % 13 === 0 && col("k") > 1000)   // v5
      val snap = TxLog.latest(tbl)
      assert(snap.version === 5L && snap.dvs.size === 3 &&
        snap.dvs.values.forall(_.size === 3), snap.dvs)
      val files = snap.segments.flatMap(sg =>
        new java.io.File(tbl, sg).listFiles().filter(_.getName.endsWith(".parquet")))
      assert(TxLog.read(spark, tbl).rdd.getNumPartitions > files.size,
        "files must split across tasks")

      assertSameRows(TxLog.read(spark, tbl), antiJoinRead(tbl, snap), "read")
      assertSameRows(TxLog.readWhere(spark, tbl, "k", 1000.0, 7500.0),
        antiJoinRead(tbl, snap).filter(col("k").between(1000L, 7500L)), "readWhere")
      val hist = TxLog.history(tbl)
      assertSameRows(TxLog.read(spark, tbl, preDv.version), antiJoinRead(tbl, preDv),
        "time travel to the pre-dv version")
      assertSameRows(TxLog.read(spark, tbl, 4L), antiJoinRead(tbl, hist(4)),
        "time travel between vectors")

      TxLog.createBranch(spark, tbl, "b")
      TxLog.deleteRows(spark, s"$tbl#b", col("k") % 17 === 1)
      val branch = TxLog.latest(s"$tbl#b")
      assert(branch.dvs.size === 4)
      assertSameRows(TxLog.read(spark, s"$tbl#b"), antiJoinRead(tbl, branch), "branch read")

      val wantFeed = (3 to 5).map { v =>
        antiJoinRead(tbl, hist(v - 1)).exceptAll(antiJoinRead(tbl, hist(v)))
          .withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(v.toLong))
      }.reduce(_.unionByName(_))
      assertSameRows(TxLog.changeFeed(spark, tbl, preDv.version), wantFeed,
        "changeFeed over the dv versions")

      // keyed erasure of keys every vector already killed commits nothing
      val n0 = TxLog.history(tbl).length
      TxLog.deleteRowsKeyed(spark, tbl, Seq(3L, 10L, 5L, 16L, 1014L).toDF("k"), Seq("k"))
      assert(TxLog.history(tbl).length === n0, "already-dead keys must commit nothing")
      // dead and live keys mixed: the new vector holds exactly the live
      // victims' positions
      val victims = Seq(3L, 5L, 1014L, 1L, 2L, 8999L).toDF("k")
      val wantPos = antiJoinPositioned(tbl, snap).join(victims, Seq("k"), "left_semi")
        .select(col("__f").as("file"), col("__r").as("row"))
      val d = TxLog.deleteRowsKeyed(spark, tbl, victims, Seq("k"))
      val fresh = (d.dvs.keySet -- snap.dvs.keySet).toSeq
      assert(fresh.size === 1 && d.dvs(fresh.head).values.sum === 3L, d.dvs)
      assertSameRows(spark.read.parquet(s"$tbl/${fresh.head}"), wantPos,
        "keyed delete positions")
      assertSameRows(TxLog.read(spark, tbl), antiJoinRead(tbl, d), "read after the keyed delete")
    } finally {
      spark.conf.unset("parquet.block.size")
      prevSplit.fold(spark.conf.unset("spark.sql.files.maxPartitionBytes"))(
        spark.conf.set("spark.sql.files.maxPartitionBytes", _))
    }
  }

  /** Spark jobs `body` starts on this thread. A marker job run after it
    * fences the asynchronous listener bus: once the marker's start is
    * seen, every earlier job start has been delivered. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (probe, marker) = ("graft-probe-" + java.util.UUID.randomUUID(),
      "graft-marker-" + java.util.UUID.randomUUID())
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
        ()
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(probe, "jobs started by the probed body")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(groups.contains(marker), "the listener never saw the marker job")
      groups.asScala.count(_ == probe)
    } finally sc.removeSparkListener(l)
  }

  test("nullability-only schema differences read with zero jobs; added columns merge") {
    val tbl = freshTable()
    val schema = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("v", LongType)))
    def batch(lo: Long) = spark.createDataFrame(spark.sparkContext.parallelize(
      (lo until lo + 50).map(i => Row(i, i * 10)), 2), schema)
    TxLog.create(spark, tbl, batch(0))
    TxLog.append(spark, tbl, batch(50))
    TxLog.upsert(spark, tbl, Seq((5L, -5L)).toDF("k", "v"), Seq("k"))
    // the appended segment's footer says REQUIRED, the rewrite's OPTIONAL
    val conf = spark.sessionState.newHadoopConf()
    val kinds = TxLog.latest(tbl).segments.map { sg =>
      val f = new java.io.File(tbl, sg).listFiles().filter(_.getName.endsWith(".parquet")).head
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf,
        new org.apache.hadoop.fs.Path(f.getAbsolutePath)).getFileMetaData.getSchema
      footer.getType(footer.getFieldIndex("k")).getRepetition.toString
    }
    assert(kinds.toSet === Set("REQUIRED", "OPTIONAL"), kinds)
    val nullable = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    var df: DataFrame = null
    assert(jobsStartedBy { df = TxLog.read(spark, tbl) } === 0)
    assert(df.schema === nullable)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      (0L until 100L).map(i => (i, if (i == 5L) -5L else i * 10)))
    // with a deletion vector the read still builds without a job
    TxLog.deleteRows(spark, tbl, col("k") % 10 === 1)
    assert(jobsStartedBy { df = TxLog.read(spark, tbl) } === 0)
    assert(df.schema === nullable && df.count() === 90L)

    // a REAL schema difference still reads merged: old rows surface NULL
    val t2 = freshTable()
    TxLog.create(spark, t2, Seq((1L, 10L)).toDF("k", "v"))
    TxLog.append(spark, t2, Seq((2L, 20L, "x")).toDF("k", "v", "extra"))
    val merged = TxLog.read(spark, t2)
    assert(merged.columns.toSeq === Seq("k", "v", "extra"))
    assert(merged.collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
      .sortBy(_._1).toSeq === Seq((1L, 10L, None), (2L, 20L, Some("x"))))
  }

  test("PosixLogStore claim: a failing link throws and leaves no temp file behind") {
    val tbl = freshTable()
    val log = new java.io.File(tbl, "_graft_log")
    intercept[java.io.IOException](
      PosixLogStore.putIfAbsent(tbl, "no_such_dir/00000000.commit", "x"))
    assert(log.isDirectory && log.list().isEmpty, log.list().mkString(", "))
    // a won claim and a lost race leave none either
    assert(PosixLogStore.putIfAbsent(tbl, "a.commit", "1"))
    assert(!PosixLogStore.putIfAbsent(tbl, "a.commit", "2"))
    assert(log.list().toSeq === Seq("a.commit"))
    assert(PosixLogStore.read(tbl, "a.commit") === "1")
  }
}
