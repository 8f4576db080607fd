package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.streaming.TombstoneStore

/** Direct crash-window coverage for the takedown snapshot store —
  * the windows the store suites' maintenance loops drive only
  * implicitly:
  *
  *   1. a crashed INSTALL (version dir present, `_covers` stamp
  *      missing) never resolves — readers keep serving the previous
  *      version, and the next fold supersedes the orphan;
  *   2. a crash BETWEEN install and source-deletion leaves covered
  *      batch dirs that every read already excludes, and the next
  *      fold settles them by deletion without re-publishing;
  *   3. a replay-recreated covered dir (the exact overwrite shape
  *      that killed the Compaction-based first cut) is invisible to
  *      reads and re-deleted;
  *   4. folds run under the index lease and refuse a dead run's
  *      marker loudly.
  */
class TombstoneStoreSpec extends SparkSpec {
  import spark.implicits._

  private val fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(tag: String): String = {
    val d = Files.createTempDirectory(tag).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def sink(idx: String, ids: Seq[Long], batchId: Long): Unit =
    graft.streaming.EventStreams.idempotentParquetSink(s"$idx/tombstones")(
      ids.toDF("doc_id"), batchId)

  private def readIds(idx: String): Set[Long] =
    TombstoneStore.read(spark, idx, "doc_id")
      .map(_.as[Long].collect().toSet).getOrElse(Set.empty)

  private def batchDirs(idx: String): Set[String] = {
    val p = new Path(s"$idx/tombstones")
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).toSet
  }

  test("fold folds at-or-below purged, reads union snapshot + tail, the " +
      "set never shrinks, and folded dirs retire ONE INSTALL LATE (the " +
      "r19 deferred-deletion retention)") {
    val idx = tmp("tsnap1")
    sink(idx, Seq(1L, 2L), 0L)
    sink(idx, Seq(3L), 1L)
    sink(idx, Seq(4L), 5L) // above the purge stamp: must stay a dir
    TombstoneStore.fold(spark, idx, purged = 1L, "doc_id")
    assert(TombstoneStore.coveredThrough(spark, idx) == 1L)
    // first install: no PREVIOUS covers, so the folded dirs stay on
    // disk (a reader that resolved "no snapshot" still finds them)
    assert(batchDirs(idx) == Set("batch_id=0", "batch_id=1", "batch_id=5"))
    assert(readIds(idx) == Set(1L, 2L, 3L, 4L))
    // second install retires dirs <= the FIRST snapshot's covers (1),
    // keeps its own intake (5) for the v0-holding reader's tail
    TombstoneStore.fold(spark, idx, purged = 5L, "doc_id")
    assert(TombstoneStore.coveredThrough(spark, idx) == 5L)
    assert(batchDirs(idx) == Set("batch_id=5"))
    assert(readIds(idx) == Set(1L, 2L, 3L, 4L))
    // third install retires the second's intake
    sink(idx, Seq(9L), 7L)
    TombstoneStore.fold(spark, idx, purged = 7L, "doc_id")
    assert(TombstoneStore.coveredThrough(spark, idx) == 7L)
    assert(batchDirs(idx) == Set("batch_id=7"))
    assert(readIds(idx) == Set(1L, 2L, 3L, 4L, 9L))
  }

  test("a crashed install (unstamped version dir) never resolves; the " +
      "next fold supersedes it") {
    val idx = tmp("tsnap2")
    sink(idx, Seq(1L), 0L)
    TombstoneStore.fold(spark, idx, purged = 0L, "doc_id")
    // fabricate a crashed install: a half-written higher version with
    // no _covers stamp (the stamp is written INSIDE the scratch before
    // the rename, so a real crash can only leave this shape if the
    // rename itself was interrupted — model the worst case anyway)
    fs.mkdirs(new Path(s"$idx/tombstones_snapshot/v=7"))
    assert(TombstoneStore.coveredThrough(spark, idx) == 0L,
      "an unstamped version must not resolve")
    assert(readIds(idx) == Set(1L))
    // a later fold publishes PAST the orphan (renaming onto it would
    // nest the new snapshot inside, unresolvable) and deletes it as
    // settled debt; reads stay correct throughout
    sink(idx, Seq(2L), 3L)
    TombstoneStore.fold(spark, idx, purged = 3L, "doc_id")
    assert(TombstoneStore.coveredThrough(spark, idx) == 3L)
    assert(readIds(idx) == Set(1L, 2L))
    assert(!fs.exists(new Path(s"$idx/tombstones_snapshot/v=7")),
      "the unstamped orphan must be settled by deletion")
    val stamped = fs.listStatus(new Path(s"$idx/tombstones_snapshot"))
      .map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
    assert(stamped == Seq("v=0", "v=8"),
      s"install must land past every existing v dir, got $stamped")
  }

  test("covered leftover dirs (crash before source-deletion, or a " +
      "replay-recreated dir) are invisible to reads and settle on the " +
      "deferred schedule without re-publishing") {
    val idx = tmp("tsnap3")
    sink(idx, Seq(1L, 2L), 0L)
    sink(idx, Seq(3L), 2L)
    TombstoneStore.fold(spark, idx, purged = 2L, "doc_id")
    val v0 = TombstoneStore.coveredThrough(spark, idx)
    // the replay shape: the sink recreates a folded dir with its
    // original content (same id => same rows, the sink contract)
    sink(idx, Seq(3L), 2L)
    assert(batchDirs(idx) == Set("batch_id=0", "batch_id=2"))
    assert(readIds(idx) == Set(1L, 2L, 3L),
      "a recreated covered dir must not change the served set")
    // a settle-only fold publishes nothing and — with only ONE
    // snapshot version — deletes nothing (a pre-snapshot reader's
    // tail is all dirs)
    val versionsBefore = fs.listStatus(new Path(s"$idx/tombstones_snapshot"))
      .count(_.getPath.getName.startsWith("v="))
    TombstoneStore.fold(spark, idx, purged = 2L, "doc_id")
    assert(batchDirs(idx) == Set("batch_id=0", "batch_id=2"))
    assert(TombstoneStore.coveredThrough(spark, idx) == v0)
    assert(fs.listStatus(new Path(s"$idx/tombstones_snapshot"))
      .count(_.getPath.getName.startsWith("v=")) == versionsBefore,
      "settling leftovers must not publish a new version")
    assert(readIds(idx) == Set(1L, 2L, 3L))
    // the next PUBLISHING fold retires dirs <= v0's covers (2), keeps
    // its own intake; a later settle-only fold keeps that intake too
    // (it is above the previous version's covers)
    sink(idx, Seq(4L), 4L)
    TombstoneStore.fold(spark, idx, purged = 4L, "doc_id")
    assert(batchDirs(idx) == Set("batch_id=4"))
    assert(readIds(idx) == Set(1L, 2L, 3L, 4L))
    TombstoneStore.fold(spark, idx, purged = 4L, "doc_id")
    assert(batchDirs(idx) == Set("batch_id=4"),
      "a settle-only fold must not retire the last install's intake")
    assert(readIds(idx) == Set(1L, 2L, 3L, 4L))
  }

  test("fold refuses a dead run's lease marker loudly") {
    val idx = tmp("tsnap4")
    sink(idx, Seq(1L), 0L)
    val claim = new Path(idx, "_consolidate_commit")
    graft.core.Markers.forceWrite(fs, claim, "dead-run\nconsolidate 9")
    val e = intercept[IllegalStateException] {
      TombstoneStore.fold(spark, idx, purged = 0L, "doc_id")
    }
    assert(e.getMessage.contains("in flight"))
    fs.delete(claim, false)
    TombstoneStore.fold(spark, idx, purged = 0L, "doc_id")
    assert(readIds(idx) == Set(1L))
  }

  test("requireFreshBatchId refuses covered ids and admits fresh ones") {
    val idx = tmp("tsnap5")
    // no snapshot yet: everything is fresh
    TombstoneStore.requireFreshBatchId(spark, idx, 0L)
    sink(idx, Seq(1L), 0L)
    TombstoneStore.fold(spark, idx, purged = 0L, "doc_id")
    val e = intercept[IllegalArgumentException] {
      TombstoneStore.requireFreshBatchId(spark, idx, 0L)
    }
    assert(e.getMessage.contains("fresh"))
    TombstoneStore.requireFreshBatchId(spark, idx, 1L)
  }

  test("requireFreshBatchId floors at the purge stamp too: an id in " +
      "(covers, purged] would fold without ever being physically purged " +
      "(r18 ADVICE) — refused loudly") {
    val idx = tmp("tsnap6")
    sink(idx, Seq(1L), 0L)
    TombstoneStore.fold(spark, idx, purged = 0L, "doc_id") // covers = 0
    // a rebase purged through batch 5; no fold has covered 1..5 yet
    graft.core.Markers.forceWrite(fs, new Path(idx, "_purged"), "5")
    val e = intercept[IllegalArgumentException] {
      TombstoneStore.requireFreshBatchId(spark, idx, 3L)
    }
    assert(e.getMessage.contains("purge stamp 5"))
    TombstoneStore.requireFreshBatchId(spark, idx, 6L)
  }

  test("a reader that resolved the PREVIOUS snapshot version across a " +
      "concurrent fold still serves: its tail dirs survive the install " +
      "(r18 verdict residual #1)") {
    val idx = tmp("tsnap7")
    sink(idx, Seq(1L, 2L), 0L)
    TombstoneStore.fold(spark, idx, purged = 0L, "doc_id") // v0 covers 0
    sink(idx, Seq(3L), 2L)
    sink(idx, Seq(4L), 3L)
    // the reader resolves NOW: snapshot v0, tail = dirs {2, 3}. The
    // file listing is captured at DataFrame construction — exactly the
    // state a serve-time read holds when a fold runs under it.
    val readerPlan = TombstoneStore.read(spark, idx, "doc_id").get
    // concurrent fold: installs v1 (covers 3), retires dirs <= v0's
    // covers (0) — the reader's tail dirs {2, 3} must survive
    TombstoneStore.fold(spark, idx, purged = 3L, "doc_id")
    assert(!fs.exists(new Path(s"$idx/tombstones/batch_id=0")))
    assert(fs.exists(new Path(s"$idx/tombstones/batch_id=2")) &&
      fs.exists(new Path(s"$idx/tombstones/batch_id=3")),
      "the fold must not retire the previous version's tail dirs")
    // action AFTER the fold: no FileNotFound, full exact set
    assert(readerPlan.as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // and a fresh read against the NEW snapshot agrees
    assert(readIds(idx) == Set(1L, 2L, 3L, 4L))
  }

  test("a takedown racing a fold is serialized out by the lease: the " +
      "write refuses while a fold's claim is live, and a fold refuses " +
      "while a writer's claim is live — a low-id takedown can never land " +
      "in a fold's listing-to-install window and be deleted unfolded " +
      "(r18 verdict residual #2)") {
    val idx = tmp("tsnap8")
    sink(idx, Seq(1L), 0L)
    TombstoneStore.fold(spark, idx, purged = 0L, "doc_id")
    // simulate an in-flight fold holding the lease: the guarded write
    // path must refuse rather than read covers and land a dir the
    // fold's listing never saw
    val claim = new Path(idx, "_consolidate_commit")
    graft.core.Markers.forceWrite(fs, claim, "live-fold\ntombstone-fold 9")
    val e1 = intercept[IllegalStateException] {
      TombstoneStore.writeGuarded(Seq(7L).toDF("doc_id"), 4L, idx)
    }
    assert(e1.getMessage.contains("in flight"))
    assert(batchDirs(idx).forall(_ != "batch_id=4"),
      "a refused write must land nothing")
    fs.delete(claim, false)
    // the same lease covers guard+write, so a fold started mid-write
    // refuses symmetrically (fold-refuses-lease is pinned in the dead-
    // marker test; here: the write succeeds once the lease clears and
    // is then visible to the next fold, never silently dropped)
    TombstoneStore.writeGuarded(Seq(7L).toDF("doc_id"), 4L, idx)
    assert(readIds(idx) == Set(1L, 7L))
    TombstoneStore.fold(spark, idx, purged = 4L, "doc_id")
    assert(readIds(idx) == Set(1L, 7L))
  }

  test("a takedown issued mid-maintenance lands without caller-side " +
      "retry: writeGuarded polls the lease within maxWaitMs; the " +
      "zero-budget path still refuses loudly") {
    val idx = tmp("r20-retry") + "/idx"
    TombstoneStore.writeGuarded(Seq(1L).toDF("doc_id"), 0L, idx)
    val claim = new Path(idx, "_consolidate_commit")
    // simulate a live maintenance window that closes after ~400 ms
    graft.core.Markers.forceWrite(fs, claim, "live-fold\ntombstone-fold 9")
    val releaser = new Thread(() => {
      Thread.sleep(400)
      fs.delete(claim, false)
    })
    releaser.start()
    try {
      // zero budget: one attempt, refused while the lease is held
      val e = intercept[IllegalStateException] {
        TombstoneStore.writeGuarded(Seq(7L).toDF("doc_id"), 1L, idx)
      }
      assert(e.getMessage.contains("retry once the lease clears"))
      assert(e.getMessage.contains("delete"),
        "the refusal must carry the dead-claimer recovery runbook")
      // bounded budget: the SAME call shape lands once the window
      // closes — no retry loop at the call site
      TombstoneStore.writeGuarded(Seq(7L).toDF("doc_id"), 1L, idx,
        maxWaitMs = 15000L)
    } finally releaser.join()
    assert(readIds(idx) == Set(1L, 7L))
    // the lease was released by the write itself
    assert(!fs.exists(claim))
  }

  test("SET-mode fold shards the snapshot above the byte threshold: " +
      "multi-file version, reads exact, _covers discipline and the next " +
      "fold unchanged") {
    val idx = tmp("r20-shard") + "/idx"
    TombstoneStore.writeGuarded(
      spark.range(0, 500).select(col("id").as("doc_id")), 0L, idx)
    TombstoneStore.writeGuarded(
      spark.range(400, 900).select(col("id").as("doc_id")), 1L, idx)
    graft.core.Markers.forceWrite(fs, new Path(idx, "_purged"), "1")
    // tiny threshold: the two source dirs' bytes force a multi-file
    // snapshot (the bulk-purge shape, scaled down)
    TombstoneStore.fold(spark, idx, purged = 1L, "doc_id",
      shardBytes = 2048L)
    assert(TombstoneStore.coveredThrough(spark, idx) == 1L)
    val v0 = new Path(idx, "tombstones_snapshot/v=0")
    val parts = fs.listStatus(v0).map(_.getPath.getName)
      .count(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts > 1, s"expected a sharded snapshot, got $parts part file(s)")
    assert(graft.core.Markers.read(fs, new Path(v0, "_covers")).contains("1"))
    assert(readIds(idx) == (0L until 900L).toSet)
    // a later fold READS the sharded snapshot as its base and stays
    // exact (single-file this time: below the default threshold)
    TombstoneStore.writeGuarded(
      spark.range(900, 905).select(col("id").as("doc_id")), 2L, idx)
    graft.core.Markers.forceWrite(fs, new Path(idx, "_purged"), "2")
    TombstoneStore.fold(spark, idx, purged = 2L, "doc_id")
    assert(TombstoneStore.coveredThrough(spark, idx) == 2L)
    assert(readIds(idx) == (0L until 905L).toSet)
  }

  test("ROW-mode fold shards too, preserving the correction row-set and " +
      "batch_id column across the multi-file snapshot") {
    val idx = tmp("r20-shardrow") + "/idx"
    def sinkRows(lo: Long, hi: Long, b: Long): Unit =
      graft.streaming.EventStreams.idempotentParquetSink(s"$idx/tombstones")(
        spark.range(lo, hi).select(col("id").as("doc_id"),
          (col("id") % 7 + 10).as("dl"), lit(0L).as("gen")), b)
    sinkRows(0, 400, 0L)
    sinkRows(400, 800, 1L)
    graft.core.Markers.forceWrite(fs, new Path(idx, "_purged"), "1")
    TombstoneStore.foldRows(spark, idx, purged = 1L, shardBytes = 2048L)
    val v0 = new Path(idx, "tombstones_snapshot/v=0")
    val parts = fs.listStatus(v0).map(_.getPath.getName)
      .count(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts > 1, s"expected a sharded row snapshot, got $parts")
    val rows = TombstoneStore.readRows(spark, idx).get
      .select("doc_id", "dl", "gen", "batch_id")
      .as[(Long, Long, Long, Long)].collect().toSet
    val expected = (0L until 800L).map(i =>
      (i, i % 7 + 10, 0L, if (i < 400) 0L else 1L)).toSet
    assert(rows == expected,
      "the sharded row snapshot must preserve every correction row")
  }
}
