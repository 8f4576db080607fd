package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.core.Markers
import graft.streaming.{Compaction, EventStreams}

/** Compaction of `batch_id=`-partitioned sink stores: content
  * preservation, file-count reduction, watermark safety, replay
  * interplay, monotone re-compaction, and crash recovery at every
  * phase boundary (claim / build / swap). */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private val fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(tag: String): String = {
    val d = Files.createTempDirectory(tag).toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/store"
  }

  /** A store of `n` batches, 40 rows each, several files per batch
    * (each sink write runs with the session's 4 shuffle partitions). */
  private def mkStore(path: String, n: Int): Unit =
    for (b <- 0 until n)
      EventStreams.idempotentParquetSink(path)(
        spark.range(b * 40, (b + 1) * 40)
          .select(col("id"), (col("id") * 7 % 13).as("v")),
        b.toLong)

  private def contents(path: String): Seq[(Long, Long)] =
    spark.read.parquet(path).select("id", "v").as[(Long, Long)]
      .collect().sorted.toSeq

  private def partDirs(path: String): Set[String] =
    fs.listStatus(new Path(path)).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).toSet

  private def nDataFiles(path: String): Int =
    fs.listStatus(new Path(path)).filter(_.isDirectory)
      .flatMap(d => fs.listStatus(d.getPath))
      .count(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))

  test("compact merges only below the watermark and preserves content") {
    val store = tmp("compact-basic")
    mkStore(store, 6)
    val before = contents(store)
    val filesBefore = nDataFiles(store)
    val stats = Compaction.compact(spark, store, safeBelow = 4).get
    assert(stats.segmentId == 0 && stats.batchesMerged == 4)
    assert(stats.rows == 160) // 4 batches x 40
    assert(partDirs(store) == Set("batch_id=0", "batch_id=4", "batch_id=5"),
      "ids >= safeBelow must be untouched; 0..3 collapse into batch_id=0")
    assert(contents(store) == before, "compaction must be content-neutral")
    assert(nDataFiles(store) < filesBefore,
      s"file count must shrink (before=$filesBefore after=${nDataFiles(store)})")
  }

  test("re-compaction is monotone and a compacted store is a no-op") {
    val store = tmp("compact-mono")
    mkStore(store, 6)
    val before = contents(store)
    assert(Compaction.compact(spark, store, safeBelow = 4).nonEmpty)
    // the segment (min id 0) is itself eligible next time
    val again = Compaction.compact(spark, store, safeBelow = 6).get
    assert(again.segmentId == 0 && again.batchesMerged == 3,
      "segment + batches 4,5 merge into one")
    assert(partDirs(store) == Set("batch_id=0"))
    assert(contents(store) == before)
    assert(Compaction.compact(spark, store, safeBelow = 6).isEmpty,
      "a single at-target segment must be a no-op")
  }

  test("a replayed at-watermark batch stays idempotent after compaction") {
    val store = tmp("compact-replay")
    mkStore(store, 6)
    val before = contents(store)
    Compaction.compact(spark, store, safeBelow = 4)
    // the stream crashes and re-runs batch 4 (>= safeBelow): dynamic
    // overwrite rewrites exactly its own partition — no duplicates
    EventStreams.idempotentParquetSink(store)(
      spark.range(4 * 40, 5 * 40)
        .select(col("id"), (col("id") * 7 % 13).as("v")), 4L)
    assert(contents(store) == before)
  }

  test("safeBelowFromCheckpoint = last commit + 1, 0 when fresh") {
    val cp = tmp("compact-cp").stripSuffix("/store")
    assert(Compaction.safeBelowFromCheckpoint(spark, cp) == 0L)
    fs.mkdirs(new Path(s"$cp/commits"))
    assert(Compaction.safeBelowFromCheckpoint(spark, cp) == 0L)
    for (i <- Seq(0, 1, 2)) Markers.tryCreate(fs, new Path(s"$cp/commits/$i"), "{}")
    assert(Compaction.safeBelowFromCheckpoint(spark, cp) == 3L)
  }

  test("a second live compactor fails loudly at the claim") {
    val store = tmp("compact-claim")
    mkStore(store, 4)
    Markers.tryCreate(fs, new Path(s"$store/_compact_commit"), "other\n0\nbatch_id=0")
    val e = intercept[IllegalStateException] {
      Compaction.compact(spark, store, safeBelow = 4)
    }
    assert(e.getMessage.contains("in flight"))
  }

  test("a failed build releases the claim and leaves the store usable") {
    val store = tmp("compact-buildfail")
    mkStore(store, 4)
    val before = contents(store)
    // a garbage non-parquet file inside an eligible partition makes
    // the merge read fail mid-build
    val junk = new Path(s"$store/batch_id=1/part-junk.parquet")
    Markers.tryCreate(fs, junk, "not parquet")
    intercept[Exception] { Compaction.compact(spark, store, safeBelow = 4) }
    assert(!fs.exists(new Path(s"$store/_compact_commit")),
      "claim must be released on build failure")
    assert(!fs.exists(new Path(s"$store/.compact-scratch")))
    // remove the cause and the store compacts cleanly, no recover() needed
    fs.delete(junk, false)
    assert(Compaction.compact(spark, store, safeBelow = 4).nonEmpty)
    assert(contents(store) == before)
  }

  test("crash before the build completes rolls BACK: sources untouched") {
    val store = tmp("compact-rollback")
    mkStore(store, 4)
    val before = contents(store)
    val dirsBefore = partDirs(store)
    // a claim-holder died mid-build: marker durable, scratch partial
    // (no gen stamp)
    Markers.tryCreate(fs, new Path(s"$store/_compact_commit"),
      "dead-run\n0\nbatch_id=0\nbatch_id=1\nbatch_id=2\nbatch_id=3")
    fs.mkdirs(new Path(s"$store/.compact-scratch"))
    Markers.tryCreate(fs, new Path(s"$store/.compact-scratch/part-junk"), "x")
    assert(Compaction.recover(spark, store))
    assert(partDirs(store) == dirsBefore && contents(store) == before)
    assert(!fs.exists(new Path(s"$store/_compact_commit")))
    assert(!fs.exists(new Path(s"$store/.compact-scratch")))
    // the store is fully usable again
    assert(Compaction.compact(spark, store, safeBelow = 4).nonEmpty)
    assert(contents(store) == before)
  }

  test("crash after build / before swap rolls FORWARD to identical content") {
    for (phase <- Seq("built", "swapping")) {
      val store = tmp(s"compact-fwd-$phase")
      mkStore(store, 6)
      val before = contents(store)
      val boom = intercept[RuntimeException] {
        Compaction.compact(spark, store, safeBelow = 4,
          onPhase = p => if (p == phase) throw new RuntimeException(s"die at $p"))
      }
      assert(boom.getMessage.contains(phase))
      assert(fs.exists(new Path(s"$store/_compact_commit")),
        "the claim must survive the crash")
      assert(contents(store) == before,
        s"readers see intact content while crashed at $phase")
      assert(Compaction.recover(spark, store))
      assert(partDirs(store) == Set("batch_id=0", "batch_id=4", "batch_id=5"))
      assert(contents(store) == before, s"recovered content differs at $phase")
      assert(!fs.exists(new Path(s"$store/_compact_commit")))
    }
  }

  test("recovery is idempotent from a crash after the rename") {
    val store = tmp("compact-fwd-late")
    mkStore(store, 6)
    val before = contents(store)
    // run to completion, then re-create the exact post-rename crash
    // state: marker durable, sources gone, segment in place
    val runGen = {
      Compaction.compact(spark, store, safeBelow = 4).get
      Markers.read(fs, new Path(s"$store/batch_id=0/_graft_gen")).get
    }
    Markers.tryCreate(fs, new Path(s"$store/_compact_commit"),
      s"$runGen\n0\nbatch_id=0\nbatch_id=1\nbatch_id=2\nbatch_id=3")
    assert(Compaction.recover(spark, store))
    assert(contents(store) == before)
    assert(partDirs(store) == Set("batch_id=0", "batch_id=4", "batch_id=5"))
    assert(!fs.exists(new Path(s"$store/_compact_commit")))
    assert(!Compaction.recover(spark, store), "nothing left to do")
  }

  test("crash between source deletion and rename still rolls forward") {
    val store = tmp("compact-fwd-mid")
    mkStore(store, 6)
    val before = contents(store)
    // crash at "swapping", then simulate the swap having deleted ALL
    // sources (including the target-name one) before dying pre-rename
    intercept[RuntimeException] {
      Compaction.compact(spark, store, safeBelow = 4,
        onPhase = p => if (p == "swapping") throw new RuntimeException("die"))
    }
    for (b <- 0 to 3) fs.delete(new Path(s"$store/batch_id=$b"), true)
    assert(Compaction.recover(spark, store))
    assert(contents(store) == before)
    assert(partDirs(store) == Set("batch_id=0", "batch_id=4", "batch_id=5"))
  }

  test("compactTiered merges only full size classes, preserves content, " +
      "and never rewrites a settled segment for one new batch") {
    val store = tmp("compact-tiered")
    mkStore(store, 4)
    val before = contents(store)
    // 4 equal tiny batches share size class 0 -> one merge into id 0
    val first = Compaction.compactTiered(spark, store, safeBelow = 99)
    assert(first.map(s => (s.segmentId, s.batchesMerged)) == Seq((0L, 4)))
    assert(partDirs(store) == Set("batch_id=0"))
    assert(contents(store) == before, "tiered merge must be content-neutral")
    val segStamp = fs.getFileStatus(new Path(store, "batch_id=0"))
      .getModificationTime
    // AMORTIZATION, the reason this variant exists: one new batch must
    // NOT trigger a rewrite of the settled segment (full compact would
    // rewrite everything every cycle - the r18 soak's linear slope)
    EventStreams.idempotentParquetSink(store)(
      spark.range(160, 200).select(col("id"), (col("id") * 7 % 13).as("v")), 4L)
    assert(Compaction.compactTiered(spark, store, safeBelow = 99).isEmpty,
      "a lone new batch must wait for its class to fill")
    assert(fs.getFileStatus(new Path(store, "batch_id=0"))
      .getModificationTime == segStamp, "the settled segment was rewritten")
    // fill class 0 back to fanout: 3 more batches make the class
    // mergeable again (at toy sizes the settled segment shares class 0
    // and may re-merge with them; at real sizes it has promoted out)
    for (b <- 5 until 8)
      EventStreams.idempotentParquetSink(store)(
        spark.range(b * 40, (b + 1) * 40)
          .select(col("id"), (col("id") * 7 % 13).as("v")), b.toLong)
    val second = Compaction.compactTiered(spark, store, safeBelow = 99)
    assert(second.map(_.batchesMerged).sum >= 4)
    assert(contents(store) ==
      spark.range(0, 320).select(col("id"), (col("id") * 7 % 13).as("v"))
        .as[(Long, Long)].collect().sorted.toSeq,
      "tiered cycles must preserve all content")
  }

  test("compactTiered settles empty committed dirs by deletion instead " +
      "of feeding them into a schema-less merge") {
    val store = tmp("compact-empty")
    mkStore(store, 4)
    // the sink writes NO dir for an empty batch (dynamic partition
    // overwrite of zero rows), so marker-only dirs arise only from
    // external damage — fabricate four of them
    for (b <- 4 until 8) {
      val d = new Path(store, s"batch_id=$b")
      fs.mkdirs(d)
      Markers.forceWrite(fs, new Path(d, "_SUCCESS"), "")
    }
    val before = contents(store)
    Compaction.compactTiered(spark, store, safeBelow = 99)
    assert(partDirs(store) == Set("batch_id=0"),
      "empty dirs settled by deletion, data dirs merged into one segment")
    assert(contents(store) == before, "content-neutral")
  }

  test("gate row equals the direct aggregate over events") {
    val dir = "/root/testdata/sf0.001"
    val got = Compaction.compactionGate(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val want = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }
}
